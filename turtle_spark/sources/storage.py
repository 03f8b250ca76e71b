"""Triple-table materialization: subject-hash-bucketed storage.

Logical layout (stage E): triples partitioned by
``bucket = pmod(xxhash64(subject), n_buckets)``.

* All triples of one subject land in one bucket -> subject-centric
  reads (serialization, per-entity queries) touch exactly one
  partition directory.  ``read_subject`` computes the bucket on the
  driver (``functions.hashing.xxh64_str``, byte-compatible with Spark's
  ``xxhash64``) and lists only that ``bucket=<b>`` directory, so a
  point lookup never pays the table-wide listing — a distributed job
  once the table has more directories than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold``.  On a
  local table it also takes the schema from the row schema Spark wrote
  into the parquet footer instead of running an inference job, so a
  lookup is one Spark job: the scan itself.  The bucket directory is
  resolved through the Hadoop filesystem, as Spark resolves it; a
  non-local filesystem keeps Spark's schema inference.
* xxhash64 distributes uniformly, so bucket sizes stay balanced even
  when one namespace dominates the corpus — the skew story for the
  write path.

Backend: Iceberg when a runtime jar is on the classpath
(``writeTo(...).partitionedBy(bucket(N, subject))``), otherwise the
parquet fallback with an explicit bucket column — identical logical
layout, same pruning behavior via partition directories.  The sandbox
has no Iceberg jar, so the fallback is the tested path.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from turtle_spark.functions.hashing import xxh64_str

DEFAULT_BUCKETS = 64

# footer key under which Spark's parquet writer records the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def with_bucket(triples: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return triples.withColumn(
        "bucket", F.pmod(F.xxhash64("subject"), F.lit(n_buckets))
    )


def bucketed(triples: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """``with_bucket`` plus a repartition on the bucket key, the input
    a ``partitionBy("bucket")`` write wants.  Without the repartition
    every upstream task writes a file into every bucket directory
    (tasks x buckets small files — at 1000 executors x 64 buckets that
    is 64k files per commit); with it each bucket is exactly one
    writer's output.  The added exchange replaces the write-side
    fan-out and scales with the cluster."""
    return with_bucket(triples, n_buckets).repartition(n_buckets, "bucket")


def write_triples(
    triples: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
) -> None:
    """Materialize bucketed triple table (parquet layout, one data file
    per bucket directory)."""
    (
        bucketed(triples, n_buckets)
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def write_triples_iceberg(
    triples: DataFrame, table: str, n_buckets: int = DEFAULT_BUCKETS
) -> None:
    """Iceberg path: hidden bucket partitioning on subject.

    Requires ``org.apache.iceberg:iceberg-spark-runtime`` on the
    classpath and a configured catalog; raises otherwise.
    """
    spark = triples.sparkSession
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on classpath; use write_triples (parquet fallback)"
        )
    (
        triples.writeTo(table)
        .partitionedBy(F.bucket(n_buckets, F.col("subject")))
        .createOrReplace()
    )


def bucket_of(subject: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Driver-side ``pmod(xxhash64(subject), n_buckets)``."""
    return xxh64_str(subject) % n_buckets


def _footer_schema(leaf: str) -> StructType | None:
    """The row schema Spark wrote into the footer of a data file in the
    local directory ``leaf``, or None when no such file carries one.
    Spark's own inference reads the same footer, but as a Spark job."""
    name = min((n for n in os.listdir(leaf) if not n.startswith(("_", "."))), default=None)
    if name is None:
        return None
    raw = (pq.read_metadata(os.path.join(leaf, name)).metadata or {}).get(_SPARK_ROW_SCHEMA)
    return StructType.fromJson(json.loads(raw)) if raw else None


def _local_dir(fs, jpath) -> str | None:
    """``jpath`` as a local-disk path when ``fs`` (the Hadoop filesystem
    Spark resolves it with) is the local one, else None."""
    if fs.getUri().getScheme() != "file":
        return None
    return fs.makeQualified(jpath).toUri().getPath()


def read_subject(spark: SparkSession, path: str, subject: str, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Point lookup on a ``write_triples`` table: one Spark job.

    The bucket is computed on the driver and only its ``bucket=<b>``
    directory is listed; ``basePath`` keeps ``bucket`` a partition
    column, and the partition filter stays in the plan.  The directory
    is resolved through the Hadoop filesystem, as Spark resolves it (a
    scheme-less path goes to ``fs.defaultFS``).  When that filesystem
    is the local one, the schema comes from Spark's own footer metadata
    instead of an inference job; on any other, Spark infers it.  A
    missing bucket directory (only possible for an absent subject)
    reads the table root, so the empty result keeps the table's
    schema."""
    leaf = f"{path.rstrip('/')}/bucket={bucket_of(subject, n_buckets)}"
    jleaf = spark._jvm.org.apache.hadoop.fs.Path(leaf)  # noqa: SLF001
    fs = jleaf.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if fs.isDirectory(jleaf):
        reader = spark.read.option("basePath", path)
        local = _local_dir(fs, jleaf)
        schema = _footer_schema(local) if local is not None else None
        if schema is not None:
            reader = reader.schema(schema.add("bucket", IntegerType()))
        df = reader.parquet(leaf)
    else:
        df = spark.read.parquet(path)
    return df.where(
        (F.col("bucket") == F.pmod(F.xxhash64(F.lit(subject)), F.lit(n_buckets)))
        & (F.col("subject") == subject)
    )
