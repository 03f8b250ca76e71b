"""Driver-compare rehearsal at an arbitrary SF.

Replicates the driver's correctness gate (row count + sorted-column
schema + exact values vs the DuckDB oracle) at ``sf0.01`` — the SF the
driver actually grades — for a chosen slice of the registry.  The
pytest mirror (tests/test_oracle_parity.py) runs every query at
sf0.001 on every run; this tool rehearses the same check at the graded
SF for every query, or for the named ones.

Run: ``python tools/crosscheck.py [sf_dir] [name ...]``
"""

from __future__ import annotations

import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _normalize(df):
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif str(out[c].dtype) in ("UInt64", "uint64"):
            out[c] = out[c].astype("int64")
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )
    return out


def main() -> None:
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from turtle_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    names: list[str] = []
    for arg in sys.argv[1:]:
        if arg.startswith("/"):
            sf_dir = arg
        else:
            names.append(arg)

    sf_tag = "sf0.01" if sf_dir.endswith("sf0.01") else pathlib.Path(sf_dir).name
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql(golden_sf=sf_tag)
    if not names:
        names = list(qs)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark(app_name="crosscheck", cores=8, shuffle_partitions=16)

    failed = []
    try:
        _run_all(names, qs, oracles, spark, sf_dir, con, failed)
    finally:
        # both exit paths shut the JVM down cleanly (the failure path
        # previously sys.exit'ed with the session still live)
        spark.stop()
    print(f"\n{len(names) - len(failed)}/{len(names)} green")
    if failed:
        print("FAILED:", ", ".join(failed))
        sys.exit(1)


def _run_all(names, qs, oracles, spark, sf_dir, con, failed):
    import pandas as pd

    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"{name}: rows-only ({len(sdf)} rows) "
                      f"[{time.time()-t0:.1f}s]")
                continue
            odf = con.execute(oracles[name]).df()
            assert sorted(sdf.columns) == sorted(odf.columns), (
                f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            )
            assert len(sdf) == len(odf), f"rows {len(sdf)} vs {len(odf)}"
            pd.testing.assert_frame_equal(
                _normalize(sdf), _normalize(odf),
                check_dtype=True, check_exact=True,
            )
            print(f"{name}: OK ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
        except Exception as exc:  # noqa: BLE001 — report-all rehearsal
            failed.append(name)
            msg = str(exc).replace("\n", " ")[:300]
            print(f"{name}: FAIL — {msg}")


if __name__ == "__main__":
    main()
