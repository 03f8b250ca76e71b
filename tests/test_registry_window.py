"""Query-registry coverage guard.

``queries()`` returns the registry in declared order; every entry must
carry an ``oracle_sql`` twin so it is graded against DuckDB rather
than by a weaker rows-only check.
"""

from __future__ import annotations


def test_every_query_has_oracle_entry():
    """Every registry entry needs an oracle_sql twin (without one only
    a rows-only check is possible — keep that set empty unless a query
    is genuinely non-SQL-expressible, and document why)."""
    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    oracle = set(entrymod.oracle_sql())
    missing = qs - oracle
    assert missing == set(), (
        f"queries with no oracle_sql entry (add a SQL twin or golden): "
        f"{sorted(missing)}"
    )
