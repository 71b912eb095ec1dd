"""Driver-contract consistency guards (no Spark session needed)."""

from __future__ import annotations

import __spark_entry__ as E

# ops that are genuinely non-SQL-expressible → rows-only by design
# (the LSH/IVF ANN queries graduated to full oracles in round 2: their
# planes/centroids are md5-derived, so DuckDB reproduces them exactly)
KNOWN_ROWS_ONLY = {
    "hll_distinct_per_source",
    "cms_top_tokens",
    "kll_nchars_quantiles",
    "tdigest_nchars_quantiles",
    "bloom_correct_queries",
}


def test_every_oracle_has_a_query():
    qs, os_ = set(E.queries()), set(E.oracle_sql())
    assert os_ <= qs, f"oracles without queries: {os_ - qs}"


def test_rows_only_set_is_exactly_the_known_one():
    qs, os_ = set(E.queries()), set(E.oracle_sql())
    rows_only = qs - os_
    assert rows_only == KNOWN_ROWS_ONLY, (
        f"unexpected rows-only queries (add an oracle or whitelist): "
        f"{rows_only ^ KNOWN_ROWS_ONLY}"
    )


def test_oracle_checked_queries_precede_rows_only():
    """A contract gate that records only the first N registry entries must
    see every oracle-checked query, so none may follow a rows-only one."""
    names, oracles = list(E.queries()), set(E.oracle_sql())
    last_oracle = max(i for i, n in enumerate(names) if n in oracles)
    first_rows_only = min(i for i, n in enumerate(names) if n not in oracles)
    assert last_oracle < first_rows_only, names[first_rows_only : last_oracle + 1]


def _empty_views(con) -> None:
    """Empty views with the production schemas — enough for parse and
    output-type checks; shared by the two oracle-audit tests so a schema
    change can't drift them apart."""
    con.execute('create view documents as select 1::bigint doc_id, \'\'::varchar as "text", \'\'::varchar lang, \'\'::varchar source, 0::bigint n_chars where 1=0')
    con.execute('create view embeddings as select 1::bigint vec_id, []::float[] embedding, 0::int as "label" where 1=0')
    con.execute('create view events as select 1::bigint event_id, now()::timestamp ts, 1::bigint user_id, \'\'::varchar event_type, 0.0::double as "value", \'\'::varchar props where 1=0')
    con.execute("create view lineitem as select 1::bigint l_orderkey, 1::bigint l_partkey, 1::bigint l_suppkey, 1::int l_linenumber, 0.0::double l_quantity, 0.0::double l_extendedprice, 0.0::double l_discount, 0.0::double l_tax, ''::varchar l_returnflag, ''::varchar l_linestatus, now()::timestamp l_shipdate where 1=0")
    con.execute("create view orders as select 1::bigint o_orderkey, 1::bigint o_custkey, ''::varchar o_orderstatus, 0.0::double o_totalprice, now()::timestamp o_orderdate, ''::varchar o_orderpriority where 1=0")
    con.execute("create view customer as select 1::bigint c_custkey, ''::varchar c_name, 1::bigint c_nationkey, 0.0::double c_acctbal, ''::varchar c_mktsegment where 1=0")
    con.execute("create view nation as select 1::bigint n_nationkey, ''::varchar n_name, 1::bigint n_regionkey where 1=0")


def test_oracle_sql_is_syntactically_valid_duckdb():
    import duckdb

    con = duckdb.connect()
    _empty_views(con)
    for name, sql in E.oracle_sql().items():
        try:
            con.sql(sql).df()
        except Exception as ex:  # noqa: BLE001
            raise AssertionError(f"oracle {name} failed on empty views: {ex}") from ex


def test_no_oracle_emits_hugeint_or_decimal():
    """DuckDB HUGEINT/DECIMAL land in pandas as float64/object, so an
    integer Spark column vs such an oracle column hash-mismatches at the
    driver even when numerically equal (the r4 `sequence_packing` red row:
    window sum(BIGINT) -> HUGEINT -> 123.0 vs 123).  Every oracle must cast
    sums/window-sums to BIGINT."""
    import duckdb

    con = duckdb.connect()
    _empty_views(con)
    bad = []
    for name, sql in E.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ)
            if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
                bad.append((name, col, t))
    assert not bad, f"oracle columns with hash-poison types (cast to BIGINT): {bad}"


def test_check_contract_mimic_fails_on_int_vs_float_dtype():
    """The local gate mimic must FAIL (not warn) when Spark emits int64 and
    the oracle float64 — the driver hashes rendered values, so 123 != 123.0."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_contract import compare

    sdf = pd.DataFrame({"k": pd.array([1, 2], dtype="int64"), "v": pd.array([10, 20], dtype="int64")})
    odf = pd.DataFrame({"k": pd.array([1, 2], dtype="int64"), "v": pd.array([10.0, 20.0], dtype="float64")})
    errs = compare("fixture", sdf, odf)
    assert errs and any("dtype" in e for e in errs), errs
    # and identical frames still pass
    assert compare("fixture", sdf, sdf.copy()) == []
