"""Local mimic of the driver's correctness gate: run each __spark_entry__
query and its DuckDB oracle side-by-side, compare row count / columns /
order-insensitive values.  An empty result is a failure.
Usage: python tools/check_contract.py [sf_dir] [names...]"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    for c in sdf.columns:
        ks, ko = sdf[c].dtype.kind, odf[c].dtype.kind
        if ks != ko:
            # The driver hashes RENDERED values, so int64 123 vs float64
            # 123.0 is a hash mismatch even when numerically equal
            # (r4 `sequence_packing` bug: DuckDB window sum(BIGINT) is
            # HUGEINT -> pandas float64).  An integer-vs-float kind flip
            # is therefore a hard FAIL here, mirroring the gate.
            int_kinds = {"i", "u"}
            if (ks in int_kinds and ko == "f") or (ko in int_kinds and ks == "f"):
                errs.append(
                    f"dtype {c}: spark={sdf[c].dtype} oracle={odf[c].dtype} "
                    f"(int-vs-float renders differently; cast the oracle)"
                )
            else:
                print(f"     ⚠ dtype {name}.{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
    if errs:
        return errs
    if len(sdf) != len(odf):
        errs.append(f"row count differ: spark={len(sdf)} oracle={len(odf)}")
    s, o = canon(sdf), canon(odf)
    if len(s) == len(o):
        for c in s.columns:
            a, b = s[c], o[c]
            if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
                af = a.astype(float).to_numpy()
                bf = b.astype(float).to_numpy()
                bad = ~np.isclose(af, bf, rtol=0, atol=0, equal_nan=True)
                if bad.any():
                    i = int(np.flatnonzero(bad)[0])
                    errs.append(f"col {c}: {bad.sum()} value mismatches, e.g. row {i}: {af[i]!r} vs {bf[i]!r}")
            else:
                bad = ~(a.astype(str).to_numpy() == b.astype(str).to_numpy())
                if bad.any():
                    i = int(np.flatnonzero(bad)[0])
                    errs.append(f"col {c}: {bad.sum()} value mismatches, e.g. row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("contract-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failed = []
    import time

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        dt = time.time() - t0
        if len(sdf) == 0:
            # an empty result checks nothing: it fails even when the oracle agrees
            failed.append(name)
            print(f"FAIL {name:26s} empty result  {dt:6.1f}s")
            continue
        if name not in oracles:
            print(f"ok   {name:26s} {len(sdf):7d} rows  {dt:6.1f}s  [rows-only]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: oracle error: {ex}")
            continue
        errs = compare(name, sdf, odf)
        if errs:
            failed.append(name)
            print(f"FAIL {name:26s} {len(sdf):7d} vs {len(odf):7d} rows  {dt:6.1f}s")
            for e in errs[:4]:
                print(f"     {e}")
        else:
            print(f"ok   {name:26s} {len(sdf):7d} rows  {dt:6.1f}s  [oracle-match]")

    print(f"\n{len(failed)} failures: {failed}" if failed else "\nALL MATCH")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
