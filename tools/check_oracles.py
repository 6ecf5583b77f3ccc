"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry and its oracle_sql() on the same
parquet tables, compare row count, schema (column names), and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded to 9 significant-ish decimals).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
DEFAULT is the driver-style EXACT gate (floats BIT-equal after
round-to-6 canonicalization). Set SPARK_GRAFT_EXACT=0 to loosen to
allclose(1e-6) — diagnostics only; the driver's gate is bit-equal, and
tolerance mode silently passed the round-1 salted-float bug.
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def compare(
    name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame, exact: bool = False
) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"schema: {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"rows: {len(spark_df)} vs {len(duck_df)}")
        return problems
    a, b = canon(spark_df), canon(duck_df)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if exact and pd.api.types.is_float_dtype(a[c]):
            # driver-style gate: BIT-equal after round(6) canon — the
            # tolerance compare below let a nondeterministic-float bug
            # through in round 1 (salted_user_stats hash fail)
            na, nb = pd.isna(av), pd.isna(bv)
            if not (na == nb).all() or not (
                av[~na].astype(float) == bv[~nb].astype(float)
            ).all():
                bad = np.where(
                    ~((na == nb) & (na | (np.where(na, 0, av).astype(float)
                                          == np.where(nb, 0, bv).astype(float))))
                )[0][:3]
                problems.append(
                    f"col {c} EXACT mismatch at {bad}: {av[bad]} vs {bv[bad]}"
                )
        elif pd.api.types.is_float_dtype(a[c]):
            na, nb = pd.isna(av), pd.isna(bv)
            if not (na == nb).all() or not np.allclose(
                av[~na].astype(float), bv[~nb].astype(float), rtol=1e-6, atol=1e-6
            ):
                bad = np.where(~((na == nb) & (na | np.isclose(np.where(na, 0, av).astype(float), np.where(nb, 0, bv).astype(float), rtol=1e-6, atol=1e-6))))[0][:3]
                problems.append(f"col {c} values differ at {bad}: {av[bad]} vs {bv[bad]}")
        else:
            eq = pd.Series(av).fillna("∅").astype(str).values == pd.Series(bv).fillna("∅").astype(str).values
            if not eq.all():
                bad = np.where(~eq)[0][:3]
                problems.append(f"col {c} values differ at {bad}: {av[bad]} vs {bv[bad]}")
    return problems


def main():
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # query names in the order given, repeats kept: a name given twice
    # runs twice in this process (none given: every query, once)
    only = sys.argv[2:]
    # EXACT is the default: local runs must not silently pass what the
    # driver's bit-equal gate would fail (round-2 lesson). "0" loosens.
    exact = os.environ.get("SPARK_GRAFT_EXACT", "1") == "1"

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from raptor_spark.session import get_spark

    spark = get_spark(app="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    unknown = set(only) - set(qs)
    if unknown:
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        failures += len(unknown)
    names = [n for n in only if n in qs] if only else list(qs)
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf, exact=exact)
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(sdf)} rows): " + "; ".join(problems))
        else:
            print(f"OK   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
