#!/usr/bin/env python
"""Catalog scale sweep: every registered query at 1× and at N×.

Runs each ``raptor_spark.queries.QUERIES`` builder, unmodified, on the
sf0.1 tables and on an N-fold copy of them, and prints a per-query
N×/1× ratio table (markdown) followed by one JSON line. Each query and
size runs once and records its wall time, output rows, Spark jobs and
shuffle read/write bytes. Jobs and bytes come from the query's job
group, which is set before the builder runs, so driver-side jobs fired
while the DataFrame is built count too. A query that raises
records its error; the sweep goes on.

The N× copy is built once under /tmp/scale_sweep_x{N} and reused. Each
fact table holds N replicas (``REPLICATE``): replica r offsets the id
columns by r × STRIDE and, for r > 0, permutes the words of a text (or
the components of an embedding) by xxhash64(id, r, position). Token
counts, stopword hits, char ratios and vector norms stay; shingles and
cosines to the original do not, so dedup queries see no r-cliques.
Replica 0 is the 1× table, so filters such as ``vec_id < 5`` select the
same originals. Dimension tables are copied unchanged.

A query is flagged when its shuffle-write bytes grow more than 1.5 × N
or its job count grows.

    python tools/scale_sweep.py [--mult 10]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from bench import _force
from raptor_spark.queries import QUERIES
from raptor_spark.session import get_spark
from tools.scaling_bench import _stage_totals

SRC = "/root/testdata/sf0.1"
STRIDE = 1_000_000_000

# fact table -> (id columns offset per replica, column permuted per
# replica). One stride for every table keeps the foreign keys
# (o_custkey -> c_custkey, l_orderkey -> o_orderkey) joinable within a
# replica. Tables not listed (nation, region, part, supplier) are
# dimensions, copied once.
REPLICATE = {
    "documents": (("doc_id",), "text"),
    "embeddings": (("vec_id",), "embedding"),
    "events": (("event_id", "user_id"), None),
    "customer": (("c_custkey",), None),
    "orders": (("o_orderkey", "o_custkey"), None),
    "lineitem": (("l_orderkey",), None),
}


def _permute(arr, seed, rep: int):
    """The elements of ``arr`` reordered by xxhash64(seed, rep, position)."""
    keyed = F.transform(
        arr, lambda v, i: F.struct(F.xxhash64(seed, F.lit(rep), i).alias("h"), v.alias("v"))
    )
    return F.transform(F.array_sort(keyed), lambda s: s["v"])


def replica(df: DataFrame, table: str, rep: int) -> DataFrame:
    """Replica ``rep`` of ``table`` (replica 0 is ``df`` itself)."""
    ids, permuted = REPLICATE[table]
    if rep == 0:
        return df
    seed = F.col(ids[0])
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.name in ids:
            c = c + F.lit(rep * STRIDE)
        elif f.name == permuted and isinstance(f.dataType, StringType):
            c = F.array_join(_permute(F.split(c, " "), seed, rep), " ")
        elif f.name == permuted:
            c = _permute(c, seed, rep)
        cols.append(c.alias(f.name))
    return df.select(*cols)


def build(spark, src: str, mult: int, out: str) -> str:
    """Write the ``mult``-fold copy of the tables in ``src`` to ``out``
    (skipped when ``out`` exists). Each replica keeps the source's file
    layout, so the copy has ``mult`` times the files of every fact table."""
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    for name in sorted(os.listdir(src)):
        table = name.removesuffix(".parquet")
        df = spark.read.parquet(f"{src}/{name}")
        reps = [replica(df, table, r) for r in range(mult)] if table in REPLICATE else [df]
        functools.reduce(DataFrame.unionByName, reps).write.parquet(f"{tmp}/{name}")
    os.rename(tmp, out)
    return out


def measure(spark, name: str, sf_dir: str) -> dict:
    """Run ``QUERIES[name]`` on ``sf_dir`` once: its wall, rows, jobs
    and shuffle bytes, or its error."""
    sc = spark.sparkContext
    group = f"scale_sweep {name} {sf_dir}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        rows = _force(QUERIES[name](spark, sf_dir))
    except Exception as e:  # one failing query must not end the sweep
        traceback.print_exc()
        return {"error": f"{type(e).__name__}: {str(e).strip().splitlines()[0][:160]}",
                "wall_s": round(time.perf_counter() - t0, 3)}
    wall = time.perf_counter() - t0
    tot = _stage_totals(spark, group)
    return {
        "rows": rows,
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "shuffle_read_bytes": tot["shuffle_read"],
        "shuffle_write_bytes": tot["shuffle_write"],
        "wall_s": round(wall, 3),
    }


def _ratio(a, b) -> str:
    return f"{b / a:.2f}" if a else "—"


def flags(one: dict, big: dict, mult: int) -> list[str]:
    """Why a query's N× run (``big``) grew faster than its data."""
    if "error" in one or "error" in big:
        return ["error"]
    out = []
    if big["shuffle_write_bytes"] > 1.5 * mult * one["shuffle_write_bytes"]:
        out.append("shuffle")
    if big["jobs"] > one["jobs"]:
        out.append("jobs")
    return out


def table(results: dict, mult: int) -> str:
    lines = [
        f"| query | wall 1× s | wall {mult}× s | wall ratio | rows ratio | jobs 1×→{mult}× "
        f"| shuffle write 1× MB | {mult}× MB | shuffle ratio | flag |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        one, big = r["1x"], r[f"{mult}x"]
        if "error" in one or "error" in big:
            err = one.get("error") or big.get("error")
            lines.append(f"| {name} | {one.get('wall_s', '—')} | {big.get('wall_s', '—')} "
                         f"| | | | | | | error: `{err}` |")
            continue
        lines.append(
            f"| {name} | {one['wall_s']} | {big['wall_s']} | {_ratio(one['wall_s'], big['wall_s'])} "
            f"| {_ratio(one['rows'], big['rows'])} | {one['jobs']}→{big['jobs']} "
            f"| {one['shuffle_write_bytes'] / 1e6:.3f} | {big['shuffle_write_bytes'] / 1e6:.3f} "
            f"| {_ratio(one['shuffle_write_bytes'], big['shuffle_write_bytes'])} "
            f"| {' '.join(r['flags'])} |"
        )
    return "\n".join(lines)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--mult", type=int, default=10)
    args = p.parse_args()

    spark = get_spark(app="scale_sweep")
    try:
        big_dir = build(spark, SRC, args.mult, f"/tmp/scale_sweep_x{args.mult}")
        results = {}
        for name in QUERIES:
            r = {"1x": measure(spark, name, SRC),
                 f"{args.mult}x": measure(spark, name, big_dir)}
            r["flags"] = flags(r["1x"], r[f"{args.mult}x"], args.mult)
            results[name] = r
            print(name, json.dumps(r), file=sys.stderr, flush=True)
        print(table(results, args.mult))
        print(json.dumps({"mult": args.mult, "queries": results}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
