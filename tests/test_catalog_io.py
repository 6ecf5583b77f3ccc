"""The catalog's table reads and its private feature store: ``_t`` infers
a table's parquet schema once per file set, and every process writes
``store_read_pit``'s store into its own directory."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from raptor_spark.queries import _store_root, _t

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_schema_inferred_once_per_file_set(spark, tmp_path):
    """A second read of an unchanged table runs no job (the schema
    comes from the cache); a rewritten table is inferred again and
    reads its new columns."""
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first, n_first = _jobs(spark, "t-first", lambda: _t(spark, str(tmp_path), "t"))
    again, n_again = _jobs(spark, "t-again", lambda: _t(spark, str(tmp_path), "t"))
    assert n_first >= 1 and n_again == 0
    assert again.schema == first.schema
    assert sorted(r["a"] for r in again.collect()) == [1, 2, 3]

    pq.write_table(
        pa.table({"a": [4, 5], "b": ["x", "y"]}), tmp_path / "t.parquet"
    )
    new, n_new = _jobs(spark, "t-new", lambda: _t(spark, str(tmp_path), "t"))
    assert n_new >= 1
    assert new.columns == ["a", "b"]
    assert sorted(tuple(r) for r in new.collect()) == [(4, "x"), (5, "y")]


def test_store_root_is_private_to_its_process(tmp_path):
    """Two processes reading one sf_dir get two store roots, and a
    process removes its own root when it exits."""
    sf_dir = str(tmp_path)
    mine = _store_root(sf_dir)
    assert _store_root(sf_dir) == mine and os.path.isdir(mine)
    other = subprocess.run(
        [sys.executable, "-c",
         "import sys; from raptor_spark.queries import _store_root; "
         "print(_store_root(sys.argv[1]))", sf_dir],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert other and other != mine
    assert not os.path.exists(other)  # removed at the child's exit
    assert os.path.isdir(mine)
