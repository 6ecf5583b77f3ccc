"""The catalog's table reads and its private scratch files: ``_t`` infers
a table's parquet schema once per file set, and every process writes the
files of the queries that build them (feature store, online store,
stream source dir, REST fixture) into its own directory."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from raptor_spark.queries import QUERIES, _scratch_root, _t
from tests.conftest import jobs_in_group
from tests.test_similarity import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_table_schema_inferred_once_per_file_set(spark, tmp_path):
    """A second read of an unchanged table runs no job (the schema
    comes from the cache); a rewritten table is inferred again and
    reads its new columns."""
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first, n_first = jobs_in_group(spark, "t-first", lambda: _t(spark, str(tmp_path), "t"))
    again, n_again = jobs_in_group(spark, "t-again", lambda: _t(spark, str(tmp_path), "t"))
    assert n_first >= 1 and n_again == 0
    assert again.schema == first.schema
    assert sorted(r["a"] for r in again.collect()) == [1, 2, 3]

    pq.write_table(
        pa.table({"a": [4, 5], "b": ["x", "y"]}), tmp_path / "t.parquet"
    )
    new, n_new = jobs_in_group(spark, "t-new", lambda: _t(spark, str(tmp_path), "t"))
    assert n_new >= 1
    assert new.columns == ["a", "b"]
    assert sorted(tuple(r) for r in new.collect()) == [(4, "x"), (5, "y")]


def test_store_root_is_private_to_its_process(spark, tmp_path):
    """Two processes reading one sf_dir get two scratch roots, a
    process removes its own root (and everything under it) when it
    exits, and every file-writing query writes under its root."""
    sf_dir = str(tmp_path)
    mine = _scratch_root(sf_dir)
    assert _scratch_root(sf_dir) == mine and os.path.isdir(mine)
    other = subprocess.run(
        [sys.executable, "-c",
         "import os, sys; from raptor_spark.queries import _scratch_root; "
         "root = _scratch_root(sys.argv[1]); "
         "os.makedirs(os.path.join(root, 'online', 'fqn=f')); "
         "print(root)", sf_dir],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert other and other != mine
    assert not os.path.exists(other)  # removed at the child's exit
    assert os.path.isdir(mine)

    for name in ("store_read_pit", "online_serve", "stream_dedup", "rest_enrich"):
        QUERIES[name](spark, SF_DIR).count()
    assert sorted(os.listdir(_scratch_root(SF_DIR))) == [
        "online", "rest", "store", "stream_docs",
    ]
