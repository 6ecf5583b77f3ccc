"""Pluggable table-format layer: Iceberg when available, partitioned
parquet otherwise.

The north rule targets an Iceberg transcript table partitioned for the
engine's access patterns (`bucket(conv_id)` co-locates a conversation;
`days(ts)` makes time-range scans a file prune — the reference clusters
its Snowflake history the same way, CLUSTER BY (fqn, timestamp),
``/root/reference/internal/plugins/providers/historical/snowflake/create.go:31``).
This sandbox ships no iceberg-spark-runtime jar, so the layer is
abstracted: every call site uses ``Catalog`` and tests run on the
parquet implementation; on a cluster with the jar + a configured
``spark.sql.catalog.<name>``, the same API emits real Iceberg DDL and
scan-through-catalog reads.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession, catalog: str = "ice") -> bool:
    """True when an Iceberg catalog is usable in this session."""
    try:
        jvm_class = "org.apache.iceberg.spark.SparkCatalog"
        spark._jvm.java.lang.Class.forName(jvm_class)  # noqa: SLF001
    except Exception:
        return False
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


@dataclass
class Catalog:
    """Transcript/feature-table storage facade.

    kind='iceberg': tables are ``<catalog>.<namespace>.<name>``; writes
    create with PARTITIONED BY (bucket(n, conv_id), days(ts)) and
    appends go through ``writeTo``.
    kind='parquet': tables are directories under ``root``; the
    partition spec degrades to hive dirs on (pbucket, pday) derived
    columns — same pruning behavior for the engine's two predicates
    (key equality via bucket, ts range via day).
    """

    spark: SparkSession
    root: str = ""
    kind: str = "parquet"
    catalog: str = "ice"
    namespace: str = "raptor"
    n_buckets: int = 64

    def __post_init__(self):
        if self.kind == "iceberg" and not iceberg_available(self.spark, self.catalog):
            raise RuntimeError(
                "iceberg runtime/catalog not configured in this session"
            )

    # -- identifiers ---------------------------------------------------
    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    # -- write ---------------------------------------------------------
    def write_transcripts(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        """Write with the engine partition spec (bucket(conv_id), days(ts))."""
        if self.kind == "iceberg":
            ident = self._ident(name)
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {ident} "
                f"USING iceberg PARTITIONED BY "
                f"(bucket({self.n_buckets}, conv_id), days(ts)) "
                f"AS SELECT * FROM {{src}} WHERE 1=0",
                src=df,
            )
            w = df.writeTo(ident)
            (w.overwritePartitions() if mode == "overwrite" else w.append())
            return
        out = df.withColumns(
            {
                "pbucket": F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)),
                "pday": F.to_date("ts"),
            }
        )
        (
            out.repartition("pbucket")
            .sortWithinPartitions("conv_id", "ts")
            .write.mode(mode)
            .partitionBy("pbucket", "pday")
            .parquet(self._path(name))
        )

    def write_feature_values(self, fv: DataFrame, name: str, mode: str = "append") -> None:
        """Historical feature-values sink (S7/S8): the canonical long
        relation (fqn, keys, ts, value ...) laid out for the two read
        patterns — per-feature scans (fqn partition, one-file-per-FQN
        analog of ``parquet/writer.go:36-49``) and time-range pruning
        (``days(ts)``, the Snowflake CLUSTER BY (fqn, timestamp)
        analog)."""
        if self.kind == "iceberg":
            ident = self._ident(name)
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {ident} USING iceberg "
                f"PARTITIONED BY (fqn, days(ts)) AS "
                f"SELECT * FROM {{src}} WHERE 1=0",
                src=fv,
            )
            fv.writeTo(ident).append()
            return
        (
            fv.withColumn("pday", F.to_date("ts"))
            .repartition("fqn")
            .sortWithinPartitions("keys", "ts")
            .write.mode(mode)
            .partitionBy("fqn", "pday")
            .parquet(self._path(name))
        )

    # -- read ----------------------------------------------------------
    def read(self, name: str, with_partition_cols: bool = False) -> DataFrame:
        """``with_partition_cols=True`` keeps the layout's pbucket/pday
        columns — pass pbucket as ``backfill(shard_col=...)`` so each
        wave's scan partition-prunes to its shards' share of the files."""
        if self.kind == "iceberg":
            return self.spark.table(self._ident(name))
        df = self.spark.read.parquet(self._path(name))
        return df if with_partition_cols else df.drop("pbucket", "pday")

    def read_feature_values(
        self, name: str, fqns: list[str], value_type: str = "double"
    ) -> DataFrame:
        """Read the long feature-values relation for the given fqns —
        the ``fqn`` hive partition prunes the scan to those features'
        files (the reference's per-feature CTE WHERE FQN=... over the
        clustered table, featureset.tmpl.sql:95-100). ``value_type``:
        the stored value type for THESE fqns (schema is declared, not
        inferred — different features legally store different value
        types in their own partitions, and cross-partition inference
        would pick one at random)."""
        if self.kind == "iceberg":
            df = self.spark.table(self._ident(name))
        else:
            df = self.spark.read.schema(
                f"fqn string, keys string, ts timestamp, value {value_type}, "
                "pday date"
            ).option("basePath", self._path(name)).parquet(self._path(name))
        return df.filter(F.col("fqn").isin(fqns)).drop("pday")
