"""Declarative feature specs — the engine's "logical plan" surface.

Mirrors the reference LabSDK's decorator metadata
(``/root/reference/labsdk/raptor/decorators.py:364-527``,
``/root/reference/labsdk/raptor/types/feature.py:132-250``) but the
"program" is a **Spark Column expression** (a SQL expr string or a
callable ``DataFrame -> Column``), never per-row Python — the per-row
handler of the reference (``program.py:210-322``) is replaced by
declarative columns so Catalyst can codegen them. Complex handlers may
supply a vectorized ``pandas_udf`` column instead.

A FeatureSpec compiles (see ``plans/replay.py``) to a long
"feature-values" DataFrame with the reference's canonical layout
(``replay.py:117-127``, ``parquet/schema.go:25-51``)::

    fqn: string, keys: string, ts: timestamp, value: <typed>
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame

from .durations import parse_duration_us
from .selector import DEFAULT_NAMESPACE

# aggregation functions, reference enum: labsdk/raptor/types/feature.py:55-74,
# api/windows.go:34-41 (core lacks distinct_count; labsdk adds it)
AGGR_FNS = (
    "count",
    "sum",
    "avg",
    "min",
    "max",
    "distinct_count",
    "approx_distinct_count",
)

# Expression: SQL string ('length(text)') or callable df -> Column.
ExprLike = Union[str, Callable[[DataFrame], Column]]


@dataclass(frozen=True)
class AggrSpec:
    """Sliding-window aggregation request.

    ``over`` = window span (== staleness for windowed features,
    feature.py:159-164); ``granularity`` = bucket size for the
    two-phase path (api/windows.go:96-113). Reference rule: granularity
    overrides freshness (decorators.py:457-459).
    """

    fns: tuple[str, ...]
    over_us: int
    granularity_us: int

    def __post_init__(self):
        for fn in self.fns:
            if fn not in AGGR_FNS:
                raise ValueError(f"unknown aggregation fn: {fn}")
        if self.over_us <= 0:
            raise ValueError("aggregation window 'over' must be positive")
        if self.granularity_us <= 0:
            raise ValueError("aggregation 'granularity' must be positive")

    @property
    def n_buckets(self) -> int:
        """Alive-bucket count = ceil(over/granularity), api/windows.go:116-125."""
        return -(-self.over_us // self.granularity_us)


@dataclass(frozen=True)
class KeepPreviousSpec:
    """keep_previous(versions, over) — decorators.py:339-361."""

    versions: int
    over_us: int  # 0 = keep until next update


@dataclass(frozen=True)
class FeatureSpec:
    """One feature definition.

    value semantics per the reference: a keyed, timestamped scalar
    derived from each source row (feature.py:132-250). ``expr`` is
    evaluated against the source DataFrame; rows where it is NULL are
    dropped (implicit filter, replay.py:110-111).
    """

    name: str
    keys: tuple[str, ...]
    expr: ExprLike
    timestamp_col: str = "ts"
    namespace: str = DEFAULT_NAMESPACE
    freshness_us: int = 0
    staleness_us: int = 0
    aggr: Optional[AggrSpec] = None
    keep_previous: Optional[KeepPreviousSpec] = None
    # optional pre-filter on the source (e.g. role='tool'); SQL string.
    # Without it (and ``expr_may_be_null``) the expr must be TOTAL,
    # non-null at every row: see ``feature``
    filter: Optional[str] = None
    # the expr itself can evaluate to NULL (it ENCODES a filter — e.g.
    # a compiled handler with `return None` paths). Plans must then use
    # the publish/forward-fill machinery instead of assuming a total
    # value at every row, exactly as with ``filter``.
    expr_may_be_null: bool = False
    # override keys/ts of emitted rows (P6, runtime/svc.py:132-142);
    # keys_expr may be one ExprLike (single key) or a tuple of ExprLike
    # matching ``keys`` (composite re-keying)
    keys_expr: Optional[Union[ExprLike, tuple[ExprLike, ...]]] = None
    ts_expr: Optional[ExprLike] = None
    # sourceless/derived feature (S6: decorators.py:367-368,
    # internal/plugins/builders/sourceless/sourceless.go; dependency
    # resolution J4: replay.py:203-273): ``expr`` is evaluated over the
    # WIDE historical frame after the listed input features
    # materialize — the plan-level realization of ``ctx.get_feature``
    # (dependencies extracted at definition time, never runtime
    # callbacks).
    derived_inputs: Optional[tuple[str, ...]] = None

    @property
    def fqn(self) -> str:
        return f"{self.namespace}.{self.name}"

    @property
    def effective_staleness_us(self) -> int:
        """Windowed features: staleness == window span (feature.py:159-164)."""
        if self.aggr is not None:
            return self.aggr.over_us
        return self.staleness_us

    def output_columns(self) -> list[str]:
        """Wide-output column names this feature produces."""
        if self.aggr is not None:
            cols = [f"{self.name}_{fn}" for fn in self.aggr.fns]
        else:
            cols = [self.name]
        if self.keep_previous is not None:
            base = list(cols)
            for v in range(1, self.keep_previous.versions + 1):
                cols += [f"{c}_prev{v}" for c in base]
        return cols


def feature(
    name: str,
    keys: Union[str, Sequence[str]],
    expr: ExprLike,
    *,
    timestamp: str = "ts",
    namespace: str = DEFAULT_NAMESPACE,
    freshness: Union[str, int, None] = None,
    staleness: Union[str, int, None] = None,
    aggr: Union[Sequence[str], None] = None,
    over: Union[str, int, None] = None,
    granularity: Union[str, int, None] = None,
    keep_previous: Optional[tuple[int, Union[str, int]]] = None,
    filter: Optional[str] = None,
    inputs: Optional[Sequence[str]] = None,
) -> FeatureSpec:
    """Ergonomic constructor mirroring @feature/@aggregation/@freshness/
    @keep_previous (decorators.py:364-527) in one call.

    Total-expression contract: an ``expr`` without ``filter`` must be
    non-null at every source row. The fused historical plan reads its
    value and versions off each row unfilled, so a NULL is served (and
    versioned) as NULL where the as-of plan fills the previous value.
    Rows where the value is undefined belong in ``filter``.
    """
    if isinstance(keys, str):
        keys = (keys,)
    if inputs and (aggr or keep_previous):
        raise ValueError(
            "derived features compute over the wide frame; windowing/"
            "keep_previous belong on their base inputs"
        )
    aggr_spec = None
    if aggr:
        over_us = parse_duration_us(over)
        gran_us = parse_duration_us(granularity) if granularity else over_us
        aggr_spec = AggrSpec(tuple(aggr), over_us, gran_us)
    kp = None
    if keep_previous is not None:
        kp = KeepPreviousSpec(keep_previous[0], parse_duration_us(keep_previous[1]))
    return FeatureSpec(
        name=name,
        keys=tuple(keys),
        expr=expr,
        timestamp_col=timestamp,
        namespace=namespace,
        freshness_us=parse_duration_us(freshness),
        staleness_us=parse_duration_us(staleness),
        aggr=aggr_spec,
        keep_previous=kp,
        filter=filter,
        derived_inputs=tuple(inputs) if inputs else None,
    )


@dataclass
class FeatureSetSpec:
    """FeatureSet / model spine (pkg/querybuilder/fs.go:35-49,
    replay.py:325-366): key_feature's rows define the (keys, ts) spine;
    every other feature is PIT-as-of joined onto it.
    """

    features: list[FeatureSpec] = field(default_factory=list)
    key_feature: Optional[str] = None  # name; default features[0]

    def resolve_key_feature(self) -> FeatureSpec:
        if self.key_feature is None:
            return self.base_features()[0]
        for f in self.features:
            if f.name == self.key_feature or f.fqn == self.key_feature:
                return f
        raise KeyError(self.key_feature)

    def base_features(self) -> list[FeatureSpec]:
        return [f for f in self.features if f.derived_inputs is None]

    def derived_topo(self) -> list[FeatureSpec]:
        """Derived features in dependency order (J4's recursive
        resolution, done once at plan build). Raises on cycles or
        unknown inputs."""
        derived = [f for f in self.features if f.derived_inputs is not None]
        # a dependency may name the feature OR one of its wide output
        # columns (e.g. 'turns_10m_count' — the '+count' selector form)
        ready = {f.name for f in self.base_features()}
        for f in self.base_features():
            ready.update(f.output_columns())
        out: list[FeatureSpec] = []
        pending = list(derived)
        while pending:
            progressed = False
            for f in list(pending):
                if all(i in ready for i in f.derived_inputs):
                    out.append(f)
                    ready.add(f.name)
                    pending.remove(f)
                    progressed = True
            if not progressed:
                missing = {
                    f.name: [i for i in f.derived_inputs if i not in ready]
                    for f in pending
                }
                raise ValueError(
                    f"unresolvable derived features (cycle or unknown "
                    f"inputs): {missing}"
                )
        return out
