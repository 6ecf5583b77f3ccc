"""Plan-build type validation (P9) — the Spark analog of the
reference's bind-time check that aggregated features are numeric
(``api/feature.go:50-64``: sum/avg/min/max only over int/float;
count/distinct over anything).

Both PIT plans apply the rule where they already hold the resolved
value type — the fused plan's early projection and ``replay_wide``'s
per-row projection — so a bad feature set fails on the driver at plan
build, with no Spark job, instead of on an executor with a cast error
(or, for a column of numeric strings, silently). ``api.feature``
applies the same rule at definition time to the handler's declared
return type."""

from __future__ import annotations

from pyspark.sql.types import DataType, NumericType

from ..specs import FeatureSpec

_NUMERIC_ONLY_FNS = frozenset({"sum", "avg", "min", "max"})


def check_value_type(spec: FeatureSpec, vtype: DataType) -> None:
    """Raise TypeError when ``spec`` aggregates its value with a
    numeric-only fn and the value resolved to ``vtype``, not a number."""
    if spec.aggr is None:
        return
    numeric_needed = _NUMERIC_ONLY_FNS & set(spec.aggr.fns)
    if numeric_needed and not isinstance(vtype, NumericType):
        raise TypeError(
            f"feature {spec.fqn!r}: aggregation(s) "
            f"{sorted(numeric_needed)} require a numeric value, got "
            f"{vtype.simpleString()} (api/feature.go:50-64 rule)"
        )
