"""LabSDK-compatible decorator surface (the reference's public API,
re-expressed Spark-first).

Mirrors ``/root/reference/labsdk/raptor/decorators.py``:
``@feature`` (364-527), ``@aggregation`` (290-338), ``@freshness``
(121-162), ``@keep_previous`` (339-361), ``@namespace`` (75-92),
``@model`` (532-648 — here: the ``features_and_labels`` half).

The handler body compiles to a Catalyst Column program at DEFINITION
time (``raptor_spark.program``) — per-row Python never runs. A handler
that reads other features via ``ctx.get_feature`` becomes a DERIVED
feature (dependencies extracted from the AST, the plan-level
realization of the reference's dependency discovery).

Usage (identical shape to the reference's README example)::

    @feature(keys='user_id', data_source='events')
    @freshness(max_age='2h', max_stale='2h')
    def last_click(this_row, ctx) -> float:
        if this_row['event_type'] == 'click':
            return this_row['value']
        return None

    @model(keys='user_id', input_features=[last_click], input_labels=[])
    def my_model(ctx): ...

    df = my_model.features_and_labels(spark, sources={'events': ev})

Decorator ORDER follows the reference: ``@feature`` is outermost
(applied last); the inner decorators attach options to the function,
``@feature`` consumes them into a FeatureSpec.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from .durations import parse_duration_us
from .plans.historical import get_historical
from .plans.replay import replay as _replay_long
from .plans.validate import _NUMERIC_ONLY_FNS
from .program import compile_handler
from .selector import DEFAULT_NAMESPACE, parse_selector
from .specs import AggrSpec, FeatureSetSpec, FeatureSpec, KeepPreviousSpec

_OPTS_ATTR = "_raptor_opts"


def _us_str(us: int) -> str:
    """Duration µs → the compact string form the manifest carries
    (round-trips through durations.parse_duration_us)."""
    if us == 0:
        return "0"
    if us % 1_000_000 == 0:
        return f"{us // 1_000_000}s"
    return f"{us}us"

# definition registry: @feature registers under fqn AND bare name so
# @model can take string selectors ('ns.name+fn@-N') like the reference
# (decorators.py input_features=['total_spend+sum']). Process-global,
# last-definition-wins on collisions (same as re-running a notebook
# cell in the reference SDK) — namespace-qualified selectors never hit
# the bare-name fallback, so cross-namespace collisions stay explicit.
_REGISTRY: dict[str, "Feature"] = {}


def _opts(fn: Callable) -> dict:
    if isinstance(fn, Feature):
        # decorator order matters: @feature must be OUTERMOST (applied
        # last). Attaching options to an already-built Feature would be
        # silently ignored — fail loudly instead.
        raise TypeError(
            f"@feature must be the outermost decorator on "
            f"'{fn.spec.name}' — @aggregation/@freshness/@keep_previous/"
            "@namespace apply below it (decorators.py example order)"
        )
    if not hasattr(fn, _OPTS_ATTR):
        setattr(fn, _OPTS_ATTR, {})
    return getattr(fn, _OPTS_ATTR)


def namespace(ns: str):
    """@namespace — decorators.py:75-92."""

    def deco(fn):
        _opts(fn)["namespace"] = ns
        return fn

    return deco


def freshness(
    max_age: Union[str, dt.timedelta],
    max_stale: Optional[Union[str, dt.timedelta]] = None,
    timeout: Optional[Union[str, dt.timedelta]] = None,
):
    """@freshness — decorators.py:121-162. ``max_age`` → freshness,
    ``max_stale`` → staleness (defaults to max_age). ``timeout`` is an
    online-serving knob — accepted for source compatibility, no batch
    effect."""

    def deco(fn):
        _opts(fn)["freshness"] = parse_duration_us(max_age)
        _opts(fn)["staleness"] = parse_duration_us(
            max_age if max_stale is None else max_stale
        )
        return fn

    return deco


def aggregation(
    function: Union[str, Sequence[str]],
    over: Union[str, dt.timedelta, None],
    granularity: Union[str, dt.timedelta, None] = None,
):
    """@aggregation — decorators.py:290-338. Granularity defaults to
    the window span (one bucket) when omitted."""
    fns = [function] if isinstance(function, str) else list(function)

    def deco(fn):
        over_us = parse_duration_us(over)
        gran_us = parse_duration_us(granularity) if granularity else over_us
        _opts(fn)["aggr"] = AggrSpec(tuple(fns), over_us, gran_us)
        return fn

    return deco


def keep_previous(versions: int, over: Union[str, dt.timedelta]):
    """@keep_previous — decorators.py:339-361."""

    def deco(fn):
        _opts(fn)["keep_previous"] = KeepPreviousSpec(
            versions, parse_duration_us(over)
        )
        return fn

    return deco


@dataclass
class DataSource:
    """@data_source's wrapped class — decorators.py:185-289. Carries
    the training DataFrame, entity keys, and timestamp column; the
    optional ``production_config`` is the broker stub
    (``sources.streams.StreamSourceConfig`` plays that role here)."""

    name: str
    training_data: Optional[DataFrame]
    keys: tuple[str, ...]
    timestamp: str
    schema: dict
    production_config: object = None

    @property
    def raptor_spec(self) -> "DataSource":
        return self


def data_source(
    training_data: Optional[DataFrame] = None,
    keys: Union[str, Sequence[str], None] = None,
    name: Optional[str] = None,
    timestamp: str = "ts",
    production_config: object = None,
):
    """@data_source — decorators.py:185-289. Wraps a (TypedDict-style)
    class whose annotations declare the production schema; features
    bound to it validate their handler's column reads against that
    schema at DEFINITION time."""

    def deco(cls):
        return DataSource(
            name=name or cls.__name__,
            training_data=training_data,
            keys=(keys,) if isinstance(keys, str) else tuple(keys or ()),
            timestamp=timestamp,
            schema=dict(getattr(cls, "__annotations__", {})),
            production_config=production_config,
        )

    return deco


@dataclass
class Feature:
    """The wrapped handler @feature returns — carries the compiled
    spec and the reference's replay() surface (decorators.py:400-410:
    raptor_spec / replay / manifest)."""

    spec: FeatureSpec
    data_source: Optional[Union[str, DataSource]]
    handler: Callable

    @property
    def raptor_spec(self) -> FeatureSpec:
        return self.spec

    @property
    def fqn(self) -> str:
        return self.spec.fqn

    def replay(self, df: DataFrame) -> DataFrame:
        """Local batch replay over training data → the canonical long
        feature-values frame (labsdk replay.py:78-152)."""
        return _replay_long(df, self.spec)

    def manifest(self) -> str:
        """Deployment manifest in the reference's CRD layout
        (types/feature.py:225-250: apiVersion/kind/metadata/spec).
        The builder code is the handler's source — the production
        runtime would recompile it exactly as this SDK did."""
        import inspect

        import yaml

        s = self.spec
        doc = {
            "apiVersion": "k8s.raptor.ml/v1alpha1",
            "kind": "Feature",
            "metadata": {
                "name": s.name.replace("_", "-"),
                "namespace": s.namespace,
            },
            "spec": {
                "primitive": (s.expr.cast_to or "double")
                if hasattr(s.expr, "cast_to")
                else "double",
                "freshness": _us_str(s.freshness_us),
                "staleness": _us_str(s.staleness_us),
                "keepPrevious": (
                    None
                    if s.keep_previous is None
                    else {
                        "versions": s.keep_previous.versions,
                        "over": _us_str(s.keep_previous.over_us),
                    }
                ),
                "keys": list(s.keys),
                "dataSource": (
                    self.data_source.name
                    if isinstance(self.data_source, DataSource)
                    else self.data_source
                ),
                "builder": {
                    "aggr": list(s.aggr.fns) if s.aggr else [],
                    "aggrGranularity": _us_str(s.aggr.granularity_us)
                    if s.aggr
                    else None,
                    "code": inspect.getsource(self.handler),
                },
            },
        }
        return yaml.safe_dump(doc, sort_keys=False)

    def __call__(self, *args, **kwargs):
        raise TypeError(
            f"feature '{self.spec.name}' compiled to a Spark Column program; "
            "it does not execute per-row — use .replay(df) or a FeatureSet"
        )


def feature(
    keys: Union[str, Sequence[str]],
    name: Optional[str] = None,
    data_source: Optional[Union[str, DataSource]] = None,
    sourceless_markers_df=None,
):
    """@feature — decorators.py:364-527. The handler AST compiles to a
    Column program; ``ctx.get_feature`` reads become derived-feature
    dependencies (sourceless when ``data_source`` is None). A
    ``DataSource`` object binds the feature to its timestamp column and
    validates the handler's column reads against the declared schema
    at definition time (the reference validates in production)."""
    key_tuple = (keys,) if isinstance(keys, str) else tuple(keys)

    def deco(fn):
        opts = _opts(fn) if hasattr(fn, _OPTS_ATTR) else {}
        prog = compile_handler(fn)
        deps = prog.dependencies
        aggr = opts.get("aggr")
        if aggr is not None and prog.cast_to in ("string", "boolean"):
            numeric_needed = _NUMERIC_ONLY_FNS & set(aggr.fns)
            if numeric_needed:
                raise TypeError(
                    f"feature '{name or fn.__name__}': aggregation(s) "
                    f"{sorted(numeric_needed)} require a numeric return "
                    f"annotation, handler declares -> {prog.cast_to} "
                    "(api/feature.go:50-64 rule, enforced at definition)"
                )
        ts_col = "ts"
        if isinstance(data_source, DataSource):
            from .sources.rest import RestSourceConfig, reject_aggr

            if isinstance(data_source.production_config, RestSourceConfig):
                # rest.go:64-66: enrichment is a point lookup, not an
                # event stream — windowed aggregation is rejected at
                # definition time
                reject_aggr(list(aggr.fns) if aggr is not None else [])
            ts_col = data_source.timestamp
            if data_source.schema:
                unknown = [
                    col for col in prog.columns if col not in data_source.schema
                ]
                if unknown:
                    raise ValueError(
                        f"handler '{name or fn.__name__}' reads column(s) "
                        f"{unknown} not declared by data source "
                        f"'{data_source.name}' "
                        f"(schema: {sorted(data_source.schema)})"
                    )
        spec = FeatureSpec(
            name=name or fn.__name__,
            keys=key_tuple,
            expr=prog,
            timestamp_col=ts_col,
            namespace=opts.get("namespace", DEFAULT_NAMESPACE),
            freshness_us=opts.get("freshness", 0),
            staleness_us=opts.get("staleness", 0),
            aggr=opts.get("aggr"),
            keep_previous=opts.get("keep_previous"),
            derived_inputs=deps if (deps and data_source is None) else None,
            # `return None` paths make the expr its own filter — the
            # fused plan must not treat the value as total
            expr_may_be_null=prog.may_be_null,
        )
        if deps and data_source is not None:
            raise ValueError(
                f"handler '{spec.name}' reads features via ctx.get_feature — "
                "it is a derived (sourceless) feature; drop data_source"
            )
        feat = Feature(spec=spec, data_source=data_source, handler=fn)
        _REGISTRY[spec.fqn] = feat
        _REGISTRY[spec.name] = feat
        return feat

    return deco


@dataclass
class Model:
    """@model's training-side surface: features_and_labels() — the
    historical PIT dataset (decorators.py:614-621, replay.py:303-366).
    ``selected_columns``: the wide output columns the model's selectors
    picked (all outputs when inputs were Feature objects)."""

    fs: FeatureSetSpec
    sources_by_feature: dict[str, Union[str, DataSource]]
    selected_columns: Optional[list[str]] = None

    @property
    def raptor_spec(self) -> FeatureSetSpec:
        return self.fs

    def features_and_labels(
        self,
        spark: SparkSession,
        sources: Optional[dict[str, DataFrame]] = None,
        since: Optional[dt.datetime] = None,
        until: Optional[dt.datetime] = None,
    ) -> DataFrame:
        """Wide PIT training frame. ``sources`` maps data-source name →
        DataFrame; a feature bound to a ``DataSource`` OBJECT falls
        back to that object's ``training_data`` when the dict has no
        override for its name."""
        by_feature: dict[str, DataFrame] = {}
        default_src: Optional[DataFrame] = None
        for fname, src in self.sources_by_feature.items():
            if isinstance(src, DataSource):
                df = (sources or {}).get(src.name, src.training_data)
                if df is None:
                    raise KeyError(
                        f"feature '{fname}': data source '{src.name}' has no "
                        "training_data and no override was passed"
                    )
            else:
                if not sources or src not in sources:
                    raise KeyError(
                        f"feature '{fname}' needs data source '{src}' — "
                        f"got {sorted(sources or {})}"
                    )
                df = sources[src]
            by_feature[fname] = df
            default_src = df
        if default_src is None:
            raise ValueError("model has no sourced features")
        out = get_historical(
            default_src, self.fs, since=since, until=until,
            sources=by_feature,
        )
        if self.selected_columns is not None:
            keys = list(self.fs.resolve_key_feature().keys)
            keep = keys + ["ts"] + [
                c for c in self.selected_columns if c not in keys
            ]
            out = out.select(*dict.fromkeys(keep))
        return out


def model(
    keys: Union[str, Sequence[str]],
    input_features: Sequence[Union[str, Feature]],
    input_labels: Sequence[Union[str, Feature]] = (),
    key_feature: Optional[Union[str, Feature]] = None,
    model_framework: Optional[str] = None,
    model_server: Optional[str] = None,
    name: Optional[str] = None,
):
    """@model — decorators.py:532-648 (training half: the feature set
    + features_and_labels; serving plumbing is out of batch scope)."""

    def _name(f) -> str:
        return f.spec.name if isinstance(f, Feature) else str(f)

    def deco(fn):
        specs: list[FeatureSpec] = []
        srcs: dict[str, str] = {}
        selected: list[str] = []
        any_selector = False

        def _add(f):
            nonlocal any_selector
            if isinstance(f, Feature):
                dup = next(
                    (s for s in specs if s.name == f.spec.name), None
                )
                if dup is not None and dup.fqn != f.spec.fqn:
                    # same bare name from ANOTHER namespace: its output
                    # columns would collide in the wide frame — raising
                    # beats silently training on the wrong feature
                    raise ValueError(
                        f"features '{dup.fqn}' and '{f.spec.fqn}' share "
                        f"output name '{f.spec.name}' — same-named "
                        "features from different namespaces cannot join "
                        "one model's frame; rename one"
                    )
                if dup is None:
                    specs.append(f.spec)
                    if f.data_source is not None:
                        srcs[f.spec.name] = f.data_source
                selected.extend(
                    c for c in f.spec.output_columns() if c not in selected
                )
                return
            # string selector: '[ns.]name[+fn][@-N]' resolved from the
            # definition registry (the reference resolves FQN strings
            # the same way, decorators.py feature_obj_resolver). The
            # bare-name fallback applies ONLY when the selector wrote
            # no namespace — an explicit namespace that misses must
            # not silently resolve to a same-named feature elsewhere.
            sel = parse_selector(str(f))
            feat = _REGISTRY.get(sel.fqn)
            if feat is None and "." not in str(f).split("+")[0].split("@")[0]:
                feat = _REGISTRY.get(sel.name)
            if feat is None:
                raise KeyError(
                    f"selector '{f}' does not match any @feature definition"
                )
            col = sel.column
            if col not in feat.spec.output_columns():
                raise ValueError(
                    f"selector '{f}' resolves to column '{col}' but feature "
                    f"'{feat.spec.name}' produces {feat.spec.output_columns()}"
                )
            any_selector = True
            if all(s.name != feat.spec.name for s in specs):
                specs.append(feat.spec)
                if feat.data_source is not None:
                    srcs[feat.spec.name] = feat.data_source
            if col not in selected:
                selected.append(col)

        for f in (*input_features, *input_labels):
            _add(f)
        fs = FeatureSetSpec(
            features=specs,
            key_feature=_name(key_feature) if key_feature else None,
        )
        return Model(
            fs=fs,
            sources_by_feature=srcs,
            selected_columns=selected if any_selector else None,
        )

    return deco
