"""Feature registry: Entity / FeatureView / FeatureStore.

Mirrors the reference's registry surface (upstream
``feast/entity.py``, ``feast/feature_view.py``, ``feast/feature_store.py``;
local reference is a stub — see SURVEY.md §0.1) as plain dataclasses plus a
JSON file registry. No protobuf: the catalog is small metadata, files are
fine at any scale (the data plane is where 100 TB lives, not the registry).
"""

from __future__ import annotations

import json
import os
import warnings
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Entity:
    """A named join key (upstream feast/entity.py)."""

    name: str
    join_key: str
    value_type: str = "string"


@dataclass(frozen=True)
class FeatureSpec:
    """A typed feature column (upstream feast/field.py / types.py).

    ``vector_index=True`` marks an embedding feature as searchable
    (upstream Field(vector_index=True, vector_search_metric=...) —
    the vector-online-store surface): ``FeatureStore.build_vector_index``
    persists an ANN index for it and ``retrieve_online_documents``
    serves top-k. ``vector_dim`` is required for indexed features
    (hyperplane config is dimension-typed); ``similarity`` documents
    the metric (cosine is what the LSH family supports)."""

    name: str
    dtype: str  # Spark simpleString: "double", "bigint", "string", "array<float>"
    vector_index: bool = False
    vector_dim: int | None = None
    similarity: str = "cosine"


_AGG_FUNCTIONS = frozenset(
    {"count", "sum", "avg", "min", "max", "stddev", "variance"}
)


@dataclass(frozen=True)
class Aggregation:
    """A declared rolling aggregation on a feature view (upstream
    feast/aggregation.py — ``Aggregation(column, function, time_window)``
    on stream feature views; the contrib Spark processor materializes
    them). The derived feature is named ``{function}_{column}_{N}s``
    (``{function}_{column}`` for an unbounded / lifetime window)."""

    column: str
    function: str  # one of _AGG_FUNCTIONS
    time_window: timedelta | None = None

    def __post_init__(self) -> None:
        if self.function not in _AGG_FUNCTIONS:
            raise ValueError(
                f"aggregation function {self.function!r} not supported; "
                f"use one of {sorted(_AGG_FUNCTIONS)}"
            )
        if self.time_window is not None and (
            self.time_window.total_seconds() <= 0
        ):
            raise ValueError("time_window must be positive")

    @property
    def feature_name(self) -> str:
        if self.time_window is None:
            return f"{self.function}_{self.column}"
        return (
            f"{self.function}_{self.column}_"
            f"{int(self.time_window.total_seconds())}s"
        )


@dataclass
class FeatureView:
    """A feature table bound to (entity, source, ttl, timestamp columns).

    Upstream: feast/feature_view.py. ``source`` is either a parquet path,
    a table layout root (sources.layout), or a callable
    ``(SparkSession) -> DataFrame`` for view-over-query sources (upstream
    spark_source.py ``query=``). ``aggregations`` declare derived rolling
    features (upstream stream-feature-view Aggregation specs).

    The view is the one place that knows how its rows are produced —
    which snapshot of a layout to read, the field mapping, the timestamp
    casts and the history its aggregation windows need: retrieval,
    materialization and validation all read them through ``load``.
    """

    name: str
    entity: Entity | list[Entity]  # a list = composite key (multi-entity view)
    source: str | Callable[[SparkSession], DataFrame]
    features: list[FeatureSpec]
    ttl: timedelta | None = None
    timestamp_field: str = "warc_ts"
    created_timestamp_column: str | None = None
    field_mapping: dict[str, str] = field(default_factory=dict)
    aggregations: list[Aggregation] = field(default_factory=list)
    #: named layout ref (tag) pinning this view to a corpus release:
    #: retrieval and materialization read the PINNED snapshot even as the
    #: table's HEAD advances — reproducible training sets by construction
    ref: str | None = None

    def __post_init__(self) -> None:
        # upstream Feast reads a zero TTL as "no TTL"; normalizing it here
        # gives retrieval and the saved registry that one meaning
        if not self.ttl:
            self.ttl = None

    @property
    def entities(self) -> "list[Entity]":
        return self.entity if isinstance(self.entity, list) else [self.entity]

    @property
    def join_keys(self) -> list[str]:
        """All entity join keys (upstream: a view referencing several
        entities joins on every key)."""
        return [e.join_key for e in self.entities]

    def vector_feature(self) -> FeatureSpec:
        """The single vector-indexed feature of this view; raises when
        none or several are marked (one index per view — upstream's
        online stores index one vector field per view)."""
        vecs = [s for s in self.features if s.vector_index]
        if not vecs:
            raise ValueError(f"view {self.name!r} has no vector_index feature")
        if len(vecs) > 1:
            raise ValueError(
                f"view {self.name!r} marks {len(vecs)} vector_index "
                "features; exactly one is supported"
            )
        if not vecs[0].vector_dim:
            raise ValueError(
                f"vector feature {vecs[0].name!r} needs vector_dim"
            )
        return vecs[0]

    @property
    def layout_root(self) -> str | None:
        """Path of the Iceberg-style layout backing this view, if any."""
        from feast_spark.sources.pages import is_table

        if not callable(self.source) and is_table(str(self.source)):
            return str(self.source)
        return None

    def load(
        self, spark: SparkSession, *, start=None, end=None, buckets=None,
        snapshot: int | None = None,
    ) -> DataFrame:
        """The view's derived rows: the source resolved to a DataFrame,
        its field mapping applied, the timestamp columns normalized to
        TIMESTAMP (Spark 4 loads parquet timestamp[us] as TIMESTAMP_NTZ —
        SURVEY.md §0.3) and the declared aggregations added
        (``derived_frame``).

        ``start``/``end``/``buckets`` prune a layout-backed source via the
        manifest: files outside them never reach Spark, and the caller
        filters the rows. With aggregations, ``start`` is first widened by
        ``max_agg_window`` — dropped for a lifetime window — so trailing
        aggregates at the range's first events see their full window of
        history. ``snapshot`` scans that snapshot id of the layout — the
        one a caller read with ``layout_snapshot`` — instead of resolving
        the ref or HEAD again."""
        from pyspark.sql import functions as F

        from feast_spark.sources import pages

        if start is not None and self.aggregations:
            w = self.max_agg_window
            start = None if w is None else pages.naive_utc(start) - w
        if callable(self.source):
            df = self.source(spark)
        elif self.layout_root:
            if snapshot is None and self.ref:
                snapshot = pages.resolve_tag(self.layout_root, self.ref)
            df = pages.read_table(
                spark, self.layout_root, snapshot=snapshot, start=start,
                end=end, buckets=buckets,
            )
        else:
            df = spark.read.parquet(str(self.source))
        if self.field_mapping:
            df = df.withColumnsRenamed(self.field_mapping)
        ts_cols = [self.timestamp_field, self.created_timestamp_column]
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ts_cols if c}
        )
        return self.derived_frame(df)

    def layout_snapshot(self) -> dict | None:
        """The snapshot this view READS: the pinned ``ref``'s when set,
        else the table's current HEAD. None for non-layout sources.
        Planners must use this (not ``current_snapshot``) so manifest
        pruning / skew stats describe the same files the scan reads."""
        root = self.layout_root
        if not root:
            return None
        from feast_spark.sources import pages

        if self.ref:
            return pages.load_snapshot(root, pages.resolve_tag(root, self.ref))
        return pages.current_snapshot(root)

    @property
    def max_agg_window(self) -> timedelta | None:
        """Longest declared aggregation window — the extra source history
        ``load`` reads below a ``start`` so trailing aggregates at the
        range's first events see their full window. ``None`` means either
        no aggregations or an UNBOUNDED (lifetime) window is declared —
        ``load`` then drops the lower scan bound entirely."""
        if not self.aggregations:
            return None
        if any(a.time_window is None for a in self.aggregations):
            return None
        return max(a.time_window for a in self.aggregations)

    def derived_frame(self, df: DataFrame) -> DataFrame:
        """Apply declared aggregations: trailing RANGE-frame window
        aggregates over (join_keys, event time), anchored AT event times
        — so the downstream PIT as-of join serves, for any probe ts, the
        aggregate as of the latest event ≤ ts (upstream's materialized
        stream-aggregation semantics; aggregating at probe time instead
        would be a per-probe range join). Aggregations sharing a window
        share ONE WindowSpec — Catalyst collapses them into a single
        Window node, so the per-key shuffle+sort happens once however
        many functions are declared."""
        if not self.aggregations:
            return df
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        # ONE projected epoch column shared by every WindowSpec: separate
        # withColumn calls would each re-create the cast expression with
        # a fresh attribute id, and CollapseWindow only merges windows
        # whose sort expressions are attribute-identical — pinned by
        # tests/test_plans.py (one Window node per distinct time_window)
        in_cols = df.columns
        epoch_col = "__agg_epoch"
        df = df.withColumn(
            epoch_col,
            F.col(self.timestamp_field).cast("timestamp").cast("long"),
        )
        specs: dict[int | None, object] = {}
        out_cols = []
        for agg in self.aggregations:
            secs = (
                None
                if agg.time_window is None
                else int(agg.time_window.total_seconds())
            )
            if secs not in specs:
                base = Window.partitionBy(*self.join_keys).orderBy(
                    F.col(epoch_col)
                )
                specs[secs] = base.rangeBetween(
                    Window.unboundedPreceding if secs is None else -secs, 0
                )
            fn = getattr(F, agg.function)
            out_cols.append(
                fn(agg.column).over(specs[secs]).alias(agg.feature_name)
            )
        return df.select(*in_cols, *out_cols)


@dataclass
class FeatureService:
    """A named group of feature refs retrieved/served as a unit (upstream
    feast/feature_service.py): consumers depend on the service name, not
    on which views the features live in — views can be reorganized
    without breaking training or serving callers."""

    name: str
    features: list[str]  # "view:feature" (or ODFV) refs, in output order
    description: str = ""


@dataclass
class OnDemandFeatureView:
    """A pandas row-transform computed at retrieval time on top of
    retrieved features (upstream feast/on_demand_feature_view.py).
    ``transform`` maps a pandas DataFrame of the source features to a
    DataFrame of the new feature columns; runs per Arrow batch
    (vectorized — the binding "no per-row Python" rule)."""

    name: str
    sources: list[str]  # "view:feature" refs the transform consumes
    transform: Callable  # pd.DataFrame -> pd.DataFrame
    schema: list[tuple[str, str]]  # [(out_col, spark dtype), ...]


def _global_loads(code) -> set:
    """All global-namespace names a code object (and its nested code)
    touches. LOAD_GLOBAL covers function bodies; LOAD_NAME covers
    module-scope code — default-arg expressions like ``def f(df,
    g=getattr)`` evaluate at module exec time via LOAD_NAME and would
    otherwise smuggle a banned builtin in as a local (VERDICT r04 next
    #9)."""
    import dis

    names = {
        i.argval
        for i in dis.get_instructions(code)
        if i.opname in ("LOAD_GLOBAL", "LOAD_NAME")
    }
    for const in code.co_consts:
        if hasattr(const, "co_code"):
            names |= _global_loads(const)
    return names


def _ast_violations(tree) -> list[str]:
    """Constructs a src-transform may not contain, found by walking the
    whole AST (ADVICE r03): ``import`` / ``from .. import`` statements
    anywhere in the tree — IMPORT_NAME bytecode never emits LOAD_GLOBAL,
    so the bytecode allowlist alone misses a function-body import — and
    dunder attribute access (``__class__`` / ``__subclasses__`` /
    ``__globals__`` …), the standard allowlist escape."""
    import ast

    bad = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            bad.append("import statement")
        elif isinstance(node, ast.Attribute) and (
            node.attr.startswith("__") and node.attr.endswith("__")
        ):
            bad.append(f"dunder attribute .{node.attr}")
    return bad


def _allowed_globals() -> set:
    """Names a registry src-transform may reach: numpy/pandas aliases plus
    builtins MINUS the escape hatches (import/eval/exec/open/attr
    manipulation). Enforced symmetrically at save AND load time — write
    access to registry.json must not become arbitrary driver code
    execution on FeatureStore construction (ADVICE r02). Not a perfect
    sandbox (pandas itself has IO functions); it is the same trust model
    as upstream's dill registry, narrowed to declared-dependency code."""
    import builtins

    banned = {
        "__import__", "eval", "exec", "compile", "open", "input",
        "breakpoint", "globals", "locals", "vars", "getattr", "setattr",
        "delattr", "exit", "quit",
    }
    return ({"np", "numpy", "pd", "pandas"} | set(dir(builtins))) - banned


def _serialize_transform(t: Callable) -> dict | None:
    """Persistable form of an ODFV transform (upstream feast serializes
    transforms into the registry via dill; here it's code-as-config with
    the same trust model, but human-readable):

    1. an importable reference ``{"ref": "module:name"}`` when the
       function is a top-level function of an importable module, else
    2. its dedented source text ``{"src": ..., "fn": name}`` (re-``exec``d
       on load in a namespace with numpy/pandas), else
    3. ``None`` — lambdas and closures stay in-memory only.
    """
    import importlib
    import inspect
    import textwrap

    mod = getattr(t, "__module__", None)
    qn = getattr(t, "__qualname__", "")
    if mod and mod != "__main__" and "." not in qn and "<" not in qn:
        try:
            if getattr(importlib.import_module(mod), qn, None) is t:
                return {"ref": f"{mod}:{qn}"}
        except ImportError:
            pass
    try:
        src = textwrap.dedent(inspect.getsource(t))
    except (OSError, TypeError):
        return None
    name = getattr(t, "__name__", "")
    if not src.lstrip().startswith("def ") or "<" in name:
        return None  # lambda / decorated blob
    if inspect.getclosurevars(t).nonlocals:
        return None  # closure state can't round-trip through text
    # the deserialization namespace carries only numpy/pandas: any other
    # module-level global would serialize fine and then NameError (or be
    # refused) at serving time — refuse up front (r02 review). Attribute
    # accesses don't count (getclosurevars' "unbound" conflates them), so
    # scan the bytecode for actual LOAD_GLOBAL names instead.
    if _global_loads(t.__code__) - _allowed_globals():
        return None
    import ast

    tree = ast.parse(src)
    if _ast_violations(tree):  # symmetric with load (ADVICE r03)
        return None
    # scan the COMPILED MODULE code too, not just the live function's —
    # default-arg expressions live in module-scope bytecode, outside
    # t.__code__ (VERDICT r04 next #9; symmetric with load)
    if (
        _global_loads(compile(tree, "<feast_spark_registry>", "exec"))
        - _allowed_globals()
    ):
        return None
    return {"src": src, "fn": name}


def _deserialize_transform(blob: dict) -> Callable:
    import importlib

    if "ref" in blob:
        mod, _, fn = blob["ref"].partition(":")
        return getattr(importlib.import_module(mod), fn)
    import ast

    import numpy
    import pandas

    # Validate BEFORE exec (ADVICE r02 — the save-time allowlist does not
    # constrain what a tampered registry.json executes): the module body
    # must be exactly one plain def of the declared name, and the COMPILED
    # module code (covering decorators, defaults, and the body via nested
    # code objects) may only LOAD_GLOBAL allowlisted names.
    tree = ast.parse(blob["src"])
    if not (
        len(tree.body) == 1
        and isinstance(tree.body[0], ast.FunctionDef)
        and tree.body[0].name == blob["fn"]
        and not tree.body[0].decorator_list
    ):
        raise ValueError(
            f"registry transform {blob.get('fn')!r}: src must be a single "
            "undecorated def of that name"
        )
    ast_bad = _ast_violations(tree)
    if ast_bad:
        raise ValueError(
            f"registry transform {blob['fn']!r} contains disallowed "
            f"constructs {sorted(set(ast_bad))}; use the "
            "{'ref': 'module:name'} form"
        )
    code = compile(tree, "<feast_spark_registry>", "exec")
    bad = _global_loads(code) - _allowed_globals()
    if bad:
        raise ValueError(
            f"registry transform {blob['fn']!r} references disallowed "
            f"globals {sorted(bad)}; use the {{'ref': 'module:name'}} form"
        )
    ns: dict = {"np": numpy, "numpy": numpy, "pd": pandas, "pandas": pandas}
    exec(code, ns)  # noqa: S102 — validated code-as-config (see above)
    return ns[blob["fn"]]


class FeatureStore:
    """Facade: register views, run historical retrieval + materialization.

    Upstream: feast/feature_store.py (apply / get_historical_features /
    materialize). Registry is a JSON file per store root when ``root`` is
    given, else in-memory only.
    """

    def __init__(self, spark: SparkSession, root: str | None = None) -> None:
        self.spark = spark
        self.root = root
        self._views: dict[str, FeatureView] = {}
        self._odfvs: dict[str, "OnDemandFeatureView"] = {}
        self._services: dict[str, FeatureService] = {}
        self._saved: dict[str, dict] = {}
        if root:
            os.makedirs(root, exist_ok=True)
            self._load_registry()

    # -- registry -----------------------------------------------------
    @property
    def _registry_path(self) -> str:
        assert self.root
        return os.path.join(self.root, "registry.json")

    def _load_registry(self) -> None:
        if self.root and os.path.exists(self._registry_path):
            with open(self._registry_path) as f:
                meta = json.load(f)
            for v in meta.get("views", []):
                ent_blob = v["entity"]
                ent = (
                    [Entity(**e) for e in ent_blob]
                    if isinstance(ent_blob, list)
                    else Entity(**ent_blob)
                )
                fv = FeatureView(
                    name=v["name"],
                    entity=ent,
                    source=v["source"],
                    features=[FeatureSpec(**s) for s in v["features"]],
                    ttl=timedelta(seconds=v["ttl_s"]) if v.get("ttl_s") else None,
                    timestamp_field=v["timestamp_field"],
                    created_timestamp_column=v.get("created_timestamp_column"),
                    field_mapping=v.get("field_mapping", {}),
                    aggregations=[
                        Aggregation(
                            column=a["column"],
                            function=a["function"],
                            time_window=(
                                timedelta(seconds=a["window_s"])
                                if a.get("window_s")
                                else None
                            ),
                        )
                        for a in v.get("aggregations", [])
                    ],
                    ref=v.get("ref"),
                )
                self._views[fv.name] = fv
            for o in meta.get("odfvs", []):
                self._odfvs[o["name"]] = OnDemandFeatureView(
                    name=o["name"],
                    sources=o["sources"],
                    transform=_deserialize_transform(o["transform"]),
                    schema=[tuple(s) for s in o["schema"]],
                )
            for s in meta.get("services", []):
                self._services[s["name"]] = FeatureService(**s)
            self._saved = dict(meta.get("saved_datasets", {}))

    def _save_registry(self) -> None:
        if not self.root:
            return
        views = []
        for fv in self._views.values():
            if callable(fv.source):
                continue  # query sources are code; not persisted
            views.append(
                {
                    "name": fv.name,
                    "entity": (
                        [e.__dict__ for e in fv.entity]
                        if isinstance(fv.entity, list)
                        else fv.entity.__dict__
                    ),
                    "source": fv.source,
                    "features": [s.__dict__ for s in fv.features],
                    "ttl_s": fv.ttl.total_seconds() if fv.ttl else None,
                    "timestamp_field": fv.timestamp_field,
                    "created_timestamp_column": fv.created_timestamp_column,
                    "field_mapping": fv.field_mapping,
                    "aggregations": [
                        {
                            "column": a.column,
                            "function": a.function,
                            "window_s": (
                                a.time_window.total_seconds()
                                if a.time_window
                                else None
                            ),
                        }
                        for a in fv.aggregations
                    ],
                    "ref": fv.ref,
                }
            )
        odfvs = []
        for odfv in self._odfvs.values():
            blob = _serialize_transform(odfv.transform)
            if blob is None:
                # lambda/closure/refused transforms stay in-memory only
                warnings.warn(
                    f"on-demand view {odfv.name!r}: its transform cannot be "
                    "saved to the registry (a lambda, a closure, or a "
                    "reference to a name outside numpy/pandas/builtins); it "
                    "stays in memory only. Use an importable module-level "
                    "function to persist it.",
                    stacklevel=3,
                )
                continue
            odfvs.append(
                {
                    "name": odfv.name,
                    "sources": odfv.sources,
                    "transform": blob,
                    "schema": [list(s) for s in odfv.schema],
                }
            )
        services = [
            {"name": s.name, "features": list(s.features),
             "description": s.description}
            for s in self._services.values()
        ]
        tmp = self._registry_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "views": views,
                    "odfvs": odfvs,
                    "services": services,
                    "saved_datasets": self._saved,
                },
                f,
                indent=1,
            )
        os.replace(tmp, self._registry_path)

    def plan(self, objects) -> list[dict]:
        """Dry-run diff (upstream ``feast plan`` / ``FeatureStore.plan``):
        what ``apply(objects)`` WOULD change, without mutating the
        registry. One record per object: ``{"action": "create" |
        "update" | "unchanged", "kind", "name", "changes": [field, …]}``
        — ``changes`` lists the differing fields on an update. Partial
        declarations are the model (like ``apply``), so absent objects
        are never reported as deletes; use :meth:`delete_view`
        explicitly."""
        import dataclasses

        if not isinstance(objects, (list, tuple)):
            objects = [objects]
        out = []
        for obj in objects:
            if isinstance(obj, OnDemandFeatureView):
                kind, current = "odfv", self._odfvs.get(obj.name)
            elif isinstance(obj, FeatureService):
                kind, current = "service", self._services.get(obj.name)
            elif isinstance(obj, FeatureView):
                kind, current = "view", self._views.get(obj.name)
            else:
                raise TypeError(f"cannot plan object of type {type(obj)!r}")
            if current is None:
                out.append(
                    {"action": "create", "kind": kind, "name": obj.name,
                     "changes": []}
                )
                continue
            changes = [
                f.name
                for f in dataclasses.fields(obj)
                if getattr(obj, f.name) != getattr(current, f.name)
            ]
            out.append(
                {
                    "action": "update" if changes else "unchanged",
                    "kind": kind,
                    "name": obj.name,
                    "changes": changes,
                }
            )
        return out

    def apply(self, view, validate: bool = False) -> None:
        if isinstance(view, (list, tuple)):
            # upstream apply() takes a list of objects; order-insensitive
            # for services referencing views in the same batch — views
            # and ODFVs land first
            services = [v for v in view if isinstance(v, FeatureService)]
            rest = [v for v in view if not isinstance(v, FeatureService)]
            for v in rest + services:
                self.apply(v, validate=validate)
            return
        if isinstance(view, OnDemandFeatureView):
            self._odfvs[view.name] = view
            self._save_registry()
            return
        if isinstance(view, FeatureService):
            for ref in view.features:
                name = ref.split(":")[0]
                if name not in self._views and name not in self._odfvs:
                    raise ValueError(
                        f"service {view.name!r} references unknown view "
                        f"{name!r}; apply the view first"
                    )
            self._services[view.name] = view
            self._save_registry()
            return
        if validate:
            self.validate_view(view)
        self._views[view.name] = view
        self._save_registry()

    def validate_view(self, view: FeatureView) -> None:
        """Schema validation at registration (upstream feast validates
        sources against declared fields on apply): the source must carry
        the entity join key, the timestamp field(s), and every declared
        feature with a compatible Spark dtype. Aggregated views validate
        against the DERIVED schema (declared features may name
        aggregation outputs — lazy schema only, no job runs)."""
        df = view.load(self.spark)
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = []
        for col in [*view.join_keys, view.timestamp_field] + (
            [view.created_timestamp_column] if view.created_timestamp_column else []
        ):
            if col not in have:
                missing.append(col)
        mistyped = []
        for spec in view.features:
            if spec.name not in have:
                missing.append(spec.name)
            elif have[spec.name] != spec.dtype:
                mistyped.append((spec.name, have[spec.name], spec.dtype))
        if missing or mistyped:
            raise ValueError(
                f"view {view.name!r} failed schema validation: "
                f"missing={missing} mistyped(actual,declared)={mistyped}"
            )

    def get_view(self, name: str) -> FeatureView:
        return self._views[name]

    def list_views(self) -> list[str]:
        return sorted(self._views)

    def delete_view(self, name: str) -> None:
        """Upstream registry delete: refuse while a service references
        the view (consumers would break silently at retrieval time)."""
        holders = [
            s.name
            for s in self._services.values()
            if any(r.split(":")[0] == name for r in s.features)
        ]
        if holders:
            raise ValueError(
                f"view {name!r} is referenced by service(s) {holders}; "
                "delete or update them first"
            )
        del self._views[name]
        self._save_registry()

    # -- retrieval ----------------------------------------------------
    def get_historical_features(
        self,
        entity_df: DataFrame,
        features: "list[str] | str | FeatureService",
        full_feature_names: bool = False,
        strategy: str | None = None,
    ) -> DataFrame:
        """Point-in-time-correct retrieval (upstream
        get_historical_features): ``features`` are ``"view:feature"`` refs,
        a registered :class:`FeatureService` (or its name) resolving to
        its refs; entity_df must carry the entity join key + a ``ts``
        column. ``entity_df`` may also be a SQL string (upstream accepts
        one for warehouse offline stores) or a pandas DataFrame — both
        normalize to Spark, and the SQL form keeps the probe scan inside
        Catalyst (pruning/pushdown apply as usual).
        """
        from feast_spark.plans.retrieval import plan_retrieval

        if isinstance(features, FeatureService):
            features = list(features.features)
        elif isinstance(features, str):
            features = list(self._services[features].features)
        if isinstance(entity_df, str):  # SQL entity source
            entity_df = self.spark.sql(entity_df)
        # upstream accepts a pandas entity_df; normalize to Spark
        try:
            import pandas as _pd

            if isinstance(entity_df, _pd.DataFrame):
                entity_df = self.spark.createDataFrame(entity_df)
        except ImportError:
            pass

        odfv_refs = [f for f in features if f.split(":")[0] in self._odfvs]
        base_refs = [f for f in features if f not in odfv_refs]
        needed = dict.fromkeys(base_refs)  # ordered set
        for ref in odfv_refs:
            for src in self._odfvs[ref.split(":")[0]].sources:
                needed.setdefault(src, None)
        # ODFV transforms read their source features by BARE name, so
        # full-name prefixing must happen AFTER the transforms run
        out = plan_retrieval(
            self, entity_df, list(needed),
            full_feature_names=full_feature_names and not odfv_refs,
            strategy=strategy,
        )
        for name in dict.fromkeys(r.split(":")[0] for r in odfv_refs):
            from feast_spark.operators.vectorized import on_demand_transform

            odfv = self._odfvs[name]
            out = on_demand_transform(out, odfv.transform, odfv.schema)
        if full_feature_names and odfv_refs:
            renames = {}
            for ref in needed:
                view, _, feat = ref.partition(":")
                renames[feat] = f"{view}__{feat}"
            for name in dict.fromkeys(r.split(":")[0] for r in odfv_refs):
                for col, _dt in self._odfvs[name].schema:
                    renames[col] = f"{name}__{col}"
            out = out.withColumnsRenamed(renames)
        return out

    def get_online_features(
        self,
        store_path: str,
        keys: list,
        *,
        key_col: str | None = None,
        key_cols: list[str] | None = None,
        odfvs: list[str] | None = None,
        ttl: timedelta | None = None,
        now=None,
        log_to: str | None = None,
    ) -> DataFrame:
        """Point-lookup path (upstream get_online_features): read the
        materialized serving store pruned to the keys' buckets. Composite
        stores take ``key_cols`` + tuple keys (see read_online).
        ``odfvs`` names registered on-demand views to compute on top of
        the served rows (upstream applies ODFVs at online read too).
        ``ttl`` + ``now``: read-side TTL eviction (rows older than
        ``now - ttl`` are never served). ``log_to``: feature logging
        (upstream feature-server logging for training/serving-skew
        audits) — the served rows append to a parquet log stamped with
        ``log_ts = now`` before being returned."""
        from feast_spark.materialize import read_online

        kc = key_col or "url"
        out = read_online(
            self.spark, store_path, keys, key_col=kc, key_cols=key_cols,
            ttl=ttl, now=now,
        )
        for name in odfvs or []:
            from feast_spark.operators.vectorized import on_demand_transform

            odfv = self._odfvs[name]
            out = on_demand_transform(out, odfv.transform, odfv.schema)
        if log_to:
            from pyspark.sql import functions as F

            stamp = (
                F.lit(now).cast("timestamp")
                if now is not None
                else F.current_timestamp()
            )
            out.withColumn("log_ts", stamp).write.mode("append").parquet(
                log_to
            )
        return out

    # -- vector search --------------------------------------------------
    def _vector_index_root(self, view_name: str, index_root: str | None) -> str:
        if index_root:
            return index_root
        if not self.root:
            raise ValueError(
                "in-memory store: pass index_root= to vector-index calls"
            )
        return os.path.join(self.root, "indexes", view_name)

    def build_vector_index(
        self,
        view_name: str,
        *,
        index_root: str | None = None,
        corpus_count: int | None = None,
        **knobs,
    ) -> str:
        """Persist an ANN index for the view's ``vector_index`` feature
        (upstream: the vector-online-store write path). Indexes the
        LATEST embedding per entity key (the serving semantic — same
        latest_per_key core as materialization), then delegates to
        ``operators.similarity.build_ann_index`` (LSH signatures as a
        layout table: CAS commits, bucket-pruned point lookups).
        ``corpus_count`` sizes (n_bits, n_tables) for target bucket
        occupancy; extra ``knobs`` pass through. Returns the index
        root (rebuildable in place — layout overwrite semantics)."""
        from feast_spark.operators.similarity import build_ann_index
        from feast_spark.operators.windows import latest_per_key

        fv = self.get_view(view_name)
        spec = fv.vector_feature()
        if len(fv.join_keys) != 1:
            raise ValueError(
                "vector retrieval needs a single-entity view "
                f"({view_name!r} has keys {fv.join_keys})"
            )
        key = fv.join_keys[0]
        latest = latest_per_key(
            fv.load(self.spark), key=key, order=fv.timestamp_field,
            created_col=fv.created_timestamp_column,
        ).select(key, spec.name)
        root = self._vector_index_root(view_name, index_root)
        build_ann_index(
            latest, root, dim=spec.vector_dim, id_col=key,
            vec_col=spec.name, corpus_count=corpus_count, **knobs,
        )
        return root

    def retrieve_online_documents(
        self,
        view_name: str,
        query: list[float],
        *,
        top_k: int = 10,
        index_root: str | None = None,
        store_path: str | None = None,
        features: list[str] | None = None,
        probe_all: bool = False,
        ttl: timedelta | None = None,
        now=None,
    ) -> DataFrame:
        """Top-k entities by cosine similarity to ``query`` (upstream
        ``FeatureStore.retrieve_online_documents``). Serves from the
        PERSISTED index — the query vector hashes with the index's
        stored hyperplane config, touched signature buckets prune via
        the manifest, so a point lookup reads ~n_tables/n_buckets of
        the index and never scans the corpus. Returns (join_key,
        distance) rows, optionally enriched with ``features`` from the
        view's materialized online store at ``store_path`` (the served
        values, TTL semantics and all). ``probe_all=True`` is the
        exhaustive-probe audit mode (see ``ann_index_topk``): results
        equal exact brute-force top-k, at O(index) cost per query.
        ``ttl`` + ``now`` apply read-side expiry to the ENRICHMENT only
        (read_online semantics): an entity whose store row has expired
        still ranks by vector similarity but serves NULL features —
        stale values are never returned (VERDICT r04 next #7)."""
        from feast_spark.operators.similarity import ann_index_topk

        fv = self.get_view(view_name)
        key = fv.join_keys[0]
        root = self._vector_index_root(view_name, index_root)
        q = self.spark.createDataFrame(
            [(0, [float(x) for x in query])],
            "query_id bigint, embedding array<double>",
        )
        res = (
            ann_index_topk(q, root, k=top_k, probe_all=probe_all)
            .drop("query_id")
            .withColumnRenamed("cosine", "distance")
        )
        from pyspark.sql import functions as F

        if store_path or features:
            if not store_path:
                raise ValueError("features= enrichment needs store_path=")
            keys = [r[key] for r in res.select(key).collect()]
            served = self.get_online_features(
                store_path, keys, key_col=key, ttl=ttl, now=now
            )
            cols = [key] + (features or [c for c in served.columns if c != key])
            res = res.join(served.select(*cols), key, "left")
        return res.orderBy(F.col("distance").desc(), F.col(key).asc())

    def materialize(self, view_name: str, start, end, dest: str, **kw):
        from feast_spark.materialize import MaterializeJob

        job = MaterializeJob(self.spark, self.get_view(view_name), dest, **kw)
        return job.run(start, end)

    def materialize_incremental(
        self, view_name: str, end, dest: str, *, start_default=None, **kw
    ):
        """Upstream ``FeatureStore.materialize_incremental``: resume from
        the store's last materialized end (lineage-tracked) up to
        ``end``; no-op when already caught up. First run needs
        ``start_default``."""
        from feast_spark.materialize import materialize_incremental

        return materialize_incremental(
            self.spark, self.get_view(view_name), dest, end,
            start_default=start_default, **kw,
        )

    def materialize_delta(self, view_name: str, dest: str, **kw):
        """Snapshot-delta materialization (see
        materialize.materialize_delta): reads only layout files appended
        since the store's last consumed snapshot — resume by SNAPSHOT
        where materialize_incremental resumes by time."""
        from feast_spark.materialize import materialize_delta

        return materialize_delta(self.spark, self.get_view(view_name), dest, **kw)

    # -- push source --------------------------------------------------
    def push(
        self, store_path: str, df: DataFrame, *, ts_col: str = "warc_ts",
        created_col: str | None = None,
    ) -> dict:
        """Upstream PushSource / ``push()``: land fresh feature rows
        straight in the online store without a batch materialization pass
        (the stream-ingestion write path). Merges latest-per-key into
        ONLY the touched buckets."""
        from feast_spark.materialize import push_to_online

        return push_to_online(
            self.spark, store_path, df, ts_col=ts_col, created_col=created_col
        )

    # -- saved datasets -----------------------------------------------
    def create_saved_dataset(
        self, name: str, df: DataFrame, path: str | None = None
    ) -> str:
        """Persist a retrieval result for reuse/audit (upstream
        SavedDataset): parquet + a registry record. Returns the path."""
        if path is None:
            if not self.root:
                raise ValueError("saved datasets need a store root or path")
            path = os.path.join(self.root, "saved_datasets", name)
        df.write.mode("errorifexists").parquet(path)
        self._saved[name] = {
            "path": path,
            "columns": [f.name for f in df.schema.fields],
        }
        self._save_registry()
        return path

    def get_saved_dataset(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._saved[name]["path"])
