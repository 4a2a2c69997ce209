"""S15 (engine extension): projection auto-routing for the CORPUS fact
tables — ``documents`` and ``events`` join the router's catalog.

plans/routing.py routes the lineitem star; this module generalizes the
same contract to single-table fact families declared as data
(:class:`CorpusTable`): a :class:`TableAggQuery` spec is answered from
a deployed cube when the cube SUBSUMES it, else from the raw-table
plan — bit-identically by construction, because the cube stores the
SAME per-row expressions (sources/corpus_cubes.py) the raw plan
computes per query. The subsumption rules are routing.py's, plus one
new rule the time-series family needs:

GRAIN-BOUNDARY TIME FOLDING. The events cube stores ``ts`` at HOUR
grain (``event_hour = date_trunc('hour', ts)`` — the finest grain
whose row bound stays independent of corpus size), not full
resolution, so a raw ``ts`` predicate folds only when it is equivalent
as a ROW SET to a predicate on the stored key:

- ``ts >= T`` with T on an hour boundary  ⇔  ``event_hour >= T``
  (every row of an hour ≥ T has ts ≥ the boundary; every ts ≥ T lies
  in an hour ≥ T);
- ``ts <  T`` with T on an hour boundary  ⇔  ``event_hour <  T``
  (symmetric).

Both are exact row-set equivalences, so they stay exact under
arbitrary AND/OR/NOT composition and the rewrite is just ``ts →
event_hour`` leaf by leaf. The other operators do NOT fold (``ts <=
T`` at a boundary includes ONLY the boundary instant of T's hour — the
stored key cannot express that; ``=``/``between`` are sub-grain for
the same reason) and neither does any off-boundary literal: those
specs route to the raw plan. The tempting half-open rewrite
(``BETWEEN a AND b`` → ``ts >= a AND ts < b + 1h``) would be exact
only over integer-HOUR data; the events corpus carries microsecond
timestamps, so the rewrite admits every row strictly inside b's hour
— the counterexample is computed on the fixture in
tests/test_corpus_routing.py (r6-VERDICT item 8, decided REFUSE). A
wrong-looking-but-fast rewrite is never on the table — the router
refuses, it does not approximate.

Time-GRAIN grouping folds like routing.py's trunc rule, one step
coarser: the cube's hour key is itself a trunc, and
``date_trunc(u, ts) = date_trunc(u, date_trunc('hour', ts))`` for
every u ≥ hour, so day/month/quarter/year groupings re-aggregate
stored hour groups exactly (hour grouping is the stored key
verbatim).

Measures generalize with a ``divisor`` switch: money-style measures
(events ``value``) use the int64 fixed-point arithmetic of
functions.cents with a final ``/divisor`` to double; INTEGER measures
(documents ``n_chars``, token counts) set divisor=1 and their sums
stay exact BIGINT end to end — matching what exact SQL arithmetic
produces for integer inputs. The token-count measure is the corpus
family's flagship: its per-row expression is a full tokenizer pass
(operators/text.py:25), so answering ``SUM(tokens)`` from the cube
skips not just the scan but the regex work — deploy-time compute,
query-time lookup.

At 100 TB: both cubes are scale-invariant (|langs|x|sources|,
|types|x|hours|); the raw fallbacks are one-shuffle scan+aggregate
plans with fused pre-projections (the q01 shape). Differentially
fuzzed against DuckDB in tests/test_corpus_routing.py (the
``test_random_*`` cases).
"""

from __future__ import annotations

import dataclasses as _dc
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import cents
from .routing import (
    AggCall,
    BoolPred,
    Pred,
    _StoredMeasure,
    aggregate,
    aggs_fold,
    row_measures,
)

# ---------------------------------------------------------------------------
# The spec + semantic model.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TableAggQuery:
    """A grouped/global aggregate (or DISTINCT shape when ``aggs`` is
    empty) over ONE corpus fact table. ``truncs`` declares derived
    time-grain keys exactly like AggQuery. ``dims`` declares joined
    DIMENSION tables by name (round-7: the corpus family's star arm,
    mirroring AggQuery's chain/part/supp declarations) — each is an
    engine-maintained registry keyed 1:1-and-complete on a fact
    column, so the declared inner join is row-preserving and its
    attributes are per-group constants of the fact's join key."""

    table: str
    filters: tuple  # of Pred | BoolPred, implicitly conjoined
    group_by: tuple[str, ...]
    aggs: tuple[AggCall, ...]
    truncs: tuple[tuple[str, str, str], ...] = ()
    dims: tuple[str, ...] = ()

    def group_sources(self) -> dict[str, str]:
        tm = {alias: col for alias, _unit, col in self.truncs}
        return {g: tm.get(g, g) for g in self.group_by}


@dataclass(frozen=True)
class CMeasure:
    """A corpus measure: per-row int64 expression (same arithmetic at
    deploy and query time), divisor back to double (1 = integer
    measure, sums stay BIGINT), and the COUNT/AVG source column."""

    name: str
    raw_int: Callable[[], Column]
    divisor: int
    source_col: str


# Per-row text expressions are defined ONCE, next to the cube deploy
# (sources/corpus_cubes.py) — the raw plan and the stored partials can
# never drift because they are literally the same expression.
from ..sources.corpus_cubes import (  # noqa: E402
    doc_stopword_count as _doc_stopwords,
    doc_token_count as _doc_tokens,
)


@dataclass(frozen=True)
class CorpusTable:
    """One routable corpus fact table, declared as data: its actual
    column set (unknown references refuse at parse time, never an
    AnalysisException at plan time), its measures, and which timestamp
    columns may source date_trunc grouping keys."""

    name: str
    columns: frozenset[str]
    measures: dict[str, CMeasure]
    ts_cols: frozenset[str]


@dataclass(frozen=True)
class CorpusDim:
    """A declarable dimension table for the corpus star: joined INNER
    on ``fact_key == dim_key``. The engine maintains the dim COMPLETE
    over the corpus's key values (sources/corpus_cubes.py
    refresh_sources_dim), so the inner join is row-preserving; and the
    dim key is unique by construction (one registry row per value), so
    the join is 1:1 — together these make the declared join a pure
    attribute attachment, exact on both the row-level and the
    cube-grouped path (every row of a fact group shares its key, so
    joining groups == joining rows then grouping)."""

    name: str
    fact_tables: frozenset[str]
    fact_key: str
    dim_key: str
    attrs: frozenset[str]
    open: Callable[[SparkSession, str], DataFrame]
    # column order of the registry table — the engine's dim-view
    # bookkeeping uses it to tell its own registration apart from a
    # user view that took over the name (Engine._ensure_dim_views)
    view_cols: tuple[str, ...] = ()


def _open_sources_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.corpus_cubes import sources_dim_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, sources_dim_table(spark, sf_dir))


def _open_event_types_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.corpus_cubes import event_types_dim_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, event_types_dim_table(spark, sf_dir))


CORPUS_DIMS: dict[str, CorpusDim] = {
    "sources": CorpusDim(
        name="sources",
        fact_tables=frozenset({"documents"}),
        fact_key="source",
        dim_key="src_id",
        attrs=frozenset({"s_kind", "s_tier"}),
        open=_open_sources_dim,
        view_cols=("src_id", "s_kind", "s_tier"),
    ),
    # the events star's registry arm: the hourly cube stores
    # event_type, so taxonomy groupings fold onto it the same way
    # sources attrs fold onto the docs cube
    "event_types": CorpusDim(
        name="event_types",
        fact_tables=frozenset({"events"}),
        fact_key="event_type",
        dim_key="et_id",
        attrs=frozenset({"e_category"}),
        open=_open_event_types_dim,
        view_cols=("et_id", "e_category"),
    ),
}


# Canonical column orders of the corpus facts (the maintained row-
# level layouts reorder columns — hive partition columns read back
# last — so CURRENT-relation reads re-project to the fixture order).
_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def current_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURRENT documents relation: the maintained clustered layout
    once deployed this session (refresh_warehouse appends document
    batches THERE; the fixture parquet is immutable), else the
    fixture — the corpus twin of plans.routing.current_lineitem
    (round-7 review finding: without this, a cube- or clustered-routed
    answer described base+delta while the raw fallback described base
    only). Never triggers a layout deploy. Document TOMBSTONES (S19,
    sources/retention.py) subtract here — deleted docs disappear from
    every raw plan the moment the delete commits."""
    from ..sources.retention import apply_tombstones

    from ..sources.snapshots import pinned_parquet

    memo = spark.__dict__.get("_bdp_docstore_memo", {})
    path = memo.get(sf_dir)
    if path:
        # S22: inside a snapshot read, scan only the pinned commit's
        # files (document batches APPEND into this directory)
        from ..sources.snapshots import layout_parquet

        df = (pinned_parquet(spark, path) or layout_parquet(spark, path)).select(
            *_DOC_COLS
        )
    else:
        df = table(spark, sf_dir, "documents")
    return apply_tombstones(spark, sf_dir, "documents", df)


def current_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURRENT events relation — maintained day-partitioned layout
    if deployed this session, else the fixture (same contract as
    :func:`current_documents`). The S19b retention WATERMARK
    subtracts expired rows (sources/retention.py expire_events) — on
    the day-partitioned layout the row predicate also prunes whole
    expired-day directories."""
    from ..sources.retention import apply_event_watermark, event_watermark

    from ..sources.snapshots import pinned_parquet

    memo = spark.__dict__.get("_bdp_dated_events_memo", {})
    path = memo.get(sf_dir)
    if path:
        from ..sources.snapshots import layout_parquet

        df = pinned_parquet(spark, path) or layout_parquet(spark, path)
        wm = event_watermark(spark, sf_dir)
        if wm is not None:
            # the derived day-partition conjunct must apply BEFORE the
            # projection drops event_day_p — Spark prunes hive
            # directories from partition-column predicates only
            df = df.filter(F.col("event_day_p") >= wm[:10])
        df = df.select(*_EVENT_COLS)
    else:
        df = table(spark, sf_dir, "events")
    return apply_event_watermark(spark, sf_dir, df)


def current_corpus_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "documents":
        return current_documents(spark, sf_dir)
    if name == "events":
        return current_events(spark, sf_dir)
    return table(spark, sf_dir, name)


CORPUS_TABLES: dict[str, CorpusTable] = {
    "documents": CorpusTable(
        name="documents",
        columns=frozenset({"doc_id", "text", "lang", "source", "n_chars"}),
        measures={
            "chars": CMeasure("chars", lambda: F.col("n_chars"), 1, "n_chars"),
            "tokens": CMeasure("tokens", _doc_tokens, 1, "text"),
            "stopwords": CMeasure("stopwords", _doc_stopwords, 1, "text"),
        },
        ts_cols=frozenset(),
    ),
    "events": CorpusTable(
        name="events",
        columns=frozenset(
            {"event_id", "ts", "user_id", "event_type", "value", "props"}
        ),
        measures={
            "value": CMeasure("value", lambda: cents("value"), 100, "value"),
        },
        ts_cols=frozenset({"ts"}),
    ),
}


def _used_cols(q: TableAggQuery) -> set[str]:
    used = set(q.group_sources().values())
    for f in q.filters:
        used |= f.cols()
    for a in q.aggs:
        if a.fn in ("count_distinct", "approx_distinct") and a.measure:
            used.add(a.measure)
    return used


def validate(q: TableAggQuery) -> CorpusTable:
    """Structural validation against the declared table model; raises
    ValueError (the router's refusal currency) on anything outside it.
    Declared dims widen the referencable column set by their attrs —
    a dim attribute referenced WITHOUT its declared join refuses here,
    same as routing.py's arm rules."""
    t = CORPUS_TABLES.get(q.table)
    if t is None:
        raise ValueError(f"unknown corpus table {q.table!r}")
    dim_attrs: set[str] = set()
    for name in q.dims:
        d = CORPUS_DIMS.get(name)
        if d is None:
            raise ValueError(f"unknown corpus dim {name!r}")
        if q.table not in d.fact_tables:
            raise ValueError(f"dim {name!r} does not join table {q.table!r}")
        if d.fact_key not in t.columns:
            raise ValueError(f"dim {name!r} key missing on {q.table!r}")
        dim_attrs |= d.attrs
    trunc_aliases = {a for a, _u, _c in q.truncs}
    for alias, unit, col in q.truncs:
        if col not in t.ts_cols:
            raise ValueError(f"date_trunc over non-timestamp column {col!r}")
        if unit not in ("hour", "day", "month", "quarter", "year"):
            raise ValueError(f"unsupported trunc unit {unit!r}")
    for c in _used_cols(q):
        if c not in t.columns and c not in dim_attrs:
            raise ValueError(f"unknown column {c!r} on table {q.table!r}")
    for g in q.group_by:
        if g not in trunc_aliases and g not in t.columns and g not in dim_attrs:
            raise ValueError(f"unknown grouping attribute {g!r}")
    for a in q.aggs:
        if a.fn in ("count_star", "count_distinct", "approx_distinct"):
            continue
        if a.measure not in t.measures:
            raise ValueError(f"unknown measure {a.measure!r} on {q.table!r}")
    return t


# ---------------------------------------------------------------------------
# Cube descriptors + subsumption.
# ---------------------------------------------------------------------------

_HOUR_BOUNDARY = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:00:00$")
# ts ops whose boundary form is a row-set equivalence on the stored
# hour key (see module docstring); <=/=/between are sub-grain and
# never fold.
_TS_FOLD_OPS = frozenset({">=", "<"})


def _ts_pred_folds(p: Pred) -> bool:
    return (
        p.op in _TS_FOLD_OPS
        and p.cast == "timestamp"
        and isinstance(p.value, str)
        and bool(_HOUR_BOUNDARY.match(p.value))
    )


def _filter_folds(f, attrs: frozenset[str], ts_src: str | None) -> bool:
    """A predicate tree folds when every leaf is on a stored group key
    or is an hour-boundary-foldable ts leaf; exactness composes through
    any boolean structure because each leaf rewrite is a row-set
    equivalence."""
    if isinstance(f, BoolPred):
        return all(_filter_folds(ch, attrs, ts_src) for ch in f.children)
    if f.col in attrs:
        return True
    return f.col == ts_src and _ts_pred_folds(f)


def _rewrite_ts(f, ts_src: str, time_col: str):
    """ts → stored-hour-key rewrite, leaf by leaf through the tree."""
    if isinstance(f, BoolPred):
        return BoolPred(f.op, tuple(_rewrite_ts(c, ts_src, time_col) for c in f.children))
    if f.col == ts_src:
        return _dc.replace(f, col=time_col)
    return f


@dataclass(frozen=True)
class CorpusProjection:
    """One deployed corpus cube: the plain group keys it stores, an
    optional hour-grain time key ``(stored_col, ts_source_col)``, its
    stored measure partials, and how to open it."""

    name: str
    table: str
    attrs: frozenset[str]
    measures: dict[str, _StoredMeasure]
    count_star_col: str
    open: Callable[[SparkSession, str], DataFrame]
    # (stored hour-grain col, ts source col); the stored grain is hour
    # everywhere — finer storage folds strictly more queries while the
    # row bound stays scale-invariant
    time_key: tuple[str, str] | None = None
    # approx_count_distinct support: target column -> stored HLL
    # sketch partial (mergeable by register-max union, so the cube
    # answers distinct-count questions without a distinct shuffle)
    sketches: dict[str, str] | None = None

    def subsumes(self, q: TableAggQuery) -> bool:
        if q.table != self.table:
            return False
        # Declared dim joins fold two ways: when the cube stores the
        # dim's FACT KEY, the join attaches per-key-constant attributes
        # onto stored groups (joining groups == joining rows then
        # grouping, every row of a group shares its key); when the cube
        # stores a dim ATTRIBUTE itself (user corpus projections built
        # through the dim join), that attribute is directly available.
        # Either way the declared join NEVER changes the row population
        # — the engine keeps every CorpusDim complete and 1:1 — so a
        # declared dim whose attributes the query doesn't reference
        # folds vacuously; any referenced-but-unavailable attribute
        # fails the per-column checks below.
        dim_attrs: set[str] = set()
        for name in q.dims:
            d = CORPUS_DIMS[name]
            if d.fact_key in self.attrs:
                dim_attrs |= d.attrs
        foldable = self.attrs | frozenset(dim_attrs)
        time_col, ts_src = self.time_key if self.time_key else (None, None)
        trunc_unit = {a: u for a, u, _c in q.truncs}
        trunc_src = {a: c for a, _u, c in q.truncs}
        for g, src in q.group_sources().items():
            if src in foldable:
                continue
            # a time-grain key folds when its source is the cube's ts
            # AND the requested grain is the stored hour grain or
            # coarser — a sub-hour grouping (none is currently
            # parseable, but the check is the stored-grain contract)
            # must not fold; the raw plan computes it exactly
            if (
                g in trunc_src
                and src == ts_src
                and trunc_unit[g] in ("hour", "day", "month", "quarter", "year")
            ):
                continue
            return False
        for f in q.filters:
            if not _filter_folds(f, foldable, ts_src):
                return False
        return aggs_fold(q.aggs, self.measures, foldable, self.sketches)

    def build(self, spark: SparkSession, sf_dir: str, q: TableAggQuery) -> DataFrame:
        t = CORPUS_TABLES[q.table]
        df = self.open(spark, sf_dir)
        # Declared dim joins attach BROADCAST onto the cube's groups
        # (|dim| rows is registry-sized at any corpus scale); exact
        # because dim attrs are constants of the stored fact key. A dim
        # whose referenced attributes the cube already STORES needs no
        # join at all (user corpus projections built through the dim).
        referenced = set(q.group_sources().values())
        for f in q.filters:
            referenced |= f.cols()
        referenced |= {
            a.measure for a in q.aggs if a.fn == "count_distinct" and a.measure
        }
        for name in q.dims:
            d = CORPUS_DIMS[name]
            if not ((referenced & d.attrs) - self.attrs):
                continue
            dim = d.open(spark, sf_dir)
            df = df.join(
                F.broadcast(dim), F.col(d.fact_key) == dim[d.dim_key]
            )
        time_col, ts_src = self.time_key if self.time_key else (None, None)
        # Filters BEFORE truncs (WHERE is pre-projection in SQL); ts
        # leaves rewrite onto the stored hour key.
        for p in q.filters:
            if ts_src is not None:
                p = _rewrite_ts(p, ts_src, time_col)
            df = df.filter(p.column())
        for alias, unit, col in q.truncs:
            src = time_col if col == ts_src else col
            # date_trunc(u, hour) == date_trunc(u, ts) for u >= hour;
            # the hour grain itself is the stored key verbatim
            df = df.withColumn(alias, F.date_trunc(unit, F.col(src)))
        return aggregate(
            df, q, t.measures, self.measures, self.count_star_col, self.sketches
        )


def _open_docs_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.corpus_cubes import docs_stats_cube_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, docs_stats_cube_table(spark, sf_dir))


def _open_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.corpus_cubes import events_hourly_cube_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, events_hourly_cube_table(spark, sf_dir))


CORPUS_PROJECTIONS: tuple[CorpusProjection, ...] = (
    CorpusProjection(
        name="docs_stats_cube",
        table="documents",
        attrs=frozenset({"lang", "source"}),
        measures={
            "chars": _StoredMeasure(
                "chars_i", "cnt_chars", "min_chars_i", "max_chars_i"
            ),
            "tokens": _StoredMeasure(
                "tokens_i", "cnt_text", "min_tokens_i", "max_tokens_i"
            ),
            "stopwords": _StoredMeasure(
                "stop_i", "cnt_text", "min_stop_i", "max_stop_i"
            ),
        },
        count_star_col="cnt",
        open=_open_docs_cube,
    ),
    CorpusProjection(
        name="events_hourly_cube",
        table="events",
        attrs=frozenset({"event_type"}),
        measures={
            "value": _StoredMeasure(
                "value_i", "cnt_value", "min_value_i", "max_value_i"
            ),
        },
        count_star_col="cnt",
        open=_open_events_cube,
        time_key=("event_hour", "ts"),
        sketches={"user_id": "users_hll"},
    ),
)


# ---------------------------------------------------------------------------
# The raw fallback: scan → fused pre-projection → one-shuffle aggregate
# (the q01 shape, per table).
# ---------------------------------------------------------------------------


def _raw_plan(spark: SparkSession, sf_dir: str, q: TableAggQuery) -> DataFrame:
    t = validate(q)
    df = current_corpus_table(spark, sf_dir, q.table)
    # Declared dim joins: broadcast attribute attachment, applied
    # whether or not the attrs are used (the SQL the spec mirrors
    # declares the join; the engine-maintained dim is complete, so
    # the inner join is row-preserving either way).
    for name in q.dims:
        d = CORPUS_DIMS[name]
        dim = d.open(spark, sf_dir)
        df = df.join(F.broadcast(dim), F.col(d.fact_key) == dim[d.dim_key])
    for p in q.filters:
        df = df.filter(p.column())
    for alias, unit, col in q.truncs:
        df = df.withColumn(alias, F.date_trunc(unit, F.col(col)))
    if not q.aggs:
        return df.select(*q.group_by).distinct().orderBy(*q.group_by)
    needed = sorted(
        {
            a.measure
            for a in q.aggs
            if a.measure and a.fn not in ("count_distinct", "approx_distinct")
        }
    )
    int_cols = {m: f"__{m}_i" for m in needed}
    cnt_cols = {
        m: t.measures[m].source_col
        for m in needed
        if any(a.fn in ("count", "avg") and a.measure == m for a in q.aggs)
    }
    cd_cols = sorted(
        {
            a.measure
            for a in q.aggs
            if a.fn in ("count_distinct", "approx_distinct")
        }
    )
    keep = list(
        dict.fromkeys(
            list(q.group_by) + sorted(cnt_cols.values()) + cd_cols
        )
    )
    pre = df.select(
        *keep, *[t.measures[m].raw_int().alias(int_cols[m]) for m in needed]
    )
    return aggregate(
        pre, q, t.measures, row_measures(int_cols, t.measures), None, None
    )


# ---------------------------------------------------------------------------
# The router.
# ---------------------------------------------------------------------------


def route_corpus(
    spark: SparkSession, sf_dir: str, q: TableAggQuery
) -> tuple[DataFrame, str]:
    """Answer ``q`` from the subsuming corpus cube, else the raw plan.
    Returns (result, chosen); tests assert on ``chosen``.

    Candidate order mirrors routing.route: built-in cubes (measured
    cost order), then session-deployed USER corpus projections
    (sources/corpus_user_projections.py — names prefixed "user:"),
    then the raw plan."""
    from ..sources.corpus_user_projections import corpus_user_projections

    validate(q)
    for proj in (*CORPUS_PROJECTIONS, *corpus_user_projections(spark, sf_dir)):
        if proj.subsumes(q):
            return proj.build(spark, sf_dir, q), proj.name
    return _raw_plan(spark, sf_dir, q), "raw"


# ---------------------------------------------------------------------------
# Scan routing: layout selection for row-level corpus queries. The
# events table gets the S14 treatment at DAY grain (an event log is
# written continuously and queried in short windows — "yesterday's
# errors" should open one directory out of the corpus's thousands).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TableScanQuery:
    """A projection+filter query over corpus-table rows (no
    aggregation). The router picks the physical LAYOUT; content is
    identical whichever layout answers. Filters may be Pred or
    BoolPred trees (applied row-level either way); only TOP-LEVEL
    plain Preds participate in layout selection and bound derivation."""

    table: str
    columns: tuple[str, ...]
    filters: tuple  # of Pred | BoolPred, implicitly conjoined


_RANGE_OPS = frozenset({"<=", "<", ">=", ">", "=", "between", "in"})


def route_corpus_scan(
    spark: SparkSession, sf_dir: str, q: TableScanQuery
) -> tuple[DataFrame, str]:
    """Answer a corpus scan from the best-covering layout: the
    day-partitioned events layout when the query carries a ts range
    (directory pruning via day bounds DERIVED from the predicates — a
    superset constraint, so a derivation bug can only over-read; the
    exact row filters run after), else the raw table. Mirrors
    routing.route_scan for the corpus tables."""
    t = CORPUS_TABLES.get(q.table)
    if t is None:
        raise ValueError(f"unknown corpus table {q.table!r}")
    used = set(q.columns)
    for p in q.filters:
        used |= p.cols()
    bad = used - t.columns
    if bad:
        raise ValueError(f"unknown column {sorted(bad)[0]!r} on {q.table!r}")
    has_ts_range = q.table == "events" and any(
        isinstance(p, Pred) and p.col == "ts" and p.op in _RANGE_OPS
        for p in q.filters
    )
    has_docs_cluster_key = q.table == "documents" and any(
        isinstance(p, Pred) and p.col in ("lang", "source") and p.op in _RANGE_OPS
        for p in q.filters
    )
    from ..sources.retention import apply_tombstones

    from ..sources.snapshots import pinned_parquet

    if has_ts_range:
        from ..sources.dated import dated_events, day_bounds_filter

        from ..sources.snapshots import layout_parquet

        dep = dated_events(spark, sf_dir)
        df = pinned_parquet(spark, dep) or layout_parquet(spark, dep)
        days = day_bounds_filter(q.filters)
        if days is not None:
            df = df.filter(days)
        # S19b watermark: expired rows subtract, and the derived
        # day-partition conjunct prunes whole expired directories
        from ..sources.retention import event_watermark

        wm = event_watermark(spark, sf_dir)
        if wm is not None:
            df = df.filter(
                (F.col("event_day_p") >= wm[:10])
                & (F.col("ts") >= F.lit(wm).cast("timestamp"))
            )
        chosen = "dated_events"
    elif has_docs_cluster_key:
        # lang is a REAL hive partition column on this layout, so the
        # plain row filter below prunes directories by itself (no
        # derived superset filter needed); source/n_chars predicates
        # skip via the in-partition range sort's min-max stats.
        from ..sources.docstore import clustered_documents

        from ..sources.snapshots import layout_parquet

        cdp = clustered_documents(spark, sf_dir)
        df = pinned_parquet(spark, cdp) or layout_parquet(spark, cdp)
        # S19: deleted docs stay in the clustered bytes until the
        # scheduled OPTIMIZE rewrite; reads subtract
        df = apply_tombstones(spark, sf_dir, "documents", df)
        chosen = "clustered_documents"
    else:
        df = current_corpus_table(spark, sf_dir, q.table)  # tombstone-aware
        chosen = "raw"
    for p in q.filters:
        df = df.filter(p.column())
    return df.select(*q.columns), chosen


# ---------------------------------------------------------------------------
# Driver query: sketch-partial distinct counting (rows-only by design —
# DuckDB's approx_count_distinct is a different sketch, so there is no
# cross-engine twin; the exactness claim routed == raw-single-pass and
# the error bound vs true COUNT(DISTINCT) are pinned in
# tests/test_corpus_routing.py, the same posture as the r25/r26
# sketches).
# ---------------------------------------------------------------------------

from ..registry import query  # noqa: E402


@query("q21_events_distinct_users", oracle=None, tags=("S15", "A6"))
def q21_events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the cube's MERGEABLE HLL
    sketch partials: the hourly rollup stores hll_sketch_agg(user_id)
    per (type, hour); re-aggregating a distinct count is then
    register-max union + estimate over a scale-invariant cube — no
    distinct shuffle over the corpus, the Druid/Pinot sketch-rollup
    pattern. The estimate equals the raw single-pass sketch exactly
    (union is register-max, so merged register state == single-pass
    state — asserted in tests)."""
    q = TableAggQuery(
        "events",
        (),
        ("event_type",),
        (
            AggCall("approx_distinct", "user_id", "approx_users"),
            AggCall("count_star", None, "n"),
        ),
    )
    df, chosen = route_corpus(spark, sf_dir, q)
    assert chosen == "events_hourly_cube", chosen
    return df
