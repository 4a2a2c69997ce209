"""S16 (engine extension): USER-DECLARED projections — the router's
catalog becomes data.

Every projection the router serves so far (pricing cube, rollup pair,
star-date cube, the corpus cubes) is a built-in: its group keys and
stored partials were chosen by the engine's authors and registered in
code. A warehouse team's actual workflow is the other way around —
they look at THEIR query mix, declare the aggregate view it needs, and
expect the optimizer to start using it (CREATE MATERIALIZED VIEW +
automatic rewrite; same Goldstein-Larson matching the built-ins use,
see plans/routing.py). :func:`deploy_projection` is that surface:

    deploy_projection(spark, sf_dir, "prio_flag",
                      keys=("o_orderpriority", "l_returnflag"))

materializes the cube (int64 fixed-point sums, non-null counts,
min/max partials — the SAME stored-state contract as every built-in,
so answers are bit-identical by construction), registers it in a
session catalog that :func:`plans.routing.route` consults after the
built-ins, and from that moment every matching spec AND every matching
SQL statement through the front door is answered from it — the caller
of those queries never learns a projection exists.
:func:`refresh_projection` delta-merges ingest batches into it
(commutative-monoid merge, rebuild-equal), and
:func:`sources.maintenance.refresh_warehouse` refreshes every deployed
user projection alongside the built-ins.

Scope (v2, enforced at deploy): group keys from the lineitem fact,
the order dimension chain, and the part/supplier arms; measures from
the five lineitem money measures plus the four arm-home money
measures (o_totalprice, c_acctbal, p_retailprice, s_acctbal —
computed post-join with the statement's lineitem-multiplicity
weighting). The view records WHICH joins its build ran (chain depth +
arm set) and answers exactly the specs declaring the same set —
inner-join orphan-drop semantics are part of a query's meaning, and
the router never assumes FK integrity. Lifecycle: deploy /
ensure (idempotent) / refresh (delta-merge) / drop (deregister;
files await scheduled GC) / list. Cardinality is the deployer's
responsibility exactly as in every warehouse (a cube keyed by a
near-unique column is a bad view, not a wrong one — the stored row
count is one ``spark.read.parquet(path).count()`` away).

At 100 TB: the deploy is one pass over the bucketed fact (derived
fixed-point columns already materialized at rest) plus the broadcast
dimension arm; the stored cube is |key-combination|-bounded and the
refresh is O(|delta| + |cube|).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.routing import (
    DIM_ATTRS,
    LINEITEM_COLS,
    MEASURES,
    PART_ATTRS,
    SUPP_ATTRS,
    Projection,
    _SPINE_INT_COLS,
    _StoredMeasure,
)
from ..catalog import table
from .bucketed import _layout_paths, _lineitem_with_derived, bucketed_fact_tables
from .corpus_cubes import merge_partial_frames
from .snapshots import next_version

# the five lineitem measures, whose int columns the bucketed fact stores
_ALL_MEASURES = tuple(_SPINE_INT_COLS)
# Round-7 (v2): arm-home measures are declarable too. Each computes
# post-join from its MEASURES entry (the same cents() arithmetic the
# row-level plans run); declaring one pulls in the measure's home join
# exactly like declaring one of that side's group keys.
_ARM_MEASURES = ("order_total", "cust_acctbal", "part_retail", "supp_acctbal")
_USER_MEASURES = _ALL_MEASURES + _ARM_MEASURES
# minimal chain an order-home measure's source column needs
_MEASURE_CHAIN = {"order_total": 1, "cust_acctbal": 2}


def _int_src(m: str) -> str:
    """The int64 column a measure's partials aggregate FROM in the
    cube build: the bucketed fact's at-rest derived column for
    lineitem measures, a post-join materialized expression otherwise."""
    return _SPINE_INT_COLS.get(m, f"__{m}_raw_i")


@dataclass
class _UserProjection:
    """Catalog entry: the router-facing Projection plus the refresh
    metadata (keys/measures/chain/arms and the current stored path,
    swung atomically on refresh)."""

    name: str
    keys: tuple[str, ...]
    measures: tuple[str, ...]
    chain: int
    path: str  # current stored version (swung atomically on refresh)
    base_path: str  # immutable deploy path; refresh versions derive from it
    projection: Projection
    part: bool = False
    supp: bool = False


def _catalog(spark: SparkSession, sf_dir: str) -> dict[str, _UserProjection]:
    root: dict = spark.__dict__.setdefault("_bdp_user_projections", {})
    return root.setdefault(sf_dir, {})


def user_projections(spark: SparkSession, sf_dir: str) -> list[Projection]:
    """The session's deployed user projections, in deployment order —
    consulted by plans.routing.route() after the built-in catalog."""
    return [u.projection for u in _catalog(spark, sf_dir).values()]


def view_columns(measures: tuple[str, ...], model: dict):
    """The partial columns a user view stores, for both families: per
    measure ``{m}_i`` (int64 sum), ``cnt_{m}`` (non-null count, when
    the measure has a source column in ``model``), ``min_{m}_i`` and
    ``max_{m}_i``, plus the COUNT(*) column ``cnt``. Returns the
    router-facing stored measures and the (additive, min, max) column
    sets a refresh merges a delta cube with."""
    stored = {
        m: _StoredMeasure(
            f"{m}_i",
            f"cnt_{m}" if model[m].source_col else None,
            f"min_{m}_i",
            f"max_{m}_i",
        )
        for m in measures
    }
    sms = stored.values()
    add = (
        *(s.int_col for s in sms), *(s.cnt_col for s in sms if s.cnt_col), "cnt"
    )
    mins = tuple(s.min_col for s in sms)
    maxs = tuple(s.max_col for s in sms)
    return stored, (add, mins, maxs)


def _partial_aggs(measures: tuple[str, ...]) -> list:
    stored, _ = view_columns(measures, MEASURES)
    aggs = [F.sum(_int_src(m)).alias(s.int_col) for m, s in stored.items()]
    aggs += [
        F.count(MEASURES[m].source_col).alias(s.cnt_col)
        for m, s in stored.items()
        if s.cnt_col
    ]
    aggs.append(F.count(F.lit(1)).alias("cnt"))
    aggs += [F.min(_int_src(m)).alias(s.min_col) for m, s in stored.items()]
    aggs += [F.max(_int_src(m)).alias(s.max_col) for m, s in stored.items()]
    return aggs


def _dim_side(
    spark: SparkSession,
    sf_dir: str,
    chain: int,
    attrs: list[str],
    orders_df: DataFrame | None = None,
) -> DataFrame:
    """The dimension side of a user projection's build/refresh: the
    MAINTAINED bucketed orders table (refresh_warehouse appends ingest
    batches to it — the raw fixture parquet is immutable, so reading
    it here would silently drop newly ingested orders' lineitems from
    every chain>=1 user projection on refresh), joined to the
    broadcast customer/nation/region base dims exactly like the denorm
    refresh does.

    Deliberately NOT tombstone-filtered (S19): the lineitem side of
    every build/refresh/delete computation is, and order deletes
    cascade, so a surviving lineitem's order is always alive — while
    the DELETE path needs this side to still resolve the DELETED
    rows' dimension attributes when computing which groups to
    rebuild (sources/retention.py delete_orders).

    ``orders_df`` overrides the orders side: the order-UPDATE
    reattribution (sources/retention.py reattribute_order_updates)
    passes the PRE-update rows of the conflicting orders so the OLD
    group attribution can still be computed after the upsert."""
    if orders_df is not None:
        dims = orders_df
    else:
        _, od_name = bucketed_fact_tables(spark, sf_dir)
        dims = spark.table(od_name)
    if chain >= 2:
        c = table(spark, sf_dir, "customer")
        dims = dims.join(F.broadcast(c), dims.o_custkey == c.c_custkey)
    if chain >= 3:
        n = table(spark, sf_dir, "nation")
        dims = dims.join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
    if chain >= 4:
        r = table(spark, sf_dir, "region")
        dims = dims.join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    return dims.select("o_orderkey", *attrs)


def _build_cube(
    spark: SparkSession,
    sf_dir: str,
    li: DataFrame,
    keys: tuple[str, ...],
    measures: tuple[str, ...],
    chain: int,
    part: bool = False,
    supp: bool = False,
    group_filter: DataFrame | None = None,
    orders_override: DataFrame | None = None,
) -> DataFrame:
    """The deploy/refresh cube build: fact ⋈ declared arms, arm-home
    measure ints materialized post-join, one grouped partial
    aggregation. Each arm carries only its group keys plus the source
    columns of its home measures.

    ``group_filter`` (a DataFrame of group-key tuples) semi-filters the
    ROWS — after the arm joins make every key column available, BEFORE
    the groupBy — so an affected-group recompute aggregates only the
    surviving rows of the touched groups (delete-sized set, broadcast
    semi), never the corpus (sources/retention.py)."""

    def _srcs(home: str) -> set[str]:
        return {
            MEASURES[m].source_col
            for m in measures
            if MEASURES[m].home == home and MEASURES[m].source_col
        }

    dim_attrs = sorted({k for k in keys if k in DIM_ATTRS} | _srcs("order"))
    part_attrs = sorted({k for k in keys if k in PART_ATTRS} | _srcs("part"))
    supp_attrs = sorted({k for k in keys if k in SUPP_ATTRS} | _srcs("supp"))
    if chain:
        # no shuffle_hash hint on the DEPLOY/refresh join: a per-task
        # hash relation cannot spill and OOMs at scale (measured on
        # the segment cube at sf20 — sources/bucketed.py); sort-merge
        # over the bucket-aligned orders side spills gracefully
        dims = _dim_side(spark, sf_dir, chain, dim_attrs, orders_override)
        li = li.join(dims, li.l_orderkey == dims.o_orderkey)
    if part:
        pa = table(spark, sf_dir, "part").select("p_partkey", *part_attrs)
        li = li.join(pa, F.col("l_partkey") == pa.p_partkey)
    if supp:
        su = table(spark, sf_dir, "supplier").select("s_suppkey", *supp_attrs)
        li = li.join(su, F.col("l_suppkey") == su.s_suppkey)
    for m in measures:
        if MEASURES[m].home != "lineitem":
            li = li.withColumn(_int_src(m), MEASURES[m].raw_int())
    if group_filter is not None:
        li = li.join(F.broadcast(group_filter), list(keys), "semi")
    return li.groupBy(*keys).agg(*_partial_aggs(measures))


def deploy_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] = _ALL_MEASURES,
) -> Projection:
    """Materialize a user-declared aggregate projection and register
    it with the router. Group keys may mix lineitem attributes,
    order-chain dimension attributes, and (v2) part/supplier arm
    attributes — the chain depth and arm set are the minimal ones
    reaching every declared key and measure, the same inner-join
    semantics the built-ins and the raw plans share (and the same
    rule Projection.subsumes enforces: the view answers exactly the
    specs declaring that join set). Measures may include the arm-home
    money measures; declaring one pulls in its home join.
    Re-deploying a name replaces it. Returns the router-facing
    Projection."""
    if not keys:
        raise ValueError("a projection needs at least one group key")
    for k in keys:
        if (
            k not in LINEITEM_COLS
            and k not in DIM_ATTRS
            and k not in PART_ATTRS
            and k not in SUPP_ATTRS
        ):
            raise ValueError(f"unknown projection key {k!r}")
    for m in measures:
        if m not in _USER_MEASURES:
            raise ValueError(
                f"unknown measure {m!r} (deployable: {sorted(_USER_MEASURES)})"
            )
    chain = max(
        (
            *(DIM_ATTRS.get(k, 0) for k in keys),
            *(_MEASURE_CHAIN.get(m, 0) for m in measures),
        ),
        default=0,
    )
    part = any(k in PART_ATTRS for k in keys) or any(
        MEASURES[m].home == "part" for m in measures
    )
    supp = any(k in SUPP_ATTRS for k in keys) or any(
        MEASURES[m].home == "supp" for m in measures
    )
    from .retention import apply_tombstones

    tag, wh = _layout_paths(sf_dir)
    li_name, _ = bucketed_fact_tables(spark, sf_dir)
    cube = _build_cube(
        spark, sf_dir,
        apply_tombstones(
            spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
        ),
        keys, measures, chain, part, supp,
    )
    path = os.path.join(wh, f"user_proj_{name}_{tag}")
    cube.write.mode("overwrite").parquet(path)
    from .snapshots import evict_versioned_scan

    evict_versioned_scan(spark, path)  # redeploy overwrites the base path

    cat = _catalog(spark, sf_dir)

    def _open(s: SparkSession, d: str) -> DataFrame:
        from .snapshots import versioned_parquet

        return versioned_parquet(s, cat[name].path)  # current version (immutable path)

    proj = Projection(
        name=f"user:{name}",
        attrs=frozenset(keys),
        measures=view_columns(measures, MEASURES)[0],
        count_star_col="cnt",
        open=_open,
        chain=chain,
        part=part,
        supp=supp,
    )
    cat[name] = _UserProjection(
        name, tuple(keys), tuple(measures), chain, path, path, proj,
        part=part, supp=supp,
    )
    return proj


def drop_projection(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """Deregister a user projection: the router stops consulting it
    immediately; matching SQL falls back to the next candidate (spine
    or raw) on the very next statement. Returns False when no such
    projection is deployed. Stored files are left for the warehouse's
    scheduled GC (a reader planned before the drop may still be
    scanning them — the same reason every refresh writes new versions
    instead of deleting)."""
    return _catalog(spark, sf_dir).pop(name, None) is not None


def list_projections(spark: SparkSession, sf_dir: str) -> list[dict]:
    """The session's user-projection catalog, as plain dicts (the
    introspection surface: SHOW MATERIALIZED VIEWS)."""
    return [
        {
            "name": u.name,
            "keys": u.keys,
            "measures": u.measures,
            "chain": u.chain,
            "part": u.part,
            "supp": u.supp,
            "path": u.path,
        }
        for u in _catalog(spark, sf_dir).values()
    ]


def ensure_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] = _ALL_MEASURES,
) -> Projection:
    """Idempotent deploy: reuse the registered projection when its
    declaration matches, else (re)deploy."""
    u = _catalog(spark, sf_dir).get(name)
    if u and u.keys == tuple(keys) and u.measures == tuple(measures):
        return u.projection
    return deploy_projection(spark, sf_dir, name, tuple(keys), tuple(measures))


def refresh_projection(
    spark: SparkSession, sf_dir: str, name: str, delta_lineitem: DataFrame
) -> str:
    """Delta-merge one ingested lineitem batch into a deployed user
    projection. Dimension keys resolve through the MAINTAINED bucketed
    orders table (plus the broadcast base dims), so a batch shipping
    new orders WITH their lineitems is handled correctly as long as
    the orders land first — exactly the ordering refresh_warehouse
    encodes (orders append + denorm upsert before every
    lineitem-driven refresh). Additive monoid merge == rebuild, same
    argument as every built-in cube; publishes a new VERSION the
    catalog swings to atomically."""
    cat = _catalog(spark, sf_dir)
    if name not in cat:
        raise KeyError(f"no deployed projection {name!r}")
    u = cat[name]
    delta_cube = _build_cube(
        spark, sf_dir, _lineitem_with_derived(delta_lineitem),
        u.keys, u.measures, u.chain, u.part, u.supp,
    )
    add, mins, maxs = view_columns(u.measures, MEASURES)[1]
    merged = merge_partial_frames(
        spark.read.parquet(u.path), delta_cube, u.keys, add, mins, maxs
    )
    new_path = next_version(spark, u.base_path)
    merged.write.mode("overwrite").parquet(new_path)
    u.path = new_path
    return new_path


def refresh_all_projections(
    spark: SparkSession, sf_dir: str, delta_lineitem: DataFrame
) -> dict[str, str]:
    """Refresh every deployed user projection for ``sf_dir`` — the
    hook refresh_warehouse calls after the built-ins."""
    return {
        name: refresh_projection(spark, sf_dir, name, delta_lineitem)
        for name in list(_catalog(spark, sf_dir))
    }
