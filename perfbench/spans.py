"""Span tracing of the engine's layers and per-operation Spark accounting.

Used only by the traced run (``--trace 1``); end-to-end numbers come
from untraced runs. Nothing in the engine changes: :meth:`Tracer.install`
replaces each layer's public functions with timing wrappers on the
module that defines them, on every engine module that bound the same
function object by name at import (``from ..catalog import table``),
on the query registry entries that hold them, and on the classes whose
methods are layers (``Engine.sql``). :meth:`Tracer.uninstall` puts the
originals back. Outside :meth:`Tracer.operation` every wrapper calls
straight through and records nothing, so set-up, output checks and the
untraced comparison runs leave no span and touch no counter.

A span records layer, name, op id, start, end, parent and whether it
raised. A layer's self time is its spans' time minus the part of each
span covered by its child spans (children may overlap in time when
``session.run_parallel`` runs legs on worker threads, so covered time
is the union of the child intervals).

Spark work is attributed per operation: each op runs under its own job
group, the job ids it started are the DAG scheduler's job counter range
across the op, and stage metrics come from the live status store
(``spark.ui.enabled=false`` still keeps it). ``run_parallel`` legs get
the op's job group and parent span on their worker threads, so every
job in the range belongs to the op's group.
"""

from __future__ import annotations

import dataclasses
import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (layer, module, function names). Layers are named after this
# repo's modules.
_FUNCS: tuple[tuple[str, str, tuple[str, ...]], ...] = (
    ("sqlfront.parse", "bigdataproj_spark.plans.sqlfront", ("parse_sql",)),
    ("sqlfront.route", "bigdataproj_spark.plans.sqlfront", ("route_sql",)),
    ("routing.route", "bigdataproj_spark.plans.routing", ("route", "route_scan")),
    (
        "corpus_routing.route",
        "bigdataproj_spark.plans.corpus_routing",
        ("route_corpus", "route_corpus_scan"),
    ),
    ("ddl.verb", "bigdataproj_spark.plans.ddl", ("try_ddl",)),
    ("maintenance.refresh", "bigdataproj_spark.sources.maintenance", ("refresh_warehouse",)),
    ("maintenance.optimize", "bigdataproj_spark.sources.maintenance", ("optimize_warehouse",)),
    ("maintenance.gc", "bigdataproj_spark.sources.maintenance", ("gc_warehouse",)),
    (
        "bucketed.refresh",
        "bigdataproj_spark.sources.bucketed",
        (
            "refresh_order_revenue_rollup",
            "refresh_orders_denorm",
            "refresh_segment_cube",
            "refresh_pricing_cube",
            "refresh_star_date_cube",
        ),
    ),
    (
        "corpus_cubes.refresh",
        "bigdataproj_spark.sources.corpus_cubes",
        (
            "refresh_sources_dim",
            "refresh_event_types_dim",
            "refresh_docs_cube",
            "refresh_events_cube",
        ),
    ),
    ("snapshots.commit", "bigdataproj_spark.sources.snapshots", ("record_commit",)),
    ("snapshots.table_changes", "bigdataproj_spark.sources.snapshots", ("table_changes",)),
    (
        "retention.delete",
        "bigdataproj_spark.sources.retention",
        ("delete_documents", "delete_orders", "expire_events"),
    ),
    ("catalog.table", "bigdataproj_spark.catalog", ("table",)),
    ("session.run_parallel", "bigdataproj_spark.session", ("run_parallel",)),
)
_METHODS: tuple[tuple[str, str, str, tuple[str, ...]], ...] = (
    ("engine.sql", "bigdataproj_spark.engine", "Engine", ("sql",)),
    ("engine.query", "bigdataproj_spark.engine", "Engine", ("query",)),
    (
        "cdc.poll",
        "bigdataproj_spark.streaming.cdc",
        "CdcConsumer",
        ("poll",),
    ),
    (
        "cdc.poll",
        "bigdataproj_spark.streaming.cdc",
        "CdcProjectionConsumer",
        ("poll",),
    ),
)
# Operator layers: every public function the module defines.
_OPERATORS: tuple[tuple[str, str], ...] = (
    ("operators.dedup", "bigdataproj_spark.operators.dedup"),
    ("operators.similarity", "bigdataproj_spark.operators.similarity"),
    ("operators.text", "bigdataproj_spark.operators.text"),
    ("operators.graph", "bigdataproj_spark.operators.graph"),
)
# Layout/cube deploy entry points: a call that starts Spark jobs built
# a layout (a memoized call starts none).
_DEPLOYS: tuple[tuple[str, tuple[str, ...]], ...] = (
    (
        "bigdataproj_spark.sources.bucketed",
        (
            "bucketed_fact_tables",
            "order_revenue_projection",
            "pricing_cube_table",
            "star_date_cube_table",
            "segment_cube_table",
        ),
    ),
    (
        "bigdataproj_spark.sources.corpus_cubes",
        (
            "sources_dim_table",
            "event_types_dim_table",
            "docs_stats_cube_table",
            "events_hourly_cube_table",
        ),
    ),
    ("bigdataproj_spark.sources.zorder", ("zordered_lineitem",)),
    ("bigdataproj_spark.sources.dated", ("dated_lineitem", "dated_events")),
)
# Every layer the traced run reports, in report order.
LAYERS: tuple[str, ...] = tuple(
    dict.fromkeys(
        [m[0] for m in _METHODS]
        + [f[0] for f in _FUNCS]
        + [o[0] for o in _OPERATORS]
        + ["layouts.deploy"]
    )
)


@dataclasses.dataclass
class Span:
    op: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    error: bool = False


@dataclasses.dataclass
class OpSpark:
    """Spark work of one operation, read from the status store."""

    op: int
    wall: float
    jobs: int
    group_jobs: int
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_busy: float = 0.0
    run: float = 0.0
    cpu: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans around the engine's layers and Spark work per op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self.op_spark: list[OpSpark] = []
        self.op: int | None = None
        self.group: str | None = None
        self.routed_offered = 0
        self.routed_answered = 0
        self.parallel_legs = 0
        self.deploys = 0
        self.verbs: dict[str, int] = defaultdict(int)
        self.active = False  # True only inside operation()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._registry_patches: list[tuple[str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str):
        st = self._stack()
        sp = Span(self.op, layer, name, time.perf_counter(), parent=st[-1] if st else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        st.append(idx)
        try:
            yield sp
        except BaseException as e:
            # the SQL front door's refusal is its normal fall-through
            # to spark.sql, not a failure
            sp.error = type(e).__name__ != "UnsupportedSQL"
            raise
        finally:
            sp.end = time.perf_counter()
            st.pop()

    def _wrap(self, layer: str, fn):
        special = {
            "sqlfront.route": self._route_sql,
            "ddl.verb": self._try_ddl,
            "session.run_parallel": self._run_parallel,
        }.get(layer)
        name = fn.__qualname__

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer, name) as sp:
                if special is not None:
                    return special(fn, sp, args, kwargs)
                return fn(*args, **kwargs)

        return wrapper

    def _route_sql(self, fn, sp, args, kwargs):
        with self._lock:
            self.routed_offered += 1
        df, chosen = fn(*args, **kwargs)  # raises UnsupportedSQL if refused
        if chosen != "raw":
            with self._lock:
                self.routed_answered += 1
        return df, chosen

    def _try_ddl(self, fn, sp, args, kwargs):
        out = fn(*args, **kwargs)
        if out is not None:
            sql = kwargs.get("sql", args[2] if len(args) > 2 else "")
            verb = (sql.split(None, 1) or ["?"])[0].upper()
            sp.name = f"try_ddl:{verb}"
            with self._lock:
                self.verbs[verb] += 1
        return out

    def _run_parallel(self, fn, sp, args, kwargs):
        with self._lock:
            self.parallel_legs += len(args)
        caller = threading.get_ident()
        parent = self._stack()[-1]
        group, sc = self.group, self.sc

        def leg(thunk):
            def run():
                if threading.get_ident() == caller:
                    return thunk()
                if group is not None:
                    sc.setJobGroup(group, "perfbench parallel leg")
                self._local.stack = [parent]
                return thunk()

            return run

        return fn(*[leg(t) for t in args], **kwargs)

    def _wrap_deploy(self, fn):
        ds = self._jsc.dagScheduler()

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = self.active and not getattr(self._local, "in_deploy", False)
            if not outer:
                return fn(*args, **kwargs)
            self._local.in_deploy = True
            j0 = ds.numTotalJobs()
            try:
                with self.span("layouts.deploy", fn.__qualname__):
                    return fn(*args, **kwargs)
            finally:
                self._local.in_deploy = False
                if ds.numTotalJobs() > j0:
                    with self._lock:
                        self.deploys += 1

        return wrapper

    # -- installation ----------------------------------------------------
    def _replace_everywhere(self, orig, new) -> None:
        """Point every engine module attribute and registry entry that
        holds ``orig`` at ``new``."""
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("bigdataproj_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, new)
        from bigdataproj_spark import registry

        for qname, q in list(registry._REGISTRY.items()):
            if q.build is orig:
                self._registry_patches.append((qname, q))
                registry._REGISTRY[qname] = dataclasses.replace(q, build=new)

    def install(self) -> None:
        import importlib

        from bigdataproj_spark.registry import load_all

        load_all()  # import every registry module before scanning
        for layer, modname, names in _FUNCS:
            mod = importlib.import_module(modname)
            for n in names:
                orig = getattr(mod, n)
                self._replace_everywhere(orig, self._wrap(layer, orig))
        for layer, modname, cls_name, names in _METHODS:
            cls = getattr(importlib.import_module(modname), cls_name)
            for n in names:
                orig = cls.__dict__[n]
                self._patches.append((cls, n, orig))
                setattr(cls, n, self._wrap(layer, orig))
        for layer, modname in _OPERATORS:
            mod = importlib.import_module(modname)
            for n, orig in list(vars(mod).items()):
                if (
                    inspect.isfunction(orig)
                    and orig.__module__ == modname
                    and not n.startswith("_")
                ):
                    self._replace_everywhere(orig, self._wrap(layer, orig))
        for modname, names in _DEPLOYS:
            mod = importlib.import_module(modname)
            for n in names:
                orig = getattr(mod, n)
                self._replace_everywhere(orig, self._wrap_deploy(orig))

    def uninstall(self) -> None:
        from bigdataproj_spark import registry

        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        for qname, q in reversed(self._registry_patches):
            registry._REGISTRY[qname] = q
        self._patches.clear()
        self._registry_patches.clear()

    # -- operations ------------------------------------------------------
    @contextmanager
    def operation(self, op: int, label: str):
        """Run one timed operation under its own job group and root
        span; the Spark accounting is read afterwards by
        :meth:`account`."""
        ds = self._jsc.dagScheduler()
        # unique per tracer: a session may outlive one tracer's op ids
        self.op, self.group = op, f"perfbench-{id(self):x}-op-{op}"
        self.sc.setJobGroup(self.group, label[:80])
        j0 = ds.numTotalJobs()
        t0 = time.perf_counter()
        self.active = True
        try:
            with self.span("op", label):
                yield
        finally:
            self.active = False
            wall = time.perf_counter() - t0
            self._pending = (op, self.group, j0, ds.numTotalJobs(), wall)
            self.op = self.group = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def account(self) -> OpSpark:
        """Read the last operation's jobs and stages from the status
        store (outside the timed region)."""
        op, group, j0, j1, wall = self._pending
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        rec = OpSpark(
            op=op,
            wall=wall,
            jobs=j1 - j0,
            group_jobs=len(self.sc.statusTracker().getJobIdsForGroup(group)),
        )
        intervals = []
        stage_ids: set[int] = set()
        for j in range(j0, j1):
            try:
                jd = store.job(j)
            except Py4JJavaError:
                continue
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (
                        jd.submissionTime().get().getTime() / 1000.0,
                        jd.completionTime().get().getTime() / 1000.0,
                    )
                )
            ids = jd.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            rec.stages += 1
            rec.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            rec.failed_tasks += sd.numFailedTasks()
            rec.run += sd.executorRunTime() / 1000.0
            rec.cpu += sd.executorCpuTime() / 1e9
            rec.input_bytes += sd.inputBytes()
            rec.shuffle_write_bytes += sd.shuffleWriteBytes()
            rec.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        rec.job_busy = _union_length(intervals)
        self.op_spark.append(rec)
        return rec

    # -- reports ---------------------------------------------------------
    def layer_table(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per layer over the given ops: span count, self seconds,
        share of op wall and spans that raised."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                children[sp.parent].append(i)
        table = {
            layer: {"count": 0, "self_s": 0.0, "share": 0.0, "errors": 0}
            for layer in LAYERS
        }
        op_wall = 0.0
        for i, sp in enumerate(self.spans):
            if sp.op not in ops:
                continue
            kids = [
                (max(self.spans[c].start, sp.start), min(self.spans[c].end, sp.end))
                for c in children[i]
            ]
            self_s = (sp.end - sp.start) - _union_length(
                [(s, e) for s, e in kids if e > s]
            )
            if sp.layer == "op":
                op_wall += sp.end - sp.start
                continue
            row = table.setdefault(
                sp.layer, {"count": 0, "self_s": 0.0, "share": 0.0, "errors": 0}
            )
            row["count"] += 1
            row["self_s"] += self_s
            row["errors"] += int(sp.error)
        for row in table.values():
            row["share"] = row["self_s"] / op_wall if op_wall else 0.0
        return table
