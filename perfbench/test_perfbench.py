"""The benchmark's own tests: seeded inputs, traced layers, and the
runner's refusal outside an engine checkout.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q

The traced-layer test starts a Spark session and runs each workload's
set-up and measured rounds on small generated data (a few minutes on
four cores).
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import workloads  # noqa: E402

# Layers each workload must exercise (the layer -> workload map in
# perfbench/README.md).
OLAP_LAYERS = (
    "engine.sql", "engine.query", "sqlfront.parse", "sqlfront.route",
    "routing.route", "corpus_routing.route", "catalog.table",
    "operators.dedup", "operators.similarity", "operators.text",
)
DML_LAYERS = (
    "engine.sql", "ddl.verb", "maintenance.refresh", "maintenance.optimize",
    "maintenance.gc", "bucketed.refresh", "corpus_cubes.refresh",
    "snapshots.commit", "snapshots.table_changes", "retention.delete",
    "cdc.poll", "session.run_parallel",
)


def test_datagen_is_seeded():
    a, b, c = (datagen.tables(s, scale=0.01) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a if t not in ("region", "nation"))


def _olap_text(seed: int) -> list:
    rng = random.Random(seed)
    return [workloads.olap_round(rng, ["q01", "q05", "q10"]) for _ in range(3)]


def _dml_text(seed: int, data_dir: str) -> list:
    con = workloads.duck(data_dir, workloads.DML_MIRROR_TABLES, copy=True)
    gen = workloads.DmlStatements(seed, con)
    out = []
    for _ in range(2):
        for verb in gen.round_order():
            sql, mirror = gen.write(verb)
            out.append(sql)
            for m in mirror:
                con.execute(m)
    con.close()
    return out


def test_statements_follow_the_seed(tmp_path):
    assert _olap_text(11) == _olap_text(11)
    assert _olap_text(11) != _olap_text(12)
    data = str(tmp_path / "data")
    datagen.write(3, data, scale=0.05)
    assert _dml_text(11, data) == _dml_text(11, data)
    assert _dml_text(11, data) != _dml_text(12, data)


def test_runner_refuses_outside_an_engine_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap-read",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def spark():
    from bigdataproj_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", **{"spark.driver.memory": "2g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _traced_round(spark, wl):
    import run
    from spans import Tracer

    wl.setup()
    tracer = Tracer(spark)
    tracer.install()
    try:
        m = run.measure(wl, 0.0, tracer)
    finally:
        tracer.uninstall()
    assert m["failures"] == []
    return tracer, tracer.layer_table(set(range(len(m["lat"]))))


@pytest.mark.parametrize("workload", ["olap-read", "dml-cdc"])
def test_traced_layers_and_job_accounting(spark, tmp_path, workload):
    from bigdataproj_spark.engine import Engine

    data = str(tmp_path / "data")
    datagen.write(7, data, scale=0.1)
    eng = Engine(spark, data)
    cls, layers = {
        "olap-read": (workloads.OlapRead, OLAP_LAYERS),
        "dml-cdc": (workloads.DmlCdc, DML_LAYERS),
    }[workload]
    wl = cls(eng, data, 7, str(tmp_path))
    tracer, table = _traced_round(spark, wl)
    wl.close()
    missing = [layer for layer in layers if table[layer]["count"] < 1]
    assert missing == []
    # the untraced shadow runs record nothing: every span is an op's
    assert all(sp.op is not None for sp in tracer.spans)
    if workload == "olap-read":
        assert tracer.deploys == 0  # set-up deployed every layout
    # every job the op started carries the op's job group, so the
    # profiler's per-op job count is statusTracker's count for the group
    assert tracer.op_spark
    for rec in tracer.op_spark:
        assert rec.jobs == rec.group_jobs, rec
    assert sum(r.jobs for r in tracer.op_spark) > 0
