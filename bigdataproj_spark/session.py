"""SparkSession factory tuned for the engine.

100 TB posture (SURVEY.md §4): rely on Catalyst + AQE, configure rather
than hand-schedule.

- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast-join conversion.
- UTC session timezone: determinism contract (SURVEY.md §2.4 rule 3).
- Arrow enabled: the only JVM<->Python data boundary is vectorized.
- ``spark.sql.shuffle.partitions`` is a *starting* width; AQE coalesces
  down after each exchange. On a real cluster this would be set to
  2-3x total cores and AQE handles the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def _default_shuffle_partitions(master: str) -> str:
    """Initial shuffle width is a data-volume knob, not a core-count
    knob: AQE coalesces small exchanges down after the fact, but sorts
    and windows launch the INITIAL width in tasks, so an oversized
    default just buys task-launch latency. Local benches shuffle
    megabytes — cores/2 measured fastest at both sf0.1 and the tiled
    sf1 (24%/16% off total bench wall vs width 32 on local[32]); a
    cluster deployment sets 2-3x total cores via SPARK_SHUFFLE_PARTITIONS
    or spark-defaults, per the §4 posture.

    Measured round 6 (docs/BENCHMARKS.md "NOT a shuffle-width
    problem"): there is no width-VS-SCALE rule worth encoding — at sf5
    and sf10 the shuffle-heavy queries spill ZERO bytes at widths
    16-64 and move only ±15% (width = task-overlap, not memory), while
    the scan-bound ratios are unaffected. Scale problems are answered
    by layout + routing (sources/bucketed.py, plans/routing.py), not
    by this knob."""
    if master.startswith("local"):
        cpus = os.cpu_count() or 8
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        if inner.isdigit():
            cpus = int(inner)
        return str(max(8, cpus // 2))
    return "200"  # Spark's own cluster default; deployments override


def run_parallel(*thunks) -> list:
    """Run independent Spark actions from a small thread pool (guide
    §2.6: a later job's tasks back-fill executors freed by an earlier
    job's tail; locally the fixed per-job latencies overlap). THE
    engine-wide discipline for maintenance-side parallelism (round 13,
    factored out of the round-12 refresh pool):

    - callers only submit thunks whose reads are SETTLED state and
      whose writes are disjoint outputs/memo keys;
    - every thunk is AWAITED before any exception re-raises, so a
      surrounding WarehouseTxn rollback can never race a still-running
      writer's files;
    - job descriptions are thread-local, so thunks may label their own
      jobs; the caller resets the main thread's label afterwards.

    Returns the thunks' results in order (``[]`` for no thunks).
    """
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        # .exception() BLOCKS until the thunk finishes — all of them
        # settle before any raise below
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e
    return [f.result() for f in futures]


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Durability-aware lineage cut for iterative loops (CC pointer
    doubling, PageRank, k-means Lloyd iterations).

    ``localCheckpoint`` blocks live on executors: fastest locally, but
    on a real cluster an executor loss kills the blocks and — with the
    lineage already truncated — the JOB, not just a task retry. When
    the session has a reliable checkpoint directory configured
    (``checkpoint_dir=`` in :func:`get_spark`, or
    ``SPARK_GRAFT_CHECKPOINT_DIR``, pointing at HDFS/S3 on a cluster),
    iterative operators cut lineage with ``df.checkpoint()`` instead:
    the materialized rows survive executor loss and recovery is a
    re-read, not a recompute-from-nothing. Local default stays
    ``localCheckpoint`` — same plans, no write amplification.

    The reliable branch persists before checkpointing: eager
    ``checkpoint()`` runs one job to materialize and a SECOND job to
    write the checkpoint files, which would recompute the whole
    lineage (2× every iteration) without the cache. The cache is
    dropped once the checkpoint is durable. Old checkpoint
    directories are GC'd by the context cleaner
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` is set by
    :func:`get_spark`) when the checkpointed RDD is collected —
    without it every iteration's directory would accumulate in the
    durable store for the session's lifetime.

    Use this for ITERATIVE loops. One-shot multi-consumer
    materializations (a table read twice in one query) should use
    plain ``localCheckpoint`` — durability buys nothing there (losing
    the blocks just re-runs that query) and the reliable path would
    pay a durable write per run.
    """
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - very old APIs
        has_dir = False
    if not has_dir:
        return df.localCheckpoint(eager=True)
    # Always eager: a lazy variant would have to either leak the
    # persist (cache held for the session) or drop it before the
    # checkpoint materializes (2x recompute) — there is no correct
    # lazy ordering, so the knob is not offered.
    df = df.persist()
    out = df.checkpoint(eager=True)
    df.unpersist()
    return out


def get_spark(
    app_name: str = "bigdataproj-spark",
    master: str | None = None,
    checkpoint_dir: str | None = None,
    **extra: str,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    ``checkpoint_dir`` (or ``$SPARK_GRAFT_CHECKPOINT_DIR``) enables
    RELIABLE checkpointing for the iterative operators — set it to a
    fault-tolerant store (HDFS/S3) on cluster deployments; see
    :func:`iter_checkpoint`.
    """
    resolved_master = master or default_master()
    _codec = os.environ.get(
        "SPARK_GRAFT_COMPRESSION",
        "off" if resolved_master.startswith("local") else "zstd",
    ).lower()
    builder = SparkSession.builder.appName(app_name).master(resolved_master)
    # Scan-split sizing: the 128m default is right at every scale. The
    # fixture files are single parquet row groups, and a row group is
    # the unsplittable read unit — smaller split sizes only add empty
    # tasks (measured: q01 0.70s @128m vs 0.84s @1m at sf0.1). Narrow
    # scans that feed CPU-heavy work are rebalanced explicitly instead
    # (operators.skew.fan_out).
    conf: dict[str, str] = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_SHUFFLE_PARTITIONS", _default_shuffle_partitions(resolved_master)
        ),
        "spark.sql.adaptive.enabled": "true",
        # No data locality exists in a single-JVM local master; the
        # default 3s locality wait only delays task launch there. On a
        # cluster the Spark default stands (deployments override).
        **({"spark.locality.wait": "0"} if resolved_master.startswith("local") else {}),
        # Partition discovery: Spark's default threshold (32 dirs)
        # launches a DISTRIBUTED listing job for any hive layout
        # bigger than ~3 years of months — on a local master that job
        # costs ~180 ms of pure scheduling to list 83 local
        # directories (measured round 12: dated-lineitem open 204 ms →
        # 25 ms). Driver-side listing is the right call into the tens
        # of thousands of dirs even on clusters (the job only pays off
        # against slow object-store listings at large dir counts);
        # deployments can lower it via SPARK_GRAFT_PARALLEL_DISCOVERY.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": os.environ.get(
            "SPARK_GRAFT_PARALLEL_DISCOVERY", "10000"
        ),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Data-volume-adaptive shuffle width, the Spark-idiomatic way:
        # a HIGH pre-coalesce width that AQE merges down to the
        # advisory partition size. Measured round 6 (docs/BENCHMARKS.md
        # "spill-aware width, revisited"): q27 at sf20 is genuinely
        # spill-bound at the cores/2 default (107 s) and recovers to
        # ~83 s with initialPartitionNum=128 — adaptively, no
        # per-query tuning — while q26 stays width-flat (zero spill).
        # At the driver's sf0.1 bench scale the same setting costs
        # ~10% task-launch overhead, so the LOCAL default leaves it
        # unset; cluster deployments should set it to ~4x total cores
        # (the posture behind e.g. a 2000-partition initial width on
        # a 500-core cluster).
        **(
            {
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
                    os.environ["SPARK_GRAFT_INITIAL_PARTITIONS"]
            }
            if os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
            else {}
        ),
        # Reliable-checkpoint GC: when iter_checkpoint's checkpointed
        # RDDs are garbage-collected, their directories are removed —
        # otherwise iterative loops leak one durable dir per iteration.
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Compression posture (guide §2.3/§6, round 13): zstd for
        # shuffle/checkpoint blocks and parquet output — materially
        # smaller bytes-on-the-wire and on-disk than lz4/snappy at
        # comparable CPU on modern cores, which pays at cluster scale
        # (shuffle-heavy joins, multi-TB layout writes). Default ONLY
        # on non-local masters: the sf0.1 local bench is wall-bound on
        # write jobs inside timed regions, and two interleaved A/B
        # pairs measured zstd 3-7% slower there (5.35/5.73 s vs
        # 5.20/5.31 s, canaries clean at 0.106-0.108) — a pure tax at
        # local scale, so local masters keep Spark's own defaults
        # (lz4 shuffle / snappy parquet). SPARK_GRAFT_COMPRESSION
        # overrides either way: a codec name forces it on (e.g. a
        # local run validating cluster posture), "off" forces it off.
        **(
            {
                "spark.io.compression.codec": _codec,
                "spark.sql.parquet.compression.codec": _codec,
            }
            if _codec != "off"
            else {}
        ),
        # Dimension tables (region/nation/customer/supplier/part at test
        # scale; anything < threshold at cluster scale) broadcast.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # Structured Streaming micro-batch state stores are small in
        # tests; RocksDB would be the cluster choice.
        "spark.sql.streaming.stateStore.stateSchemaCheck": "false",
        # Fixture parquet stores TIMESTAMP(NANOS), which Spark's reader
        # rejects; read as INT64 nanos and convert in the catalog
        # (DuckDB truncates ns→µs the same way).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ckpt = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
