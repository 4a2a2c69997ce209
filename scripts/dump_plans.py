"""Dump query plans.

    python scripts/dump_plans.py
        Regenerate docs/PLANS.md: AQE-final physical plans of the
        bench-tagged queries plus the flagship operators in EXTRA,
        per-node detail trimmed to the scale-relevant lines (scan
        pushdown/pruning and exchange arguments).

    python scripts/dump_plans.py TREE TAG QUERY [QUERY ...]
        Import the engine from the checkout TREE and write, per QUERY,
        its optimized logical plan and its AQE-final formatted physical
        plan to plans/TAG/<label>.txt. A QUERY is a registry name, or an
        SQL statement (any entry containing a space) run through
        Engine.sql in argument order, so a CREATE MATERIALIZED VIEW can
        precede the statements it answers; its label is sql<position>.
        Two trees' dumps compare after normalising expression ids:
        sed -n '/^== Optimized/,/^== Physical/p' F | sed -E 's/#[0-9]+/#/g'

Plans are captured after a noop-sink execution, so AQE's final plan is
shown. Fixtures are read from $SPARK_GRAFT_SF_DIR (default: testdata/sf0.1
next to the repo checkout).
"""

import contextlib
import io
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(REPO), "testdata", "sf0.1")
)

HEADER = [
    "# Physical plans — headline queries (sf0.1, AQE final plans)",
    "",
    "Captured by `scripts/dump_plans.py` after execution (so AQE's final",
    "plan is shown). The properties the engine is designed around are",
    "visible directly: `PushedFilters` at the scan, `ReadSchema` pruning,",
    "`BroadcastHashJoin` on dimension arms, single `Exchange` per",
    "aggregation, `WholeStageCodegen` spans, no `CartesianProduct`.",
    "",
]

# bench-tagged queries plus the flagship LLM-pipeline operators whose
# plan shape the docs argue from (mixing window, span-dedup shuffles,
# packing prefix sum, decontamination broadcast semi-join).
EXTRA = {
    "r131_sql_pricing",
    "r37_domain_mixing",
    "r40_training_order",
    "r119_incremental_dedup",
    "r126_chunk_dedup",
    "r144_sequence_packing",
    "r130_decontamination",
    "r156_training_mix_pipeline",
    "r53_dsir_resample",
    "r120_bigram_lm",
    "q08_skipgram_pairs",
    "r43_graph_pagerank",
    "r123_kmeans_embeddings",
}


def executed_explain(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump_docs(spark) -> None:
    from bigdataproj_spark.registry import load_all

    out = list(HEADER)
    for name, q in sorted(load_all().items()):
        if "bench" not in q.tags and name not in EXTRA:
            continue
        lines = executed_explain(q.build(spark, SF_DIR)).splitlines()
        tree_end = next(
            (i for i, l in enumerate(lines) if l.startswith("(1)")), len(lines)
        )
        details = [
            l
            for l in lines[tree_end:]
            if any(
                k in l
                for k in (
                    "PushedFilters", "ReadSchema", "Location:", "(1) Scan",
                    "Arguments: ",
                )
            )
        ]
        out.append(
            f"## {name}\n\n```\n"
            + "\n".join(lines[:tree_end]).rstrip()
            + "\n\n"
            + "\n".join(details[:14])
            + "\n```\n"
        )
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"docs/PLANS.md written ({len(out) - len(HEADER)} queries)")


def dump_tree(spark, tree: str, tag: str, queries: list[str]) -> None:
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.registry import load_all

    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    reg = load_all()
    for pos, entry in enumerate(queries):
        label = f"sql{pos}" if " " in entry else entry
        spark.sparkContext.setJobDescription(f"plandump:{label}")
        if " " in entry:
            df = Engine(spark, SF_DIR).sql(entry)
        else:
            df = reg[entry].build(spark, SF_DIR)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        t0 = time.perf_counter()
        physical = executed_explain(df)
        dt = time.perf_counter() - t0
        path = os.path.join(out_dir, f"{label}.txt")
        with open(path, "w") as f:
            f.write(
                f"== {label} ({tag}, tree={tree}, sf_dir={SF_DIR}, "
                f"exec {dt:.3f}s) ==\n"
            )
            if " " in entry:
                f.write(entry + "\n")
            f.write("== Optimized Logical Plan ==\n" + optimized + "\n")
            f.write("== Physical Plan (AQE final) ==\n" + physical)
        print(f"{label}: {dt:.3f}s -> {path}")


def main() -> None:
    if len(sys.argv) in (2, 3):
        sys.exit(__doc__)
    tree = sys.argv[1] if len(sys.argv) > 1 else REPO
    sys.path.insert(0, tree)
    from bigdataproj_spark.session import get_spark

    spark = get_spark("plandump")
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 1:
        dump_tree(spark, tree, sys.argv[2], sys.argv[3:])
    else:
        dump_docs(spark)


if __name__ == "__main__":
    main()
