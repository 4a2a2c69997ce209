"""Optimization sweep: time EVERY registry query at $SPARK_GRAFT_SF_DIR
(default: testdata/sf0.1 next to the repo checkout), noop-sinked, one
warm JVM.

Usage: python scripts/sweep.py --round N [TAG]

Output: plans/rN/sweep_<TAG>.json (TAG defaults to sf01)
{name: {"sec": s, "tags": [...]}}, sorted by cost — the triage list a
round's OPTIMIZATION_rN.md checklist is built from. Single timed pass
per query (triage, not the bench protocol); the bench's min2-warm
numbers stay authoritative for the headline set.
"""

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(REPO), "testdata", "sf0.1")
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("tag", nargs="?", default="sf01")
    args = ap.parse_args()
    rnd = f"r{args.round}"
    sys.path.insert(0, REPO)
    from bigdataproj_spark.registry import load_all
    from bigdataproj_spark.session import get_spark

    spark = get_spark(f"sweep-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")

    # one untimed warm-up so JVM/codegen startup isn't billed to the
    # first query
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    out = {}
    for name, q in sorted(load_all().items()):
        spark.sparkContext.setJobDescription(f"{rnd}-sweep:{name}")
        t0 = time.perf_counter()
        try:
            q.build(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            out[name] = {"sec": dt, "tags": list(q.tags)}
            print(f"{dt:8.3f}  {name}")
        except Exception as e:  # record, keep sweeping
            out[name] = {"sec": None, "err": str(e)[:200], "tags": list(q.tags)}
            print(f"   ERROR  {name}: {str(e)[:120]}")

    os.makedirs(os.path.join(REPO, "plans", rnd), exist_ok=True)
    path = os.path.join(REPO, "plans", rnd, f"sweep_{args.tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    timed = {k: v["sec"] for k, v in out.items() if v.get("sec") is not None}
    print(f"\ntotal {sum(timed.values()):.1f}s over {len(timed)} queries -> {path}")
    for k in sorted(timed, key=timed.get, reverse=True)[:25]:
        print(f"{timed[k]:8.3f}  {k}")


if __name__ == "__main__":
    main()
