"""Dump `.explain("formatted")` for every headline query into
plans/r<N>/<query>_<tag>.txt — the before/after plan record of an
optimization round.

Usage: python scripts/capture_plans.py --round N <tag> [query ...]
  tag: "before" / "after"; with no query names, dumps the whole
  HEADLINE set. Uses the bench's relaid layout (ensure_bench_layout)
  so plans match what bench.py actually measures.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, ensure_bench_layout
from simplemapreduceframework_spark import get_spark, registry
from simplemapreduceframework_spark.plans import explain_str


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{args.round}",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"r{args.round}-plan-capture")
    sf_dir = ensure_bench_layout(
        spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    queries = registry.all_queries()
    for name in args.queries or HEADLINE:
        df = queries[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(explain_str(df).strip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
