"""Dump `.explain("formatted")` for bench/catalog queries to plans/<round>/.

The optimization-round deliverable: plans/r12/<query>_before.txt and
..._after.txt are the evidence the judge reads against OPTIMIZATION_r12.md
plan claims (the judge cannot run Spark).

Usage:
  python tools/dump_plans.py --tag before [--sf DIR] [-q NAME ...] [--round r12]

Default query set is the bench headliners, ``bench.headline_queries()``.
Any catalog entry name is accepted via -q.

Every dump is normalized (``normalize``): the ids and names that change
from run to run or checkout to checkout are replaced by placeholders,
so two dumps of the same plans diff clean.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# (pattern, placeholder): expression ids, exchange plan ids, RDD ids and
# Spark application ids (local-<ms>, app-<date>-<n>), which the catalog
# stamps into temp table and dir names, also with `-` mapped to `_`
_RUN_IDS = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    (re.compile(r"(?:local|app)[-_]\d{8,}(?:[-_]\d+)?"), "<app>"),
]


def normalize(plan: str, root: str = ROOT) -> str:
    """``plan`` with run ids and the checkout path ``root`` replaced."""
    plan = plan.replace(root, "<root>")
    for pattern, placeholder in _RUN_IDS:
        plan = pattern.sub(placeholder, plan)
    return plan


def query_fns(names: list[str] | None = None) -> dict:
    """The queries to dump: the bench headliners, or ``names``, each a
    headliner or a CATALOG entry."""
    from bench import headline_queries
    from tada_spark.queries import CATALOG

    fns = headline_queries()
    return {n: fns[n] if n in fns else CATALOG[n][0] for n in names} if names else fns


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, help="suffix: before / after")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--round", default="r12", dest="rnd")
    ap.add_argument("-q", "--queries", nargs="*", default=None)
    args = ap.parse_args()

    from tada_spark.session import get_spark

    fns = query_fns(args.queries)

    out_dir = os.path.join(ROOT, "plans", args.rnd)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("tada_spark_plandump")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in fns.items():
        try:
            df = fn(spark, args.sf)
        except Exception as e:  # streaming/sink entries have no batch DF
            print(f"{name}: SKIP ({e})", file=sys.stderr)
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {args.sf} [{args.tag}]\n")
            f.write(normalize(buf.getvalue()))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
