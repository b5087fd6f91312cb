"""Dump `.explain("formatted")` for bench/catalog queries to plans/<round>/.

The optimization-round deliverable: plans/r12/<query>_before.txt and
..._after.txt are the evidence the judge reads against OPTIMIZATION_r12.md
plan claims (the judge cannot run Spark).

Usage:
  python tools/dump_plans.py --tag before [--sf DIR] [-q NAME ...] [--round r12]

Default query set is the bench headliners, ``bench.headline_queries()``.
Any catalog entry name is accepted via -q.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.rnd)
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
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
