"""Dump explain("formatted") for named queries to plans/<dir>/<q>_<suffix>.txt.

Usage: python tools/plan_dump_one.py --suffix after [--out-dir plans/r15]
           [--sf-dir /root/testdata/sf0.1] name [name...]

Expression ids (``#<n>``), exchange ids (``plan_id=<n>``) and codegen stage
ids (``codegen id : <n>``) come from process-global counters or from the
order in which a cached frame's stages finished, so the dump writes each
as ``<n>``: two dumps of one tree are byte-identical, and a before/after
pair differs only where the plan does.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

_VOLATILE_IDS = re.compile(r"(#|plan_id=|codegen id : )\d+")


def normalise(plan: str) -> str:
    return _VOLATILE_IDS.sub(r"\1<n>", plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out-dir", default="plans/r15")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as mod
    from go_dfs_mapreduce_spark.session import get_spark

    spark = get_spark("plan_dump_one")
    qs = mod.queries()
    os.makedirs(args.out_dir, exist_ok=True)
    for name in args.names:
        df = qs[name](spark, args.sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(normalise(txt))
        print("wrote", path)


if __name__ == "__main__":
    main()
