"""Plan-shape census of registered queries: the Exchange nodes and
checkpoint barriers a query's physical plans hold, counted over the
frame it returns AND every sub-plan it runs while it is built — each
``localCheckpoint`` barrier's input and each driver ``collect``.

    python3 tools/plan_exchanges.py --sf DIR NAME [NAME ...]

Prints one JSON line, per query: ``exchange`` (shuffle Exchange nodes),
``broadcast`` (BroadcastExchange), ``reused`` (ReusedExchange),
``barriers`` (localCheckpoint calls) and ``build_collects`` (driver
collects made while building the frame). Counts come from each plan's
initial ``explain("simple")`` text, before adaptive execution rewrites
it; a barrier's input is counted once, where it is checkpointed.
"""

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# a node name follows only the tree's indentation and branch marks
_PATTERNS = {
    key: re.compile(rf"^[\s:+\-]*{node} ", re.M)
    for key, node in (
        ("exchange", "Exchange"),
        ("broadcast", "BroadcastExchange"),
        ("reused", "ReusedExchange"),
    )
}


def census(spark, sf_dir: str, names: list[str]) -> dict:
    from pyspark.sql.classic.dataframe import DataFrame

    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES
    from sample_emr_on_eks_fgac_iceberg_spark.plans import explain_str

    plans: list[str] = []
    counts = {"barriers": 0, "build_collects": 0}
    real_checkpoint, real_collect = DataFrame.localCheckpoint, DataFrame.collect

    def checkpoint(self, *a, **k):
        counts["barriers"] += 1
        plans.append(explain_str(self, "simple"))
        return real_checkpoint(self, *a, **k)

    def collect(self):
        counts["build_collects"] += 1
        plans.append(explain_str(self, "simple"))
        return real_collect(self)

    out = {}
    DataFrame.localCheckpoint, DataFrame.collect = checkpoint, collect
    try:
        for name in names:
            plans.clear()
            counts.update(barriers=0, build_collects=0)
            df = QUERIES[name](spark, sf_dir)
            plans.append(explain_str(df, "simple"))
            row = {
                key: sum(len(p.findall(plan)) for plan in plans)
                for key, p in _PATTERNS.items()
            }
            out[name] = {**row, **counts}
    finally:
        DataFrame.localCheckpoint, DataFrame.collect = real_checkpoint, real_collect
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="directory of the tables' parquet files")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    from sample_emr_on_eks_fgac_iceberg_spark.session import build_session

    spark = build_session(app_name="plan-census", shuffle_partitions=8)
    try:
        print(json.dumps(census(spark, args.sf, args.names), sort_keys=True))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
