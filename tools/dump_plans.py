"""Capture .explain('formatted') + job/stage counts for headline queries.

Usage: python tools/dump_plans.py <outdir> [query ...]

Writes <outdir>/<query>_<suffix>.txt (suffix from $PLAN_SUFFIX, default
'before') containing the formatted physical plan, plus a JSON line per
query on stdout with plan-shape stats (exchange count, join strategies,
python eval nodes, job/stage counts of one profiled noop
materialization, parquet_importer_spark/profile.py) — the
measurement inventory guide §1 prescribes (plan shape + job fan-out)
for every query before touching it.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir = sys.argv[1]
    os.makedirs(outdir, exist_ok=True)
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from parquet_importer_spark.profile import profile
    from parquet_importer_spark.session import get_spark
    from parquet_importer_spark.suite import QUERIES

    import bench

    names = sys.argv[2:] or list(bench.HEADLINE)
    if names == ["ALL"]:
        names = list(QUERIES)

    spark = get_spark("dump-plans")
    # warm up codegen + footer reads so job counts reflect steady state
    profile(spark, lambda: QUERIES["flagship_pricing_summary"](spark, sf_dir))

    for qid in names:
        if qid not in QUERIES:
            print(json.dumps({"query": qid, "error": "not registered"}))
            continue
        built = []  # the profiled DataFrame, explained after its run

        def build():
            built.append(QUERIES[qid](spark, sf_dir))
            return built[0]

        prof = profile(spark, build)
        buf = io.StringIO()
        with redirect_stdout(buf):
            built[0].explain("formatted")
        plan = buf.getvalue()
        with open(os.path.join(outdir, f"{qid}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        stats = {
            "query": qid,
            "build_sec": round(prof["build_s"], 3),
            "exec_sec": round(prof["exec_s"], 3),
            "jobs": prof["jobs"],
            "stages": prof["stages"],
            "exchanges": plan.count("Exchange"),
            "reused_exchanges": plan.count("ReusedExchange"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "shj": plan.count("ShuffledHashJoin"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "py_eval": plan.count("EvalPython")
            + plan.count("MapInPandas")
            + plan.count("MapInArrow"),
            "window": plan.count("Window"),
            "sort": plan.count("Sort "),
        }
        print(json.dumps(stats), flush=True)


if __name__ == "__main__":
    main()
