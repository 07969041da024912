"""Clean-session re-measure of a query family against BENCH_REF.

Round-10 verdict item 7: the dedup family moved +20–35% r9→r10 with no
shared code change while the bench session's ambient load doubled
mid-suite; llm_dedup_near read 1.59× of the fresh clean-session
reference. This tool re-times a family in an EXCLUSIVE session with the
headline bench's own protocol (warm-up, then ``bench.time_key``:
best-of-2 with the adaptive third run, noop materialization, sf0.1) and
prints a timings/vs_ref record with ambient snapshots — the operator
records the resulting attribution in the round's OPTIMIZATION log,
either clearing the movement as ambient or confirming a real
regression.

    python tools/bench_family.py llm_dedup_ llm_line_dedup llm_semdedup

Run only on an idle box (check load1 in the printed ambient snapshot —
a contended run just reproduces the artifact it is meant to clear).
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    prefixes = sys.argv[1:] or ["llm_dedup_"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import _ambient_snapshot, time_key  # noqa: PLC0415 — same repo root

    from parquet_importer_spark.profile import profile
    from parquet_importer_spark.session import get_spark
    from parquet_importer_spark.suite import QUERIES

    keys = [q for q in QUERIES if any(q.startswith(p) for p in prefixes)]
    amb_start = _ambient_snapshot()
    spark = get_spark("bench-family")
    profile(spark, partial(QUERIES["flagship_pricing_summary"], spark, sf_dir))

    timings: dict[str, float] = {}
    for qid in keys:
        _, runs = time_key(spark, partial(QUERIES[qid], spark, sf_dir))
        timings[qid] = round(min(runs), 3)
    amb_end = _ambient_snapshot()

    ref = {}
    ref_path = os.path.join(ROOT, "BENCH_REF.json")
    if os.path.exists(ref_path):
        with open(ref_path) as fh:
            ref = json.load(fh).get("queries", {})
    vs_ref = {
        q: round(t / ref[q], 2) for q, t in timings.items() if ref.get(q)
    }
    out = {
        "timings": timings,
        "vs_ref": vs_ref,
        "ambient_start": amb_start,
        "ambient_end": amb_end,
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
