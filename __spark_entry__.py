"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke check);
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 via :mod:`parquet_importer_spark.registry` — the driver runs
each pair at sf0.01 and hash-compares against DuckDB.

The driver checks only the first 50 keys of each round, so both dicts
follow ``_driver_order()``, which ranks every key from the recorded
``CORRECTNESS_r{N}.json`` rows in four tiers:

1. the sentinel (flagship) plus every key whose latest row is not green
   (an error, or a hash/rows/schema mismatch);
2. live ``_FORCE_RECHECK`` entries — code changed after the key's
   latest green row — in table order;
3. rows-only keys (no oracle, so the driver run is their only check)
   whose latest row is two or more rounds older than the newest round;
4. everything else, oldest green round first; a key with no driver row
   counts as round 0 and leads.

Registry (import) order breaks ties. A new CORRECTNESS file dropped
next to this module re-ranks the keys with no code edit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    return QUERIES["flagship_pricing_summary"](spark, "/root/testdata/sf0.001")


_SENTINEL = "flagship_pricing_summary"

# Keys whose implementation changed after their latest green driver
# row: a green row for the old code does not certify the shipped code.
# Value = the round the change ships in. The key ranks right after the
# sentinel/errored tier until a green row at or after that round lands,
# then graduates to the staleness-ordered tail by itself.
# tests/test_driver_currency.py fails the build when a suite function
# changed since the newest CORRECTNESS file without an entry here;
# edits under operators/ are invisible to that guard, so add their
# consumers by hand. Remove an entry once its round's row is recorded.
_FORCE_RECHECK: dict[str, int] = {
    # kmeans_centroids now raises ValueError on a corpus with fewer
    # rows than n_centroids (was an IndexError); outputs at
    # every driver SF are unchanged, but the operator edit is outside
    # the currency guard's view.
    "llm_sim_ivf_kmeans": 16,
    # sources/postgres_copy.copy_into_postgres now encodes with
    # mapInArrow + pyarrow CSV (NULL is an unquoted empty field, not
    # \N) and runs its DDL as one transaction; both keys load through
    # it, and a sources/ edit is outside the currency guard's view.
    "sink_postgis": 16,
    "sink_postgres_copy": 16,
    # The LSH family (operators/dedup.py) now runs through one shared
    # shingle-base / banding / bucket-candidate / verify pipeline, and
    # every in-array i<j pair expansion through
    # functions/arrays.pairs_within; plans are unchanged, but the
    # operator edits are outside the currency guard's view.
    "llm_dedup_near": 16,
    "graph_pagerank": 16,
    "llm_dedup_affine": 16,
    "llm_dedup_containment": 16,
    "llm_dedup_editdist": 16,
    "llm_dedup_jaccard": 16,
    "llm_contamination_near": 16,
    "llm_source_overlap": 16,
    "graph_triangle_count": 16,
    "graph_kcore": 16,
    "graph_lpa_communities": 16,
    "graph_link_prediction": 16,
    "graph_bfs_distance": 16,
    "graph_assortativity": 16,
    "llm_sim_pairs_lsh": 16,
    "llm_sim_pairs_lsh_capped": 16,
    "llm_dedup_embedding": 16,
    "llm_dedup_embedding_capped": 16,
    # connected_components now detects its first round by index, so an
    # empty graph converges instead of raising.
    "llm_dedup_clusters": 16,
    "llm_dedup_keep_best": 16,
}


def _driver_latest(root: str | None = None) -> dict[str, tuple[int, dict]]:
    """Each key's LATEST recorded driver row, as {key: (round, row)}.

    Round numbers come from the CORRECTNESS_r{N}.json filenames; later
    rounds overwrite earlier rows for the same key, so the mapping is
    the driver's most recent word on every query — including WHICH
    round said it, which the rotation uses to re-check stale keys."""
    import glob  # noqa: PLC0415
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415
    import re  # noqa: PLC0415

    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if isinstance(row, dict):
                latest[key] = (rnd, row)
    return latest


def _green(row: dict) -> bool:
    ran_rows_only = (
        row.get("err") == "no_oracle" and row.get("spark_rows") is not None
    )
    return row.get("hash_match") is True or ran_rows_only


def _driver_history(root: str | None = None) -> tuple[frozenset, frozenset]:
    """(verified, errored) query keys across all CORRECTNESS_r*.json.

    Both sets are decided by each key's LATEST recorded row, so a
    regression (a once-green key whose newest row errors or
    hash-mismatches) re-enters the priority tier instead of staying
    "verified" forever. verified = latest row is hash-green, or a
    rows-only row that ran (err == "no_oracle" with a row count).
    errored = latest row is anything else — a real error OR a
    hash/rows/schema mismatch — re-prioritized until green again.
    """
    latest = _driver_latest(root)
    verified = {key for key, (_, row) in latest.items() if _green(row)}
    errored = {key for key, (_, row) in latest.items() if not _green(row)}
    return frozenset(verified), frozenset(errored)


def _driver_order(root: str | None = None) -> list[str]:
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    latest = _driver_latest(root)
    _, errored = _driver_history(root)
    newest = max((rnd for rnd, _ in latest.values()), default=0)
    forced = list(_FORCE_RECHECK)

    def rank(name: str) -> tuple[int, int]:
        rnd, row = latest.get(name, (0, {}))
        if name == _SENTINEL or name in errored:
            return (0, 0)
        if name in latest and rnd < _FORCE_RECHECK.get(name, 0):
            return (1, forced.index(name))
        if row.get("err") == "no_oracle" and rnd <= newest - 2:
            return (2, 0)
        return (3, rnd)

    # sorted() is stable, so registry (import) order breaks every tie
    return sorted(QUERIES, key=rank)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    return {name: QUERIES[name] for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    from parquet_importer_spark.suite import ORACLES  # noqa: PLC0415

    return {n: ORACLES[n] for n in _driver_order() if n in ORACLES}
