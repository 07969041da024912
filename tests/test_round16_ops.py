"""Pins for the shared LSH candidate pipeline and the in-array pair
builder (operators/dedup.py, functions/arrays.py), plus the
degenerate-input contracts of connected_components and pagerank:
invalid banding fails loudly, and an empty graph yields an empty result
instead of a convergence error or a division by zero.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, spark  # noqa: F401


@pytest.mark.parametrize(
    ("arr", "expected"),
    [
        ([], []),
        ([7], []),
        ([1, 2, 3], [(1, 2), (1, 3), (2, 3)]),
    ],
)
def test_pairs_within_exact_pairs_in_order(spark, arr, expected):  # noqa: F811
    """Every i<j pair, field names as given, in array order."""
    from pyspark.sql import functions as F

    from parquet_importer_spark.functions.arrays import pairs_within

    row = (
        spark.createDataFrame([(arr,)], "xs array<bigint>")
        .select(pairs_within(F.col("xs"), "lo", "hi").alias("p"))
        .first()
    )
    assert [(p.lo, p.hi) for p in row.p] == expected


@pytest.mark.parametrize(
    "op", ["minhash_lsh_pairs", "affine_minhash_lsh_pairs"]
)
@pytest.mark.parametrize(("num_hashes", "bands"), [(10, 4), (4, 8)])
def test_banding_rejects_bands_not_dividing_hashes(
    spark, op, num_hashes, bands  # noqa: F811
):
    """10/4 would silently use only 8 hashes; 4/8 gives 0 rows per band,
    where sequence(0, -1) keys every band on the same seeds {0, -1}."""
    from parquet_importer_spark.io import read_table
    from parquet_importer_spark.operators import dedup

    docs = read_table(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match=f"bands={bands} must be"):
        getattr(dedup, op)(
            docs, "text", "doc_id", num_hashes=num_hashes, bands=bands
        )


@pytest.mark.parametrize("with_init", [False, True])
def test_connected_components_empty_graph(spark, with_init):  # noqa: F811
    """An empty graph's label sum is NULL every round; the fixpoint test
    must still see two equal rounds and return 0 rows."""
    from parquet_importer_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([], "node bigint")
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    init = spark.createDataFrame([], "node bigint, lab bigint") if with_init else None
    out = connected_components(nodes, edges, max_iter=3, init=init)
    assert out.count() == 0


def test_pagerank_zero_nodes(spark):  # noqa: F811
    """n = 0 has no uniform start rank: the result is an empty
    (node, rank) frame with the usual column types."""
    from parquet_importer_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank(nodes, edges, n_iter=3)
    assert out.dtypes == [("node", "bigint"), ("rank", "double")]
    assert out.count() == 0
