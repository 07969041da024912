"""Array-column builders: in-row pair expansion without explode or shuffle."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pairs_within(arr: Column, a: str, b: str) -> Column:
    """Every i<j pair of ``arr``'s elements as ``struct<a, b>``, in array
    order: element i pairs with each element after it, so a B-element
    array yields B(B-1)/2 structs and a sorted array yields each
    unordered pair once with ``a`` < ``b``. Built entirely inside array
    expressions — the pair fan-out of a bucket, posting or per-order set
    happens map-side, and only the explode of the result emits rows."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
