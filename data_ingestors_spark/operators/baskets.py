"""Per-basket co-occurrence: the whale-basket cap and the pair fan-out.
A basket is every row sharing one key (an order, a customer, a user, a
fingerprint); the fan-out is O(k^2) in basket size k."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Density cap on basket size for the O(k^2)/O(k^3) per-basket
#: self-joins — the basket analog of FastSS's ``DEFAULT_MAX_KEY_DF``.
#: A degenerate whale basket (one key holding m distinct items) emits
#: m^2 (or m^3) rows from a single input key, which no partitioning
#: strategy can split; real baskets here are k = 4-7 items per order
#: and <= ~200 per customer at any SF, so the cap only fires on data
#: that should have been cleaned upstream. Baskets ABOVE the cap are
#: dropped entirely (deterministic, and the standard treatment — a key
#: that co-occurs with everything carries no association signal).
#: Callers: copurchase_pairs, item_cosine, assoc_rules,
#: copurchase_triples and the co-purchase graph edges (triangle_count,
#: degree_assortativity, clustering_coefficient); each oracle mirrors
#: it with ``QUALIFY count(*) OVER (PARTITION BY basket) <= cap``.
MAX_BASKET_ITEMS = 1000


def cap_baskets(items: DataFrame, basket: str) -> DataFrame:
    """Drop baskets with more than :data:`MAX_BASKET_ITEMS` rows before
    a per-basket pair/triple fan-out. One window count over the basket
    key — the same hash partitioning the downstream self-join needs,
    so AQE reuses the exchange and the guard costs no extra shuffle
    of the items frame."""
    w = Window.partitionBy(basket)
    return (
        items.withColumn("_bk_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bk_n") <= MAX_BASKET_ITEMS)
        .drop("_bk_n")
    )


def basket_pairs(
    items: DataFrame,
    basket: str,
    item: str,
    *,
    min_support: int = 1,
    directed: bool = False,
) -> DataFrame:
    """Pairs of items that share a basket, with the number of baskets
    holding both: ``(item_a, item_b, n_both)``, kept when ``n_both >=
    min_support``. Undirected pairs keep ``item_a < item_b``; directed
    ones keep both orders (``item_a != item_b``). A null basket key or
    a null item never forms a pair.

    ``items`` should hold distinct (basket, item) rows; otherwise a
    repeated item counts once per copy.

    This operator does not cap: a caller whose baskets can grow with
    the data applies :func:`cap_baskets` first. Where the capped frame
    is also read by other branches, the caller decides whether to
    materialize it between the cap and the fan-out (item_cosine and
    copurchase_triples do; assoc_rules measured faster without)."""
    a, b = F.col(f"a.{item}"), F.col(f"b.{item}")
    return (
        items.alias("a")
        .join(items.alias("b"), basket)
        .filter(a != b if directed else a < b)
        .groupBy(a.alias("item_a"), b.alias("item_b"))
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= min_support)
    )
