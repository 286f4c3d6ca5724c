"""Frequent-itemset mining: co-occurrence pairs with Apriori pruning.

Market-basket support counting, the association-rule primitive (the
reference has no itemset machinery; its closest aggregation is the
SirenAggregator key rollup, ``/root/reference/src/sf_datalake/
transform.py``).  Given (basket, item) membership rows, emit every
unordered item pair occurring in at least ``min_support`` baskets.

Spark-first design, sized for 100 TB:

- **Apriori prune before pairing** (downward closure): an item below
  ``min_support`` cannot be part of a frequent pair, so items are
  support-counted first (one key-partial aggregation) and the
  membership table is semi-joined down to frequent items before any
  pair is formed.  On heavy-tailed corpora this removes most of the
  pair volume for the cost of one cheap count.
- **Pairs via per-basket array expansion**, ``item_1 < item_2`` — one
  groupBy collects each basket's (deduped, sorted) items and the i<j
  pairs are generated post-shuffle inside the same stage; each basket
  of size *s* yields exactly s·(s−1)/2 ordered pairs.  Baskets are
  bounded (a 100-line order, a cart), so per-key fan-out is quadratic
  in a SMALL s — the hot-basket guard ``max_basket_size`` drops
  degenerate mega-baskets (a crawler session with 10^5 items would
  alone emit 5·10^9 pairs) the same way the dedup layer caps hot
  shingles.
- The final support count shuffles on the pair key — 16 bytes — never
  on basket contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int | None = None,
    prune_items: bool = True,
) -> DataFrame:
    """Unordered item pairs co-occurring in ≥ ``min_support`` baskets.

    Returns ``(item_1, item_2, support)`` with ``item_1 < item_2``.
    Membership is set-semantics: duplicate (basket, item) rows count
    once.  ``max_basket_size`` drops baskets above the bound *after*
    item pruning (documenting the skew guard; None = keep all).

    ``prune_items`` controls the Apriori item-support prune (drop items
    below pair support before pair generation).  It is LOSSLESS either
    way — a pair's support cannot exceed its rarer item's support — so
    the output is identical; the flag only trades an extra
    aggregation+join pass against smaller baskets.  Keep it on when the
    item vocabulary is long-tailed (text shingles, SKUs) or when
    ``max_basket_size`` must see post-prune sizes; turn it off when
    nearly every item clears ``min_support`` anyway (dense co-purchase
    graphs — measured r10: the prune pass was pure overhead there,
    ~0.3 s of 2.5 s at sf0.1 with zero rows removed)."""
    m = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    )
    if prune_items:
        # the support count and the semi-join both need the DISTINCT
        # membership, so the dedup is a standalone exchange here
        m = m.distinct()
        freq_items = (
            m.groupBy("__i")
            .agg(F.count("*").alias("__s"))
            .filter(F.col("__s") >= min_support)
            .select("__i")
        )
        m = m.join(freq_items, "__i").select("__b", "__i")
    # Pair generation is a PER-BASKET array expansion, not a self-join:
    # one groupBy collects each basket's (pruned, sorted) items, then a
    # nested HOF transform emits the i<j pairs in-scan.  A basket
    # self-join would re-execute the whole distinct+prune upstream on
    # both sides and shuffle the membership table twice; this shape
    # scans it once and shuffles only (basket → items) and the 16-byte
    # pair keys.  Per-basket fan-out is s·(s−1)/2 — quadratic in the
    # SMALL bounded basket size, linear in baskets.
    # collect_set dedups (basket, item) INSIDE the aggregation (partial
    # sets merge map-side), so the no-prune path never pays a separate
    # distinct exchange of the membership table (r10, guide §2.4); the
    # prune path arrives already distinct'd and a set-collect of unique
    # rows is the same list.
    baskets_arr = m.groupBy("__b").agg(
        F.array_sort(F.collect_set("__i")).alias("__items")
    )
    if max_basket_size is not None:
        baskets_arr = baskets_arr.filter(
            F.size("__items") <= max_basket_size
        )
    items = F.col("__items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + 2, F.greatest(F.size(items) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("item_1"), y.alias("item_2")),
            ),
        )
    )
    pairs = baskets_arr.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.item_1"), F.col("p.item_2")
    )
    return (
        pairs.groupBy("item_1", "item_2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
