"""Join/aggregation skew: diagnosis and the capped postings self-join.

``joins.salted_join`` is the cure; this is the diagnosis: measure how
concentrated a key column is BEFORE a 100 TB join melts one executor.
``skew_stats`` returns the heavy hitters with their share of all rows
plus the skew ratio (max key count / mean key count) — the number
that decides between doing nothing (≈1), trusting AQE's skew-join
split (mild), and explicit salting (a key holding a double-digit
share).  ``recommend_salt`` turns that into a bucket count.

One aggregation pass over (key) + a tiny top-k — same cost as a
count-by-key, which is the cheapest possible full-data evidence.
For repeated profiling of many columns at once use
``profile.profile(exact_distinct=False)`` first and only drill into
suspicious keys here.

``postings_pairs`` is the one all-pairs-shaped plan the engine runs on
purpose: the (key, item) postings self-join behind the near-dup family
(shingles, fingerprints, tokens → documents) and the co-supply graph
family (parts → suppliers, orders → parts).  It owns the fan-out cap,
so every caller bounds the worst key bucket at ``max_df²`` pairs the
same way and keeps only its own score aggregate.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import checkpoint


def skew_stats(df: DataFrame, key_cols: list[str], top_k: int = 10) -> DataFrame:
    """Top-``top_k`` heaviest key values: ``(key..., n_rows, share,
    skew_ratio)``, ordered by count desc (tie-broken by key).

    ``share`` is the key's fraction of all rows; ``skew_ratio`` is
    max-key-count over mean-key-count (identical on every output row —
    it describes the column, not the key)."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.max("n_rows").alias("_max"),
        F.avg("n_rows").alias("_mean"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(F.col("_max") / F.col("_mean"), 4).alias("skew_ratio"),
        )
        .orderBy(F.col("n_rows").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(top_k)
    )


def recommend_salt(df: DataFrame, key_cols: list[str], target_share: float = 0.01) -> int:
    """Salt-bucket count that caps the heaviest key's per-bucket share
    at ``target_share`` of the rows: ``ceil(max_share / target)``,
    1 meaning "don't salt".  A cheap driver-side decision — one
    count-by-key aggregate collapsed to two scalars."""
    row = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("total"))
        .first()
    )
    if not row or not row["total"]:
        return 1
    max_share = row["mx"] / row["total"]
    if max_share <= target_share:
        return 1
    import math

    return math.ceil(max_share / target_share)


def postings_pairs(
    postings: DataFrame,
    key: str,
    item: str,
    max_df: int | None,
    what: str,
    carry=(),
) -> DataFrame:
    """Every pair of items sharing a key: the capped postings self-join.

    ``postings`` holds one row per (key, item) posting — pass a frame
    already distinct on them when fan-out should count items, not rows.
    Returns one row per posting pair ``item_a < item_b`` under a key:
    ``key, _df, {item}_a, {item}_b`` plus every ``carry`` column
    suffixed ``_a`` / ``_b``.  ``_df`` is the key's fan-out (its posting
    count), taken by a window on the key whose exchange and sort also
    feed the self-join, so a caller that weights by key degree
    (Adamic–Adar, idf) reads it off the row instead of joining a
    count-by-key back in.

    ``carry`` names columns of ``postings`` or gives aliased Columns.
    They are evaluated AFTER the cap, so an expression may use ``_df``,
    and a window over ``item`` (``F.count(F.lit(1)).over(
    Window.partitionBy(item))``) aggregates only the kept postings.

    ``max_df`` is the 100 TB guard: keys with more than ``max_df``
    postings (boilerplate shingle, mega-basket, hub part) are dropped
    whole before the self-join, bounding any bucket at ``max_df²``
    pairs.  When keys are dropped a warning reports how many (one eager
    count-by-key aggregate) — results become corpus-dependent at that
    point, which must be observable, never silent.  ``max_df=None``
    opts out explicitly.

    The self-join carries ``hint("merge")``: both sides scale with the
    corpus, and a plan-time size estimate must never broadcast one
    (the minhash banded self-join died that way at sf10).
    """
    # Both join sides (and the over-cap count) read the postings: cut
    # the lineage so the caller's plan runs once (``materialize`` says
    # why a returned frame is checkpointed, never persisted).
    postings = checkpoint(postings)
    # Unless a carried window repartitions by item, the window's key
    # exchange and sort also serve the self-join, so the fan-out costs
    # no shuffle of its own
    p = postings.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy(key))
    )
    if max_df is not None:
        n_over = (
            postings.groupBy(key).count().filter(F.col("count") > max_df).count()
        )
        if n_over:
            logging.getLogger(__name__).warning(
                "postings_pairs: max_df=%d dropped %d over-cap %s keys "
                "(fan-out guard) — pairs through those keys will not "
                "surface; pass max_df=None to disable (read the scale "
                "caveat first)",
                max_df,
                n_over,
                what,
            )
        p = p.filter(F.col("_df") <= max_df)
    p = p.select(key, "_df", item, *carry)
    sided = p.columns[2:]
    a, b = p.alias("a"), p.alias("b")
    return a.join(
        b.hint("merge"),
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col(f"a.{item}") < F.col(f"b.{item}")),
    ).select(
        F.col(f"a.{key}").alias(key),
        F.col("a._df").alias("_df"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in sided],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in sided],
    )
