"""Round-2 session additions: cross join, keyless interval join, DSIR — split from the single-file registry (VERDICT r7 #7).

Registration order is preserved by the package ``__init__`` importing
the domain modules in the original file order; ``Q``/``O`` are the
shared dicts from ``._core``.
"""

from __future__ import annotations

import tempfile  # noqa: F401  (several queries stage scratch dirs)

import pandas as pd  # noqa: F401  resolves pandas_udf string annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.window import Window  # noqa: F401

from ..functions import epoch_us  # noqa: F401
from ..materialize import checkpoint
from ..tables import load_table  # noqa: F401
from ._core import (  # noqa: F401
    _LM_CE_SQL,
    _SHINGLE_INTER_SQL,
    O,
    Q,
    query,
)

# =====================================================================
# Round-2 session additions: cross join, keyless interval join, DSIR
# =====================================================================

@query(
    "pagerank_part_supplier",
    """
    WITH e AS (
      SELECT DISTINCT 'p' || l_partkey AS u, 's' || l_suppkey AS v
      FROM lineitem
    ), nodes AS (
      SELECT u AS id FROM e UNION SELECT v FROM e
    ), sc AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), deg AS (
      SELECT u, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY u
    ), p0 AS (
      SELECT id, 1.0 / (SELECT n FROM sc) AS r FROM nodes
    ), c1 AS (
      SELECT e.v, SUM(p0.r / deg.d) AS s
      FROM e JOIN deg USING (u) JOIN p0 ON p0.id = e.u GROUP BY e.v
    ), p1 AS (
      SELECT nodes.id,
             0.15 / (SELECT n FROM sc) + 0.85 * COALESCE(c1.s, 0) AS r
      FROM nodes LEFT JOIN c1 ON c1.v = nodes.id
    ), c2 AS (
      SELECT e.v, SUM(p1.r / deg.d) AS s
      FROM e JOIN deg USING (u) JOIN p1 ON p1.id = e.u GROUP BY e.v
    ), p2 AS (
      SELECT nodes.id,
             0.15 / (SELECT n FROM sc) + 0.85 * COALESCE(c2.s, 0) AS r
      FROM nodes LEFT JOIN c2 ON c2.v = nodes.id
    ), c3 AS (
      SELECT e.v, SUM(p2.r / deg.d) AS s
      FROM e JOIN deg USING (u) JOIN p2 ON p2.id = e.u GROUP BY e.v
    ), p3 AS (
      SELECT nodes.id,
             0.15 / (SELECT n FROM sc) + 0.85 * COALESCE(c3.s, 0) AS r
      FROM nodes LEFT JOIN c3 ON c3.v = nodes.id
    )
    SELECT id, ROUND(r, 9) AS rank FROM p3
    """,
)
def pagerank_q(spark, sf_dir):
    """PageRank (operators.components.pagerank) over the part→supplier
    shipment graph, 3 iterations, d=0.85 — the iterative-dataflow
    representative beyond connected components.  The oracle unrolls
    the same three power iterations as chained SQL CTEs; the
    simplified no-dangling-redistribution variant keeps the two
    formulations algebraically identical (suppliers are pure sinks in
    this bipartite graph)."""
    from ..operators.components import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    out = pagerank(edges, iterations=3)
    return out.select("id", F.round("rank", 9).alias("rank"))


@query(
    "weighted_sample_per_source",
    """
    SELECT source, doc_id, n_chars
    FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) % 10000 + 1) / 10001.0)
                        / CAST(n_chars AS DOUBLE) DESC,
                        doc_id ASC
             ) AS rn
      FROM documents WHERE n_chars > 0
    ) t WHERE rn <= 5
    """,
)
def weighted_sample_group_q(spark, sf_dir):
    """Per-source weighted sample
    (operators.sampling.weighted_sample_k_per_group): 5 documents per
    source, inclusion ∝ n_chars — grouped quota sampling on the same
    deterministic A-ES key, one group-keyed window shuffle."""
    from ..operators.sampling import weighted_sample_k_per_group

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample_k_per_group(
        d, "source", 5, "n_chars", "doc_id"
    ).select("source", "doc_id", "n_chars")


@query(
    "resample_ffill_events",
    """
    WITH obs_all AS (
      SELECT user_id AS k, epoch_us(ts) AS us,
             epoch_us(ts) // 3600000000 AS slot, value AS v
      FROM events
    ), obs AS (
      SELECT k, slot, max_by(v, us) AS obs_v
      FROM obs_all GROUP BY k, slot
    ), span AS (
      SELECT k, MIN(slot) AS lo, MAX(slot) AS hi FROM obs_all GROUP BY k
    ), grid AS (
      SELECT k, unnest(range(lo, hi + 1)) AS slot FROM span
    ), filled AS (
      SELECT g.k, g.slot,
             last_value(o.obs_v IGNORE NULLS) OVER (
               PARTITION BY g.k ORDER BY g.slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS v,
             o.obs_v IS NOT NULL AS is_observed
      FROM grid g LEFT JOIN obs o ON o.k = g.k AND o.slot = g.slot
    )
    SELECT k AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_slots,
           CAST(SUM(CASE WHEN is_observed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_observed,
           ROUND(SUM(v), 2) AS sum_filled
    FROM filled GROUP BY k
    """,
)
def resample_q(spark, sf_dir):
    """Time-series resampling + forward fill
    (operators.joins.resample_ffill): each user's event stream becomes
    a regular hourly grid over their own active span, empty hours
    carrying the latest prior value — the gap-fill shape of metrics
    and feature pipelines.  Aggregated per user (slots, observed
    count, filled sum) to keep the gate output compact; the DuckDB
    twin replays the identical grid/max_by/ignore-nulls algebra."""
    from ..operators.joins import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    HOUR = 3_600_000_000
    filled = resample_ffill(ev, "user_id", "ts", "value", step_us=HOUR)
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_slots"),
        F.sum(F.col("is_observed").cast("int")).cast("bigint").alias(
            "n_observed"
        ),
        F.round(F.sum("value"), 2).alias("sum_filled"),
    )


@query(
    "variant_events_stats",
    """
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k
    FROM (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ) t
    GROUP BY event_type
    """,
)
def variant_q(spark, sf_dir):
    """Spark 4 VariantType path (SURVEY.md §2.8 JSON surface):
    ``parse_json`` materializes the semi-structured props column as a
    binary variant ONCE (the open-format successor to per-access
    ``get_json_object`` string re-parsing), then ``try_variant_get``
    extracts typed fields without re-tokenizing the JSON text — at
    scale the parse cost is paid once per row instead of once per
    accessed field.  DuckDB twin uses json_extract on the same rows."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("s", "t"),
    ("e", "n"), ("o", "r"), ("t", "o"), ("i", "t"), ("o", "u"),
    ("a", "r"), ("i", "s"), ("in", "g"), ("l", "e"), ("a", "l"),
]


def _bpe_oracle() -> str:
    """The 'no SQL twin' claim for BPE turned out to be false: the
    greedy lowest-rank merge loop is a RECURSIVE CTE over DISTINCT
    words.  Each step scores adjacent pairs against the literal merge
    table (rank = ``list_position`` over pair lists, 0 = absent),
    merges the FIRST occurrence of the minimal rank — exactly the
    kernel's ascending strict-less scan — and recursion stops when no
    pair applies; the final state per word is the minimum-length one
    (lengths strictly decrease).  Tokenization mirrors Python
    ``str.split()`` (split on whitespace, drop empties, NULL → [])."""
    merges_lit = "[" + ",".join(
        f"['{a}','{b}']" for a, b in _BPE_MERGES
    ) + "]"
    return rf"""
    WITH RECURSIVE tok AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(COALESCE(text, '')), '\s+'),
               x -> x <> '')) AS word
      FROM documents
    ), words AS (
      SELECT DISTINCT word FROM tok
    ), steps AS (
      SELECT word,
             list_transform(range(1, len(word) + 1), i -> word[i]) AS parts
      FROM words
      UNION ALL
      SELECT word,
             list_concat(
               list_concat(parts[1:pos-1], [parts[pos] || parts[pos+1]]),
               parts[pos+2:len(parts)]) AS parts
      FROM (
        SELECT word, parts,
               list_position(pr, list_min(list_filter(pr, x -> x > 0)))
                 AS pos
        FROM (
          SELECT word, parts,
                 list_transform(range(1, len(parts)),
                   i -> list_position({merges_lit},
                                      [parts[i], parts[i+1]])) AS pr
          FROM steps
        )
        WHERE len(list_filter(pr, x -> x > 0)) > 0
      )
    ), final AS (
      SELECT word, MIN(len(parts)) AS n_tok FROM steps GROUP BY word
    ), per_doc AS (
      SELECT tok.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(f.n_tok) AS BIGINT) AS n_bpe_tokens
      FROM tok JOIN final f USING (word)
      GROUP BY tok.doc_id
    )
    SELECT d.doc_id AS id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """


@query("bpe_token_counts_docs", None)  # oracle attached below (generated)
def bpe_q(spark, sf_dir):
    """Real BPE token counting (operators.text.bpe_token_count) under
    a fixed toy merge table of common English character pairs.  The
    iterative per-word merge loop has a recursive-CTE SQL twin
    (``_bpe_oracle``) — the gate is value-hashed, and unit tests pin
    the kernel against a reference implementation."""
    from ..operators.text import bpe_token_count

    d = load_table(spark, sf_dir, "documents")
    return bpe_token_count(d, _BPE_MERGES)


O["bpe_token_counts_docs"] = _bpe_oracle()


@query(
    "lm_perplexity_buckets",
    f"""
    WITH {_LM_CE_SQL}, bucketed AS (
      SELECT doc_id, ce,
             NTILE(3) OVER (ORDER BY ce ASC, doc_id ASC) AS bucket
      FROM all_docs
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(ce), 6) AS sum_ce
    FROM bucketed GROUP BY bucket
    """,
)
def lm_buckets_q(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    2020 §4.3 keep the head, drop or resample the tail): rank
    documents by LM cross-entropy and cut the corpus into thirds.
    Composition of ``lm_cross_entropy`` + ``profile.exact_ntile`` —
    the distributed two-level rank construction, NOT a bare
    unpartitioned Window (which plans a single-partition global sort:
    the one plan shape that cannot survive a 100× scale-up).  The
    (id, ce) projection is checkpointed first: exact_ntile passes over
    it three times (sketch, coarse counts, final), and ce is two
    narrow columns — the LM scoring join must not run thrice."""
    from ..operators.profile import exact_ntile
    from ..operators.text import lm_cross_entropy

    d = load_table(spark, sf_dir, "documents")
    scored = checkpoint(
        lm_cross_entropy(d, "doc_id", "text").select(
            "id", F.col("cross_entropy").alias("ce")
        ),
        eager=True,
    )
    return (
        exact_ntile(scored, 3, "ce", "id", coarse_buckets=16)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("ce"), 6).alias("sum_ce"),
        )
    )


@query(
    "classifier_score_docs",
    """
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(
               unnest(string_split_regex(lower(trim(text)), '\\s+'))), 1, 8))
               AS BIGINT) % 4096 AS b
      FROM documents
    ), model AS (
      SELECT DISTINCT b AS bucket,
             (CAST(b % 101 AS DOUBLE) - 50.0) / 500.0 AS w
      FROM tok
    ), scored AS (
      SELECT tok.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM(model.w) AS sw
      FROM tok JOIN model ON model.bucket = tok.b
      GROUP BY tok.doc_id
    )
    -- LEFT JOIN from documents: the operator emits every input doc,
    -- scoring NULL-text docs as sigmoid(bias) with n_tokens = 0
    SELECT d.doc_id AS id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           ROUND(1.0 / (1.0 + exp(-(0.1 + COALESCE(s.sw, 0.0)))), 6) AS score
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    """,
)
def classifier_q(spark, sf_dir):
    """fastText-shaped hashed linear classifier
    (operators.text.hashed_classifier_score): a deterministic synthetic
    model table (w = (bucket%101 − 50)/500 over the corpus's own
    buckets) exercises the real scoring path — md5 feature hashing,
    broadcast model join, sigmoid — with an exact SQL twin.

    Perf note (VERDICT r4 watch, re-measured round 5): three
    back-to-back sf0.1 runs gave 4.71/1.41/1.31 s — a 3.6× spread on
    identical plans, so the r4 1.03→1.73 s move was host noise, not a
    regression from the calibration additions (which share no
    persisted state with this query; the model broadcast is still
    one-shot).  Steady-state ≈1.3 s."""
    from ..operators.text import hashed_classifier_score
    from ..operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    dim = 4096
    model = (
        d.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("_t")
        )
        .select(hash_bucket(F.col("_t"), dim).alias("bucket"))
        .distinct()
        .select(
            "bucket",
            (
                ((F.col("bucket") % 101).cast("double") - 50.0) / 500.0
            ).alias("w"),
        )
    )
    return hashed_classifier_score(d, model, dim=dim, bias=0.1)


@query(
    "quantize_embeddings_int8",
    """
    WITH q AS (
      SELECT vec_id,
             CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END AS scale,
             list_transform(v, x -> CAST(floor(CAST(x AS DOUBLE)
               * (CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END) + 0.5)
               AS INTEGER)) AS codes
      FROM (
        SELECT vec_id, embedding AS v,
               list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
      ) t
    )
    SELECT vec_id, ROUND(scale, 9) AS scale,
           CAST(list_sum(codes) AS BIGINT) AS q_sum,
           CAST(list_min(codes) AS BIGINT) AS q_min,
           CAST(list_max(codes) AS BIGINT) AS q_max
    FROM q
    """,
)
def quantize_q(spark, sf_dir):
    """Symmetric int8 embedding quantization
    (operators.similarity.quantize_embeddings): the floor(x·s + 0.5)
    contract makes the codes bit-identical across engines, verified by
    per-vector code checksums (sum/min/max — the gate forbids array
    columns in output)."""
    from ..operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb, "vec_id", "embedding")
    return q.select(
        F.col("id").alias("vec_id"),
        F.round("scale", 9).alias("scale"),
        F.aggregate(
            "q", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("q_sum"),
        F.array_min("q").cast("bigint").alias("q_min"),
        F.array_max("q").cast("bigint").alias("q_max"),
    )


@query(
    "char_entropy_docs",
    """
    WITH t AS (
      SELECT doc_id, list_sort(string_split(text, '')) AS s,
             len(string_split(text, '')) AS n
      FROM documents
    ), b AS (
      SELECT doc_id, s, n,
             list_filter(range(1, n + 1),
                         i -> i = 1 OR s[i] <> s[i - 1]) AS bounds
      FROM t
    ), c AS (
      SELECT doc_id, n,
             list_transform(range(1, len(bounds) + 1),
               j -> CAST((CASE WHEN j < len(bounds) THEN bounds[j + 1]
                          ELSE n + 1 END) - bounds[j] AS DOUBLE)) AS cnts
      FROM b
    )
    SELECT doc_id,
           ROUND(CASE WHEN n > 0 THEN
             list_sum(list_transform(cnts,
               c -> -(c / n) * ln(c / n)))
           ELSE 0.0 END, 6) AS entropy
    FROM c
    """,
)
def char_entropy_q(spark, sf_dir):
    """Character-entropy quality signal (functions.text.
    with_char_entropy): the compression-style filter axis —
    repeated-char spam scores near 0, hex/base64 blobs score above
    the prose band.  Map-only STAGED projection chain (no explode, no
    shuffle): sorted run-length counts, O(n log n) per doc instead of
    a filter scan per distinct character, each level a real column so
    Catalyst can't inline the sort into every element access; the
    DuckDB oracle replays the identical sorted-order summation."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import with_char_entropy

    return with_char_entropy(
        d.select("doc_id", "text"), text_col="text"
    ).select("doc_id", F.round("entropy", 6).alias("entropy"))


@query(
    "weighted_sample_docs",
    """
    SELECT doc_id, n_chars
    FROM (
      SELECT doc_id, n_chars,
             ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 10000 + 1) / 10001.0)
             / CAST(n_chars AS DOUBLE) AS aes
      FROM documents WHERE n_chars > 0
      ORDER BY aes DESC, doc_id ASC
      LIMIT 100
    ) t
    """,
)
def weighted_sample_q(spark, sf_dir):
    """Weighted sample without replacement
    (operators.sampling.weighted_sample_k): 100 documents with
    inclusion probability ∝ n_chars, via the Efraimidis–Spirakis key
    over the md5-bucket uniform — deterministic, so DuckDB replays the
    identical selection.  Plan is map-only + TakeOrderedAndProject."""
    from ..operators.sampling import weighted_sample_k

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample_k(
        d, 100, "n_chars", "doc_id", id_cols=["doc_id", "n_chars"]
    )

@query(
    "q20_excess_supply",
    """
    WITH pairs AS (
      SELECT l.l_suppkey,
             SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l.l_shipdate <  TIMESTAMP '1997-01-01'
                      THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS q96,
             SUM(CAST(l.l_quantity AS BIGINT)) AS q_total
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small%'
      GROUP BY l.l_partkey, l.l_suppkey
      HAVING 2 * SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
                           AND l.l_shipdate <  TIMESTAMP '1997-01-01'
                          THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END)
             > SUM(CAST(l.l_quantity AS BIGINT))
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_excess_parts
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
                 AND n.n_name IN ('NATION_3', 'NATION_7')
    JOIN pairs ON pairs.l_suppkey = s.s_suppkey
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q20_q(spark, sf_dir):
    """TPC-H Q20 analogue (potential part promotion), adapted to this
    schema's lack of partsupp: the supply relation is lineitem itself —
    a (part, supplier) pair is "excess" when its 1996 shipments exceed
    half its all-time shipments, for parts named small%.  Exercises the
    Q20 shape end-to-end: LIKE-filtered dim broadcast into the fact
    scan, a correlated same-table aggregate collapsed into ONE
    conditional groupBy (no second lineitem scan — the CASE sum is the
    decorrelated subquery), then a supplier-keyed re-aggregation behind
    a broadcast nation filter.  Quantities are integral, so the
    2·q96 > q_total comparison is exact in both engines (no double
    rounding at the boundary)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    in96 = (F.col("l_shipdate") >= "1996-01-01") & (
        F.col("l_shipdate") < "1997-01-01"
    )
    qty = F.col("l_quantity").cast("bigint")
    pairs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in96, qty).otherwise(F.lit(0))).alias("q96"),
            F.sum(qty).alias("q_total"),
        )
        .filter(2 * F.col("q96") > F.col("q_total"))
    )
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(pairs, pairs.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_excess_parts"))
    )

@query(
    "cross_join_region_nation",
    """
    SELECT r.r_name, n.n_name,
           r.r_name || '/' || n.n_name AS pair
    FROM region r CROSS JOIN nation n
    """,
)
def cross_join_q(spark, sf_dir):
    """Explicit Cartesian product (SURVEY.md §2.3 [EXT]): the
    all-pairs shape used for small calibration grids.  Both sides tiny
    → Spark broadcasts one and the product is map-side
    (BroadcastNestedLoopJoin); the operator is only sane when one side
    is broadcastable, which is exactly when crossJoin should exist in
    a plan at all."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n)).select(
        "r_name",
        "n_name",
        F.concat_ws("/", "r_name", "n_name").alias("pair"),
    )


@query(
    "interval_join_events_windows",
    """
    WITH b AS (
      SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events
    ), wins AS (
      SELECT i AS window_id,
             lo + i * 3600000000 AS ws,
             lo + i * 3600000000 + 1200000000 AS we
      FROM b, unnest(range(0, (hi - lo) // 3600000000 + 1)) AS t(i)
    ), ev AS (
      SELECT event_id, value, epoch_us(ts) AS es,
             epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS ee
      FROM events
    )
    SELECT w.window_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlapping,
           ROUND(SUM(value), 2) AS sum_value
    FROM wins w JOIN ev e ON e.es <= w.we AND w.ws <= e.ee
    GROUP BY w.window_id
    """,
)
def interval_join_q(spark, sf_dir):
    """Keyless interval-overlap join (operators.joins.interval_join):
    events carry a duration (``value`` minutes); count the ones
    overlapping each 20-minute-per-hour maintenance window.  No equi
    key exists, so the operator manufactures one by time-bucketing —
    the DuckDB oracle states the same join as a raw non-equi theta
    join (its IEJoin handles small scale; Spark's BNLJ would not
    survive large scale, which is the point of the bucketed plan)."""
    from ..operators.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    es = epoch_us("ts")
    HOUR = 3_600_000_000  # µs
    bounds = ev.select(es.alias("_x")).agg(
        F.min("_x").alias("lo"), F.max("_x").alias("hi")
    )
    wins = (
        F.broadcast(bounds)
        .select(
            "lo",
            F.explode(
                # integer `div`, not `/`: double division can round an
                # exact-multiple boundary up and add a phantom window
                F.sequence(F.lit(0), F.expr(f"(hi - lo) div {HOUR}"))
            ).alias("window_id"),
        )
        .select(
            "window_id",
            (F.col("lo") + F.col("window_id") * HOUR).alias("ws"),
            (F.col("lo") + F.col("window_id") * HOUR + 1_200_000_000).alias(
                "we"
            ),
        )
    )
    evi = ev.select(
        "event_id",
        "value",
        es.alias("es"),
        (
            es
            + F.floor(F.col("value") * 60).cast("bigint") * F.lit(1_000_000)
        ).alias("ee"),
    )
    joined = interval_join(
        wins, evi, ("ws", "we"), ("es", "ee"), bucket_width=HOUR
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlapping"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "dsir_scores_docs",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents
    ), tt AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents WHERE source IN ('src0', 'src1')
    ), cc AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), ct AS (
      SELECT w, COUNT(*) AS c FROM tt GROUP BY w
    ), s AS (
      SELECT (SELECT SUM(c) FROM cc) AS nc,
             (SELECT COALESCE(SUM(c), 0) FROM ct) AS nt,
             (SELECT COUNT(*) FROM cc) AS v
    ), model AS (
      SELECT cc.w,
             ln((COALESCE(ct.c, 0) + 0.5) / (s.nt + 0.5 * s.v))
             - ln((cc.c + 0.5) / (s.nc + 0.5 * s.v)) AS lr
      FROM cc LEFT JOIN ct USING (w), s
    )
    SELECT tok.doc_id AS id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(lr), 6) AS log_ratio
    FROM tok JOIN model ON tok.w = model.w
    GROUP BY tok.doc_id
    """,
)
def dsir_q(spark, sf_dir):
    """DSIR importance weights (operators.text.dsir_importance):
    score every document's unigram log-likelihood ratio against the
    src0/src1 slice as the target domain — the published
    data-selection estimator whose unigram form has an exact SQL
    twin."""
    from ..operators.text import dsir_importance

    d = load_table(spark, sf_dir, "documents")
    return dsir_importance(d, d.filter(F.col("source").isin("src0", "src1")))


# =====================================================================
# Round-3 SQL-surface family (SURVEY.md §2.14): max_by/min_by argmax
# aggregates, listagg WITHIN GROUP, LATERAL correlated subqueries,
# Spark 4 recursive CTEs, DataFrame.transpose, regr_* closed-form
# linear regression.  Each exercises a distinct parser/Catalyst
# surface the earlier families don't touch.
# =====================================================================

@query(
    "argmax_orders_per_customer",
    """
    SELECT o_custkey,
           arg_max(o_orderdate, o_orderkey)  AS latest_date,
           arg_min(o_orderdate, o_orderkey)  AS first_date,
           arg_max(o_totalprice, o_orderkey) AS latest_price,
           COUNT(*)                          AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def argmax_orders_q(spark, sf_dir):
    """max_by/min_by argmax aggregates (SURVEY.md §2.14): the
    latest/first order per customer selected by the unique
    ``o_orderkey`` — unique selector ⇒ deterministic, so the copied
    ``o_totalprice`` double needs no rounding (no float fold, just a
    carry).  One hash-agg shuffle on the group key; at 100 TB this is
    the minimal shape for "latest record per entity" (no window sort,
    no join-back)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderdate, o_orderkey)").alias("latest_date"),
        F.expr("min_by(o_orderdate, o_orderkey)").alias("first_date"),
        F.expr("max_by(o_totalprice, o_orderkey)").alias("latest_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "listagg_status_by_priority",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ','
                      ORDER BY o_orderstatus) AS statuses,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def listagg_q(spark, sf_dir):
    """Spark 4 ``listagg(...) WITHIN GROUP (ORDER BY ...)`` ordered
    string aggregation (SURVEY.md §2.14; DuckDB twin spells it
    ``string_agg(... ORDER BY ...)``).  DISTINCT bounds the
    concatenated payload to the status alphabet regardless of group
    size — the safe way to listagg at 100 TB."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
        """
    )


# identical ANSI text runs on both engines: Spark parses the LATERAL
# correlated subquery and decorrelates it into a left outer aggregate
# join (no per-row re-execution), DuckDB runs its own lateral plan.
_LATERAL_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, t.n_orders, t.max_price
    FROM customer c, LATERAL (
      SELECT COUNT(*) AS n_orders,
             ROUND(MAX(o.o_totalprice), 2) AS max_price
      FROM orders o WHERE o.o_custkey = c.c_custkey
    ) t
"""


@query("lateral_customer_order_stats", _LATERAL_SQL)
def lateral_q(spark, sf_dir):
    """LATERAL correlated subquery (SURVEY.md §2.14) — per-customer
    aggregates via a correlated derived table.  Catalyst decorrelates
    to a single aggregate + join (verified: no Python-side loop, no
    per-row subquery execution), so the 100 TB cost is one shuffle —
    identical to writing the join by hand, but declared relationally."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# identical text on both engines; MAX_BY's selector ``rn`` is unique
# per customer so the argmax is deterministic.  The recurrence runs in
# INTEGER CENTS (halving via exact double ops on integer-valued
# doubles < 2^53, then floor) — a float-valued 0.5·bal + price chain
# would park balances on exact .xx5 midpoints, where Spark's
# BigDecimal-via-toString ROUND and an engine rounding the raw double
# legitimately disagree (observed at sf0.1).
_RECURSIVE_DECAY_SQL = """
    WITH RECURSIVE seq AS (
      SELECT * FROM (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS p_cents,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
      ) q WHERE rn <= 12
    ), r AS (
      SELECT o_custkey, rn, p_cents AS bal FROM seq WHERE rn = 1
      UNION ALL
      SELECT /*+ BROADCAST(s) */
             s.o_custkey, s.rn,
             CAST(floor(r.bal / 2.0) AS BIGINT) + s.p_cents
      FROM r JOIN seq s ON s.o_custkey = r.o_custkey AND s.rn = r.rn + 1
    )
    SELECT o_custkey, MAX(rn) AS n_orders,
           MAX_BY(bal, rn) AS final_balance_cents
    FROM r GROUP BY o_custkey
"""


@query("recursive_order_decay", _RECURSIVE_DECAY_SQL)
def recursive_decay_q(spark, sf_dir):
    """Spark 4 recursive CTE (SURVEY.md §2.14): exponentially decayed
    customer balance bal_n = ⌊bal_{n-1}/2⌋ + price_n in integer
    cents, an inherently
    sequential per-entity recurrence over each customer's first 12
    orders (depth capped at 12 so the gate's iterative join count is
    bounded — uncapped depth = max orders per customer, still far
    under Spark's recursion limit); each step is one equi-join on
    (custkey, rn), and rows leave the frontier as their chain ends.  Scale note: this linear
    recurrence also has the closed form Σ pᵢ·0.5^(n-i) computable in
    one window pass — kept recursive here because the gate verifies
    the iterative CTE surface itself (the closed form changes the
    float association order)."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_DECAY_SQL)


@query(
    "transpose_order_status_stats",
    """
    WITH s AS (
      SELECT o_orderstatus AS st,
             CAST(COUNT(*) AS DOUBLE)        AS n_orders,
             ROUND(SUM(o_totalprice), 2)     AS sum_price,
             ROUND(AVG(o_totalprice), 4)     AS avg_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT 'n_orders' AS key,
           (SELECT n_orders FROM s WHERE st = 'F') AS "F",
           (SELECT n_orders FROM s WHERE st = 'O') AS "O",
           (SELECT n_orders FROM s WHERE st = 'P') AS "P"
    UNION ALL
    SELECT 'sum_price',
           (SELECT sum_price FROM s WHERE st = 'F'),
           (SELECT sum_price FROM s WHERE st = 'O'),
           (SELECT sum_price FROM s WHERE st = 'P')
    UNION ALL
    SELECT 'avg_price',
           (SELECT avg_price FROM s WHERE st = 'F'),
           (SELECT avg_price FROM s WHERE st = 'O'),
           (SELECT avg_price FROM s WHERE st = 'P')
    """,
)
def transpose_q(spark, sf_dir):
    """Spark 4 ``DataFrame.transpose()`` (SURVEY.md §2.14): rows↔
    columns over a per-status metrics table — the first column's
    values ('F'/'O'/'P') become column names, metric names land in
    ``key``.  Transpose collects the (tiny, pre-aggregated) frame to
    pivot its axes — correct use is always after aggregation, never on
    a fact table; the oracle rebuilds the same grid with scalar
    subqueries."""
    o = load_table(spark, sf_dir, "orders")
    base = (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("o_orderstatus")
    )
    return base.transpose()


@query(
    "regr_value_trend_events",
    """
    SELECT event_type,
           regr_count(value, x)                  AS n,
           ROUND(regr_slope(value, x), 6)        AS slope,
           ROUND(regr_intercept(value, x), 6)    AS intercept,
           ROUND(regr_r2(value, x), 6)           AS r2,
           ROUND(regr_avgx(value, x), 6)         AS avg_x,
           ROUND(regr_avgy(value, x), 6)         AS avg_y
    FROM (
      SELECT event_type, value,
             CAST(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')
                  AS DOUBLE) / 86400000000.0 AS x
      FROM events
    ) t GROUP BY event_type
    """,
)
def regr_events_q(spark, sf_dir):
    """Closed-form OLS per group via the SQL2003 ``regr_*`` aggregate
    family (SURVEY.md §2.14): value-vs-time trend per event type.
    The regressor is centered on a literal anchor (days since
    2024-01-01, x ∈ [0, 31]) so Σx² stays small — uncentered epoch
    seconds (~1.7e9) squared would cancel catastrophically and the
    cross-engine float fold would flap even under ROUND.  Single
    hash-agg shuffle; the moment sums are map-side partial."""
    e = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    x = (epoch_us(F.col("ts")) - epoch_us(anchor)).cast("double") / F.lit(
        86400000000.0
    )
    return (
        e.select("event_type", "value", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.expr("regr_count(value, x)").alias("n"),
            F.round(F.expr("regr_slope(value, x)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(value, x)"), 6).alias("intercept"),
            F.round(F.expr("regr_r2(value, x)"), 6).alias("r2"),
            F.round(F.expr("regr_avgx(value, x)"), 6).alias("avg_x"),
            F.round(F.expr("regr_avgy(value, x)"), 6).alias("avg_y"),
        )
    )


