"""Round-3 third wave: graph analytics, span dedup, path mining — split from the single-file registry (VERDICT r7 #7).

Registration order is preserved by the package ``__init__`` importing
the domain modules in the original file order; ``Q``/``O`` are the
shared dicts from ``._core``.
"""

from __future__ import annotations


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
    scratch_dir,
)
from .llm import _centroid_assign_sql, _curation_v3_oracle, _ivf_topk_oracle  # noqa: F401

# =====================================================================
# Round-3 third wave: graph analytics, span dedup, path mining
# =====================================================================

@query(
    "triangle_clustering_suppliers",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), e AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), deg AS (
      SELECT id, COUNT(*) AS degree
      FROM (SELECT u AS id FROM e UNION ALL SELECT v FROM e)
      GROUP BY id
    ), o AS (
      SELECT CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.u < e.v)
                  THEN e.u ELSE e.v END AS lo,
             CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.u < e.v)
                  THEN e.v ELSE e.u END AS hi
      FROM e JOIN deg da ON da.id = e.u JOIN deg db ON db.id = e.v
    ), w AS (
      SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z
      FROM o w1 JOIN o w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
    ), closing AS (
      SELECT LEAST(lo, hi) AS p, GREATEST(lo, hi) AS q FROM o
    ), tri AS (
      SELECT x, y, z FROM w JOIN closing ON w.y = p AND w.z = q
    ), pn AS (
      SELECT id, COUNT(*) AS n_triangles
      FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY id
    )
    SELECT deg.id AS supplier, CAST(deg.degree AS BIGINT) AS degree,
           CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN ROUND(2.0 * COALESCE(pn.n_triangles, 0)
                           / (deg.degree * (deg.degree - 1.0)), 9)
                ELSE 0.0 END AS coefficient
    FROM deg LEFT JOIN pn ON pn.id = deg.id
    """,
)
def triangle_q(spark, sf_dir):
    """Per-supplier triangle count + local clustering coefficient
    (operators.components.local_clustering) over the co-shipment
    graph: suppliers are adjacent iff they ship lines of the same
    order.  Degree-ordered orientation bounds the wedge join by
    O(|E|^1.5) on any degree distribution (Suri & Vassilvitskii,
    WWW'11); the closing-edge probe is a canonical-pair equi-join, no
    nested loops.  The oracle replays the identical orientation and
    wedge construction."""
    from ..operators.components import local_clustering

    li = load_table(spark, sf_dir, "lineitem")
    lo = li.select("l_orderkey", "l_suppkey").distinct()
    a, b = lo.alias("a"), lo.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
    ).select(
        F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
    )
    out = local_clustering(edges)
    return out.select(
        F.col("id").alias("supplier"),
        F.col("degree").cast("bigint").alias("degree"),
        "n_triangles",
        "coefficient",
    )


def _lpa_oracle(rounds: int = 3) -> str:
    """Unrolled synchronous-LPA SQL: per round, neighbor-label counts
    then a per-node argmax (count DESC, label ASC) — the exact
    deterministic schedule operators.components.label_propagation
    runs, like the pagerank oracle's unrolled power iterations."""
    parts = [
        """
    WITH raw AS (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS u,
             CAST(l_suppkey AS BIGINT) + 10000000 AS v
      FROM lineitem
    ), e AS (
      SELECT u, v FROM raw UNION SELECT v, u FROM raw
    ), l0 AS (
      SELECT DISTINCT u AS id, u AS label FROM e
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", c{r} AS (
      SELECT e.u, l.label, COUNT(*) AS n
      FROM e JOIN l{r-1} l ON l.id = e.v GROUP BY e.u, l.label
    ), l{r} AS (
      SELECT u AS id, label FROM (
        SELECT u, label,
               ROW_NUMBER() OVER (PARTITION BY u
                                  ORDER BY n DESC, label ASC) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT id AS node, label FROM l{rounds}
    """
    )
    return "".join(parts)


@query("lpa_part_supplier", None)  # oracle attached below (generated)
def lpa_q(spark, sf_dir):
    """Synchronous label propagation (operators.components.
    label_propagation), 3 rounds, over the part–supplier bipartite
    shipment graph (suppliers offset to disjoint id space).  Most-
    frequent-neighbor-label with min-label tie-break is fully
    deterministic, so the fixed round count has an exact unrolled-CTE
    oracle — community structure emerges as parts adopt hub-supplier
    labels."""
    from ..operators.components import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").cast("bigint").alias("u"),
        (F.col("l_suppkey").cast("bigint") + 10000000).alias("v"),
    )
    out = label_propagation(edges, iterations=3)
    return out.select(F.col("id").alias("node"), "label")


O["lpa_part_supplier"] = _lpa_oracle(3)


@query(
    "span_dedup_docs",
    r"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN COALESCE(trim(text), '') = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+')
             END AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, i AS s,
             array_to_string(list_slice(w, i, i + 4), ' ') AS g
      FROM (
        SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        FROM base WHERE len(w) >= 5
      )
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1
    ), cov AS (
      SELECT DISTINCT doc_id, p
      FROM (
        SELECT grams.doc_id, unnest(range(s, s + 5)) AS p
        FROM grams JOIN dup USING (g)
      )
    ), tok AS (
      SELECT doc_id, w[i] AS word, i AS p
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM base)
    ), kept AS (
      SELECT t.doc_id, t.p, t.word
      FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
      WHERE c.p IS NULL
    ), ag AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(word, ' ' ORDER BY p) AS ktext
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id AS id, CAST(len(b.w) AS BIGINT) AS n_tokens,
           CAST(len(b.w) - COALESCE(ag.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(ag.ktext, '') AS kept_text
    FROM base b LEFT JOIN ag USING (doc_id)
    """,
)
def span_dedup_q(spark, sf_dir):
    """Duplicated-span removal (operators.text.remove_duplicate_spans,
    k=5): tokens covered by any corpus-duplicated 5-gram are cut and
    the surviving text reassembled — the full output (kept_text
    included) is value-hashed against the SQL replay.  The oracle's
    positions are 1-based, the operator's 0-based; coverage sets are
    identical because both derive from the same gram starts."""
    from ..operators.text import remove_duplicate_spans

    d = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(d, k=5)


@query(
    "bfs_distance_from_nation0",
    """
    WITH raw AS (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS u,
             CAST(l_suppkey AS BIGINT) + 10000000 AS v
      FROM lineitem
    ), e AS (
      SELECT u, v FROM raw UNION SELECT v, u FROM raw
    ), d0 AS (
      SELECT DISTINCT CAST(s_suppkey AS BIGINT) + 10000000 AS id, 0 AS dist
      FROM supplier
      WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
    ), d1 AS (
      SELECT id, MIN(dist) AS dist FROM (
        SELECT e.u AS id, d.dist + 1 AS dist FROM e JOIN d0 d ON d.id = e.v
        UNION ALL SELECT id, dist FROM d0
      ) GROUP BY id
    ), d2 AS (
      SELECT id, MIN(dist) AS dist FROM (
        SELECT e.u AS id, d.dist + 1 AS dist FROM e JOIN d1 d ON d.id = e.v
        UNION ALL SELECT id, dist FROM d1
      ) GROUP BY id
    )
    SELECT id, dist FROM d2
    """,
)
def bfs_q(spark, sf_dir):
    """Multi-source BFS hop distance (operators.components.
    bfs_distances) from the min-nation supplier seed set over the
    part–supplier shipment graph, 2 hops — the graph-proximity
    quality signal (dist 0 = trusted seeds, 1 = their parts, 2 =
    co-suppliers).  Frontier-free min-relaxation has an exact
    unrolled twin; unreached nodes are absent, not sentinel rows."""
    from ..operators.components import bfs_distances

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    edges = li.select(
        F.col("l_partkey").cast("bigint").alias("u"),
        (F.col("l_suppkey").cast("bigint") + 10000000).alias("v"),
    )
    min_nation = sup.agg(F.min("s_nationkey")).first()[0]
    seeds = sup.filter(F.col("s_nationkey") == min_nation).select(
        (F.col("s_suppkey").cast("bigint") + 10000000).alias("id")
    )
    return bfs_distances(edges, seeds, max_hops=2)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronous k-core peeling: per round, degree over the
    surviving symmetric edge list, then drop sub-k nodes — the exact
    schedule operators.components.kcore runs."""
    head = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), raw AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
      SELECT u, v FROM raw UNION SELECT v, u FROM raw
    )"""
    parts = [head]
    for r in range(1, rounds + 1):
        parts.append(
            f""", keep{r} AS (
      SELECT u FROM e{r-1} GROUP BY u HAVING COUNT(*) >= {k}
    ), e{r} AS (
      SELECT e.u, e.v FROM e{r-1} e
      JOIN keep{r} a ON a.u = e.u JOIN keep{r} b ON b.u = e.v
    )"""
        )
    parts.append(
        f"""
    SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY u HAVING COUNT(*) >= {k}
    """
    )
    return "".join(parts)


@query("kcore_parts_cooccurrence", None)  # oracle attached below (generated)
def kcore_q(spark, sf_dir):
    """k-core peeling (operators.components.kcore, k=80, 4 sync
    rounds) over the part co-purchase graph (parts adjacent iff they
    appear in the same order): the dense backbone that survives after
    low-degree fringe cascades away — the cohesion filter ahead of
    community detection.  Fixed peel rounds have an exact unrolled
    twin; each extra round past convergence is a no-op."""
    from ..operators.components import kcore

    li = load_table(spark, sf_dir, "lineitem")
    lo = li.select("l_orderkey", "l_partkey").distinct()
    a, b = lo.alias("a"), lo.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
    )
    out = kcore(edges, k=80, peel_rounds=4)
    return out.select("id", F.col("degree").cast("bigint").alias("degree"))


O["kcore_parts_cooccurrence"] = _kcore_oracle(80, 4)


def _trustrank_oracle(rounds: int = 3) -> str:
    """Unrolled personalized-pagerank (TrustRank) iterations: teleport
    uniform over the nation-0 supplier seeds, d=0.85, same
    no-dangling-redistribution simplification as the pagerank
    oracle."""
    head = """
    WITH raw AS (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS u,
             CAST(l_suppkey AS BIGINT) + 10000000 AS v
      FROM lineitem
    ), e AS (
      SELECT u, v FROM raw UNION SELECT v, u FROM raw
    ), nodes AS (
      SELECT DISTINCT u AS id FROM e
    ), seeds AS (
      SELECT DISTINCT CAST(s_suppkey AS BIGINT) + 10000000 AS id
      FROM supplier
      WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
    ), sg AS (
      SELECT seeds.id FROM seeds JOIN nodes USING (id)
    ), ns AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sg
    ), deg AS (
      SELECT u, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY u
    ), tvec AS (
      SELECT nodes.id,
             CASE WHEN sg.id IS NOT NULL THEN 1.0 / (SELECT n FROM ns)
                  ELSE 0.0 END AS t
      FROM nodes LEFT JOIN sg ON sg.id = nodes.id
    ), p0 AS (
      SELECT id, t AS r FROM tvec
    )"""
    parts = [head]
    for i in range(1, rounds + 1):
        parts.append(
            f""", c{i} AS (
      SELECT e.v, SUM(p.r / deg.d) AS s
      FROM e JOIN deg USING (u) JOIN p{i-1} p ON p.id = e.u GROUP BY e.v
    ), p{i} AS (
      SELECT tvec.id, 0.15 * tvec.t + 0.85 * COALESCE(c{i}.s, 0) AS r
      FROM tvec LEFT JOIN c{i} ON c{i}.v = tvec.id
    )"""
        )
    parts.append(
        f"""
    SELECT id, ROUND(r, 9) AS rank FROM p{rounds}
    """
    )
    return "".join(parts)


@query("trustrank_part_supplier", None)  # oracle attached below (generated)
def trustrank_q(spark, sf_dir):
    """TrustRank (Gyöngyi et al. VLDB'04): personalized PageRank with
    the teleport vector uniform over the min-nation supplier seed set,
    3 iterations, d=0.85, over the SYMMETRIZED part–supplier graph
    (so trust flows seeds → parts → other suppliers).  Rank =
    random-walk proximity to vetted seeds — the propagation half of
    seed-based corpus quality curation.  Oracle unrolls the same
    three personalized power iterations."""
    from ..operators.components import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    part_supp = li.select(
        F.col("l_partkey").cast("bigint").alias("src"),
        (F.col("l_suppkey").cast("bigint") + 10000000).alias("dst"),
    )
    edges = part_supp.unionByName(
        part_supp.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    # min-nation seeds, not a literal nation: tiny scale factors may
    # not sample nation 0 at all, and an empty seed set is an error
    min_nation = sup.agg(F.min("s_nationkey")).first()[0]
    seeds = sup.filter(F.col("s_nationkey") == min_nation).select(
        (F.col("s_suppkey").cast("bigint") + 10000000).alias("id")
    )
    out = pagerank(edges, iterations=3, teleport=seeds)
    return out.select("id", F.round("rank", 9).alias("rank"))


O["trustrank_part_supplier"] = _trustrank_oracle(3)


def _image_ahash_oracle(dim: int = 16) -> str:
    """SQL twin of image_average_hash's fake-decoder path: the same
    byte recurrence as _multimodal_image_oracle, then EXACT integer
    threshold bits (dim·a_k > Σa — no float mean) packed into a
    BIGINT."""
    byte = (
        lambda k: f"CAST('0x' || substr(H, 2*({k} % L) + 1, 2) AS INT)"
    )
    accs = [f"({byte(0)}) % 997 AS a0"] + [
        f"((a{k-1} * 31 + {byte(k)}) % 997) AS a{k}" for k in range(1, dim)
    ]
    total = " + ".join(f"a{k}" for k in range(dim))
    bits = " + ".join(
        f"CASE WHEN {dim} * a{k} > t THEN {1 << k} ELSE 0 END"
        for k in range(dim)
    )
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS H,
             octet_length(encode(text)) AS L
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), acc AS (
      SELECT media_id, {", ".join(accs)} FROM base
    ), h AS (
      SELECT media_id, CAST({bits} AS BIGINT) AS ahash
      FROM (SELECT media_id, {", ".join(f'a{k}' for k in range(dim))},
                   ({total}) AS t FROM acc)
    )
    SELECT ahash, COUNT(*) AS n_images,
           MIN(media_id) AS min_id, MAX(media_id) AS max_id
    FROM h GROUP BY ahash
    """


@query("image_ahash_groups", None)  # oracle attached below (generated)
def image_ahash_q(spark, sf_dir):
    """Perceptual average-hash bucketing
    (operators.multimodal.image_average_hash): identical-aHash groups
    are the near-duplicate image candidates — the visual twin of
    SimHash text bucketing.  Gate media derive from the documents
    parquet exactly as multimodal_image_features; the hash's integer
    threshold arithmetic replays bit-for-bit in SQL."""
    from ..operators.multimodal import image_average_hash

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    h = image_average_hash(media, dim=16)
    return h.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("media_id").alias("min_id"),
        F.max("media_id").alias("max_id"),
    )


O["image_ahash_groups"] = _image_ahash_oracle()


def _image_dhash_oracle(dim: int = 16) -> str:
    """SQL twin of image_difference_hash's fake-decoder path: the
    same byte recurrence over dim+1 accumulators, bit k iff
    a_{k+1} > a_k — adjacent integer comparisons, no mean at all."""
    byte = (
        lambda k: f"CAST('0x' || substr(H, 2*({k} % L) + 1, 2) AS INT)"
    )
    accs = [f"({byte(0)}) % 997 AS a0"] + [
        f"((a{k-1} * 31 + {byte(k)}) % 997) AS a{k}"
        for k in range(1, dim + 1)
    ]
    bits = " + ".join(
        f"CASE WHEN a{k+1} > a{k} THEN {1 << k} ELSE 0 END"
        for k in range(dim)
    )
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS H,
             octet_length(encode(text)) AS L
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), acc AS (
      SELECT media_id, {", ".join(accs)} FROM base
    ), h AS (
      SELECT media_id, CAST({bits} AS BIGINT) AS dhash FROM acc
    )
    SELECT dhash, COUNT(*) AS n_images,
           MIN(media_id) AS min_id, MAX(media_id) AS max_id
    FROM h GROUP BY dhash
    """


@query("image_dhash_groups", None)  # oracle attached below (generated)
def image_dhash_q(spark, sf_dir):
    """Perceptual difference-hash bucketing
    (operators.multimodal.image_difference_hash): identical-dHash
    groups are near-duplicate image candidates by GRADIENT direction
    — robust to the global brightness/contrast shifts that move
    aHash's mean threshold; intersecting aHash and dHash buckets is
    the standard precision upgrade for image dedup.  Same gate-media
    convention as image_ahash_groups; the adjacent-cell integer
    comparisons replay bit-for-bit in SQL."""
    from ..operators.multimodal import image_difference_hash

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    h = image_difference_hash(media, dim=16)
    return h.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("media_id").alias("min_id"),
        F.max("media_id").alias("max_id"),
    )


O["image_dhash_groups"] = _image_dhash_oracle()


@query(
    "top_session_paths",
    """
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    ), p AS (
      SELECT user_id, session_seq,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, session_seq
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path ASC LIMIT 20
    """,
)
def session_paths_q(spark, sf_dir):
    """Top-20 session paths: gap-sessionize (30 min, the
    events_sessionize_30m semantics), concatenate each session's
    event types in (ts, event_id) order, count identical journeys —
    the navigation-mining rollup behind funnel design.  Per-session
    ordering is an ``array_sort(collect_list(struct(...)))`` inside a
    session-keyed aggregate (no corpus-wide window); the final top-20
    is TakeOrderedAndProject with a path tie-break."""
    from ..streaming import sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "ts", "user_id", gap_seconds=1800)
    paths = s.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


@query(
    "cusum_daily_drift_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             ROUND(ROUND(SUM(value), 6) / COUNT(*), 6) AS m
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), st AS (
      SELECT event_type, ROUND(AVG(m), 6) AS mu,
             COUNT(*) AS n_days
      FROM daily GROUP BY event_type
    ), c AS (
      SELECT daily.event_type, d, st.n_days,
             SUM(m - mu) OVER (PARTITION BY daily.event_type ORDER BY d
                               ROWS UNBOUNDED PRECEDING) AS s
      FROM daily JOIN st USING (event_type)
    ), r AS (
      SELECT event_type, n_days, d AS break_day, ROUND(ABS(s), 6) AS max_cusum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(s) DESC, d ASC) AS rn
      FROM c
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days, break_day, max_cusum
    FROM r WHERE rn = 1
    """,
)
def cusum_q(spark, sf_dir):
    """CUSUM change-point screen per event type: cumulative sum of
    (daily mean − overall mean) in day order; the day where |S| peaks
    is the candidate structural break (Page 1954).  Daily means are
    rounded to 6 before differencing so both engines difference
    identical doubles; the cumsum window is partitioned by type and
    ordered by day — bounded partitions (≤ a few thousand days), never
    a global sort.  One agg + one bounded window + one argmax."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.round(
            F.round(F.sum("value"), 6) / F.count(F.lit(1)), 6
        ).alias("m")
    )
    st = daily.groupBy("event_type").agg(
        F.round(F.avg("m"), 6).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = daily.join(st, "event_type").withColumn(
        "s", F.sum(F.col("m") - F.col("mu")).over(w)
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.abs("s").desc(), F.col("d").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("d").alias("break_day"),
            F.round(F.abs("s"), 6).alias("max_cusum"),
        )
    )


def _pq_adc_oracle() -> str:
    """DuckDB twin of ``pq_encode`` + ``pq_adc_topk``: per-subspace
    encode replayed as the SAME left-to-right squared-L2 term chains
    (first-index argmin via ``list_position``), the query LUT as the
    same chains over the query subquery's elements, ADC = the m table
    lookups summed left-to-right — every double bit-identical, no
    ROUND anywhere (the ``_centroid_assign_sql`` guarantee extended to
    subspace slices)."""
    from ..operators.similarity import pq_codebooks

    cb = pq_codebooks(64, 4, 16, seed=11)
    m, _, sub = cb.shape

    def chain(vals, base, var):
        return "(" + " + ".join(
            f"({var}[{base + i + 1}] - {float(v)!r})"
            f" * ({var}[{base + i + 1}] - {float(v)!r})"
            for i, v in enumerate(vals)
        ) + ")"

    dls = ",\n           ".join(
        "[" + ",\n            ".join(chain(c, s * sub, "e") for c in cb[s])
        + f"] AS dl{s}"
        for s in range(m)
    )
    codes = ", ".join(
        f"CAST(list_position(dl{s}, list_min(dl{s})) - 1 AS INTEGER)"
        f" AS code_{s}"
        for s in range(m)
    )
    luts = ",\n           ".join(
        "[" + ",\n            ".join(chain(c, s * sub, "qe") for c in cb[s])
        + f"] AS lut{s}"
        for s in range(m)
    )
    adc = " + ".join(f"l.lut{s}[enc.code_{s} + 1]" for s in range(m))
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), d AS (
      SELECT vec_id,
           {dls}
      FROM c
    ), enc AS (
      SELECT vec_id, {codes} FROM d
    ), l AS (
      SELECT {luts}
      FROM q
    )
    SELECT enc.vec_id, enc.code_0, enc.code_1, enc.code_2, enc.code_3,
           ROUND({adc}, 6) AS adc_dist
    FROM enc CROSS JOIN l
    ORDER BY adc_dist ASC, enc.vec_id ASC
    LIMIT 10
    """


@query("pq_adc_topk_embeddings", None)  # oracle attached below (generated)
def pq_adc_topk_q(spark, sf_dir):
    """ANN via Product Quantization + asymmetric distance (Jegou et
    al. 2011): per-subspace nearest-codeword encode (map-only literal
    chains), then top-k by summed query->codeword LUT entries.  The
    100 TB memory lever: a 4-byte code per vector replaces the 256-byte
    raw vector, so re-ranking candidate generation runs from codes
    only; the seeded literal codebooks (``pq_codebooks``) make encode,
    LUT, and ranking replay exactly in SQL (production would train
    them per subspace and accept a rows-only gate)."""
    from ..operators.similarity import pq_adc_topk, pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = pq_adc_topk(emb, list(qvec), pq_codebooks(64, 4, 16, seed=11), k=10)
    # ROUND the reported distance at the cross-engine fold boundary:
    # the Python-literal LUT and DuckDB's computed LUT chains agree to
    # 1 ulp, not bit-for-bit on every input (observed once at sf0.001)
    return out.withColumn("adc_dist", F.round("adc_dist", 6))


O["pq_adc_topk_embeddings"] = _pq_adc_oracle()


def _mmr_oracle(k: int = 5, pool: int = 20) -> str:
    """DuckDB twin of ``mmr_rerank``: the greedy selection unrolled as
    one CTE pair per step (argmax via ORDER BY ... LIMIT 1, ascending-
    id tie-break), max-sim-to-selected as a correlated MAX over the
    pairwise-similarity CTE.  rel/sim are ROUND(6)ed at the cosine
    fold-order boundary exactly like the Spark side; the MMR
    arithmetic on those rounded doubles is exact IEEE both sides."""
    steps = ["""s1 AS (
      SELECT 1 AS step, vec_id, rel, 0.5 * rel - 0.5 * 0.0 AS mmr
      FROM cand ORDER BY mmr DESC, vec_id ASC LIMIT 1
    ), sel1 AS (SELECT vec_id FROM s1)"""]
    for n in range(2, k + 1):
        steps.append(f"""s{n} AS (
      SELECT {n} AS step, cd.vec_id, cd.rel,
             0.5 * cd.rel - 0.5 * (
               SELECT MAX(p.sim) FROM pr p
               WHERE p.ia = cd.vec_id
                 AND p.ib IN (SELECT vec_id FROM sel{n - 1})) AS mmr
      FROM cand cd
      WHERE cd.vec_id NOT IN (SELECT vec_id FROM sel{n - 1})
      ORDER BY mmr DESC, vec_id ASC LIMIT 1
    ), sel{n} AS (SELECT vec_id FROM sel{n - 1}
                  UNION ALL SELECT vec_id FROM s{n})""")
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM s{n}" for n in range(1, k + 1)
    )
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id <> 0
    ), cand AS (
      SELECT vec_id, e,
             ROUND(list_cosine_similarity(e, (SELECT qe FROM q)), 6) AS rel
      FROM c ORDER BY rel DESC, vec_id ASC LIMIT {pool}
    ), pr AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ROUND(list_cosine_similarity(a.e, b.e), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), {",".join(steps)}
    SELECT step, vec_id, rel, ROUND(mmr, 6) AS mmr
    FROM ({union})
    ORDER BY step
    """


@query("mmr_rerank_embeddings", None)  # oracle attached below (generated)
def mmr_rerank_q(spark, sf_dir):
    """Diversified retrieval via Maximal Marginal Relevance (Carbonell
    & Goldstein 1998): one exact top-20 scan bounds the candidate
    pool, pairwise sims are pool^2 broadcast rows, and the greedy
    lam*rel - (1-lam)*max_sim_to_selected selection runs in a single
    bounded Arrow batch.  The query vector is HELD OUT of the corpus
    (vec_id 0 is the query, not a candidate) so marginal relevance is
    non-degenerate; every argmax tie-breaks on ascending vec_id."""
    from ..operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return mmr_rerank(
        emb.filter(F.col("vec_id") != 0), list(qvec), k=5, pool=20, lam=0.5
    )


O["mmr_rerank_embeddings"] = _mmr_oracle()


@query(
    "zipf_slope_by_source",
    r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), cnt AS (
      SELECT source, w, COUNT(*) AS c FROM toks WHERE w <> ''
      GROUP BY source, w
    ), rk AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, w ASC) AS r
      FROM cnt
    )
    SELECT source, COUNT(*) AS n_ranks,
           ROUND(regr_slope(LN(c), LN(r)), 4) AS zipf_slope
    FROM rk WHERE r <= 100
    GROUP BY source ORDER BY source
    """,
)
def zipf_slope_q(spark, sf_dir):
    """Zipf-law fit per source: log-log OLS slope of token frequency
    vs rank over the top-100 ranks (a natural corpus should sit near
    -1; a generated/boilerplate source drifts).  Datasheet-style
    corpus diagnostic: one token-count shuffle, a source-partitioned
    rank window, and a 100-row-per-source regression — regr_slope is
    a mergeable JVM aggregate, so the plan is two hash aggs + one
    bounded window at any corpus size."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    cnt = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    rk = cnt.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("c").desc(), F.col("w").asc()
            )
        ),
    ).filter(F.col("r") <= 100)
    return (
        rk.groupBy("source")
        .agg(
            F.count("*").alias("n_ranks"),
            F.round(
                F.regr_slope(F.log("c"), F.log("r")), 4
            ).alias("zipf_slope"),
        )
        .orderBy("source")
    )


@query(
    "welch_ttest_orders",
    """
    WITH g AS (
      SELECT o_orderpriority AS p, COUNT(*) AS n,
             AVG(o_totalprice) AS m, var_samp(o_totalprice) AS v
      FROM orders GROUP BY o_orderpriority
    )
    SELECT a.p AS pa, b.p AS pb, a.n AS na, b.n AS nb,
           ROUND((a.m - b.m) / SQRT(a.v / a.n + b.v / b.n), 4) AS t_stat,
           ROUND((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n)
                 / ((a.v / a.n) * (a.v / a.n) / (a.n - 1)
                    + (b.v / b.n) * (b.v / b.n) / (b.n - 1)), 2)
               AS welch_dof
    FROM g a JOIN g b ON a.p < b.p
    ORDER BY pa, pb
    """,
)
def welch_ttest_q(spark, sf_dir):
    """Welch's unequal-variance t-test between every pair of order
    priorities on o_totalprice — the A/B-comparison primitive over
    grouped data.  One grouped aggregate (count/mean/var_samp are all
    mergeable) reduces the fact table to 5 rows; the pairwise grid is
    a bounded broadcast self-join, so the expensive side is a single
    map-side-combined shuffle at any scale."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("p"))
        .agg(
            F.count("*").alias("n"),
            F.avg("o_totalprice").alias("m"),
            F.var_samp("o_totalprice").alias("v"),
        )
    )
    a, b = g.alias("a"), F.broadcast(g.alias("b"))
    va_na = F.col("a.v") / F.col("a.n")
    vb_nb = F.col("b.v") / F.col("b.n")
    se2 = va_na + vb_nb
    return (
        a.join(b, F.col("a.p") < F.col("b.p"))
        .select(
            F.col("a.p").alias("pa"),
            F.col("b.p").alias("pb"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            F.round(
                (F.col("a.m") - F.col("b.m")) / F.sqrt(se2), 4
            ).alias("t_stat"),
            F.round(
                se2 * se2
                / (
                    va_na * va_na / (F.col("a.n") - 1)
                    + vb_nb * vb_nb / (F.col("b.n") - 1)
                ),
                2,
            ).alias("welch_dof"),
        )
        .orderBy("pa", "pb")
    )


@query(
    "mannwhitney_quantity_returnflag",
    """
    WITH f AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS ga
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ), cnt AS (
      SELECT v, SUM(ga) AS na, SUM(1 - ga) AS nb FROM f GROUP BY v
    ), cum AS (
      SELECT v, na, nb,
             COALESCE(SUM(nb) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_b_less
      FROM cnt
    ), tot AS (
      SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
             SUM(CAST(na AS DOUBLE)
                 * (CAST(cum_b_less AS DOUBLE)
                    + 0.5 * CAST(nb AS DOUBLE))) AS u_stat,
             SUM((na + nb) * (na + nb) * (na + nb) - (na + nb)) AS tie3
      FROM cum
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           u_stat,
           ROUND((u_stat - n_a * n_b / 2.0)
                 / SQRT(n_a * n_b / 12.0
                        * ((n_a + n_b + 1.0)
                           - tie3 / ((n_a + n_b)
                                     * (n_a + n_b - 1.0)))), 4) AS z_score
    FROM tot
    """,
)
def mannwhitney_q(spark, sf_dir):
    """Mann-Whitney U (rank-sum) comparing l_quantity distributions
    between returned (A) and refused (R) line items, tie-corrected normal z — the
    nonparametric two-sample test.  No global rank over the fact
    table: quantities live on an integer domain, so one hash agg
    reduces to <=50 (value, count_a, count_b) rows and U folds from a
    cumulative walk over that bounded table (U = sum_v na_v *
    (#b below v + 0.5 * ties at v)); every count is exact integer
    arithmetic and both engines evaluate the identical closed-form z
    expression."""
    f = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.col("l_quantity").cast("bigint").alias("v"),
            F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("ga"),
        )
    )
    cnt = f.groupBy("v").agg(
        F.sum("ga").alias("na"), F.sum(1 - F.col("ga")).alias("nb")
    )
    w = (
        Window.orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cnt.withColumn(
        "cum_b_less", F.coalesce(F.sum("nb").over(w), F.lit(0))
    )
    t = (F.col("na") + F.col("nb"))
    tot = cum.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(
            F.col("na") * (F.col("cum_b_less") + 0.5 * F.col("nb"))
        ).alias("u_stat"),
        F.sum(t * t * t - t).alias("tie3"),
    )
    na, nb, u, t3 = (
        F.col("n_a"), F.col("n_b"), F.col("u_stat"), F.col("tie3")
    )
    return tot.select(
        "n_a",
        "n_b",
        "u_stat",
        F.round(
            (u - na * nb / 2.0)
            / F.sqrt(
                na * nb / 12.0
                * ((na + nb + 1.0) - t3 / ((na + nb) * (na + nb - 1.0)))
            ),
            4,
        ).alias("z_score"),
    )


@query(
    "bootstrap_ci_orders",
    """
    WITH r AS (
      SELECT o_orderkey, o_totalprice, unnest(range(0, 64)) AS b
      FROM orders
    ), inc AS (
      SELECT b, o_totalprice FROM r
      WHERE CAST(('0x' || substring(md5(CAST(b AS VARCHAR) || ':'
                  || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
            % 2 = 0
    ), means AS (
      SELECT b, ROUND(AVG(o_totalprice), 4) AS m FROM inc GROUP BY b
    ), rk AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC, b ASC) AS rn
      FROM means
    ), ci AS (
      SELECT COUNT(*) AS n_boot,
             MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
             MAX(CASE WHEN rn = 63 THEN m END) AS ci_hi
      FROM rk
    ), pt AS (
      SELECT ROUND(AVG(o_totalprice), 4) AS point_mean FROM orders
    )
    SELECT n_boot, point_mean, ci_lo, ci_hi FROM ci CROSS JOIN pt
    """,
)
def bootstrap_ci_q(spark, sf_dir):
    """Bootstrap 95% CI for mean(o_totalprice) from 64 deterministic
    half-subsample replicates: replicate membership is the md5-bucket
    contract keyed on (replicate, value) — engine-portable and stable
    under repartitioning, unlike seeded RNG resampling.  The 64x
    row amplification is map-side only (explode then partial-agg), so
    the shuffle carries 64 partial sums regardless of corpus size;
    the CI is an order statistic over the bounded 64-row replicate
    table."""
    from ..operators.sampling import hash_bucket

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    r = o.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(63))))
    inc = r.filter(
        hash_bucket(
            F.concat(
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            ),
            2,
        )
        == 0
    )
    means = inc.groupBy("b").agg(
        F.round(F.avg("o_totalprice"), 4).alias("m")
    )
    rk = means.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("m").asc(), F.col("b").asc())),
    )
    ci = rk.agg(
        F.count("*").alias("n_boot"),
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == 63, F.col("m"))).alias("ci_hi"),
    )
    pt = o.agg(F.round(F.avg("o_totalprice"), 4).alias("point_mean"))
    # membership keys on the integer o_orderkey: double->string casts
    # format differently across engines, integers never do
    return ci.crossJoin(F.broadcast(pt)).select(
        "n_boot", "point_mean", "ci_lo", "ci_hi"
    )


@query(
    "hll_distinct_tokens_docs",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), h AS (
      SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv
      FROM toks WHERE w <> ''
    ), br AS (
      SELECT hv % 256 AS bucket, hv // 256 AS sfx FROM h
    ), reg AS (
      SELECT bucket,
             MAX(CASE WHEN sfx = 0 THEN 53
                      ELSE 52 - length(bin(sfx)) + 1 END) AS reg
      FROM br GROUP BY bucket
    ), s AS (
      SELECT COUNT(*) AS nz,
             SUM(1::BIGINT << (53 - reg)) AS cpart
      FROM reg
    ), e AS (
      SELECT CAST(256 - nz AS BIGINT) AS zero_registers,
             CAST(0.7213 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE)
                  + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
               * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
               * CAST(9007199254740992.0 AS DOUBLE)
               / CAST(cpart + (256 - nz) * (1::BIGINT << 53) AS DOUBLE)
                 AS raw
      FROM s
    )
    SELECT 256 AS n_registers, zero_registers,
           ROUND(CASE WHEN raw <= CAST(640.0 AS DOUBLE)
                       AND zero_registers > 0
                      THEN CAST(256.0 AS DOUBLE)
                           * LN(CAST(256.0 AS DOUBLE)
                                / CAST(zero_registers AS DOUBLE))
                      ELSE raw END, 2) AS est_distinct
    FROM e
    """,
)
def hll_distinct_tokens_q(spark, sf_dir):
    """Distinct-token cardinality via the PORTABLE HyperLogLog —
    complements hll_distinct_priorities (the JVM hll_sketch_agg
    incremental path) with a sketch whose registers and estimates
    replay bit-for-bit in any engine
    (functions/hll.py): 256 md5-bucketed registers, rho from the
    base-2 string length (no libm), harmonic sum folded in EXACT
    integer arithmetic — the register frame and the pre-correction
    estimate replay bit-for-bit in DuckDB.  THE fixed-memory answer
    to "how many distinct tokens" at 100 TB: the shuffle carries at
    most 256 rows however large the corpus."""
    from ..functions.hll import hll_build, hll_estimate

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    return hll_estimate(hll_build(toks, "w", b=8), b=8)


@query(
    "association_rules_lineitem",
    """
    WITH it AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ), si AS (
      SELECT i, COUNT(*) AS s FROM it GROUP BY i
    ), n AS (
      SELECT COUNT(DISTINCT b) AS nb FROM it
    ), pr AS (
      SELECT a.i AS ia, bb.i AS ib, COUNT(*) AS sp
      FROM it a JOIN it bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY a.i, bb.i HAVING COUNT(*) >= 2
    ), j AS (
      SELECT pr.ia, pr.ib, pr.sp, sa.s AS sa, sb.s AS sb
      FROM pr JOIN si sa ON sa.i = pr.ia JOIN si sb ON sb.i = pr.ib
    )
    SELECT ia AS item_a, ib AS item_b, sp AS supp_pair,
           sa AS supp_a, sb AS supp_b,
           ROUND(CAST(sp AS DOUBLE) / CAST(sa AS DOUBLE), 6)
               AS confidence,
           ROUND(CAST(sp AS DOUBLE) / CAST(sa AS DOUBLE)
                 * CAST(nb AS DOUBLE) / CAST(sb AS DOUBLE), 6) AS lift
    FROM j CROSS JOIN n
    ORDER BY lift DESC, item_a ASC, item_b ASC
    LIMIT 20
    """,
)
def association_rules_q(spark, sf_dir):
    """Market-basket association rules over order line items: pair
    support via a basket-keyed self-join (fan-out bounded by basket
    size, never all-pairs), then confidence = P(b|a) and lift =
    confidence / P(b), top-20 by lift.  The basket count is 1-row
    scalar state folded in as a broadcast cross join (the dsir
    pattern); item supports join back on the pair keys.  Same shape
    FP-growth's first pass uses — at 100 TB the only wide exchange is
    the basket-keyed self-join, and min-support pruning happens in
    the pair aggregate before anything wide."""
    it = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("b"), F.col("l_partkey").alias("i")
        )
        .distinct()
    )
    si = it.groupBy("i").agg(F.count("*").alias("s"))
    nb = it.agg(F.countDistinct("b").alias("nb"))
    a, bb = it.alias("a"), it.alias("bb")
    pr = (
        a.join(
            bb.hint("merge"),
            (F.col("a.b") == F.col("bb.b")) & (F.col("a.i") < F.col("bb.i")),
        )
        .groupBy(F.col("a.i").alias("ia"), F.col("bb.i").alias("ib"))
        .agg(F.count("*").alias("sp"))
        .filter(F.col("sp") >= 2)
    )
    j = (
        pr.join(
            si.withColumnRenamed("i", "ia")
            .withColumnRenamed("s", "sa")
            .hint("merge"),
            "ia",
        )
        .join(
            si.withColumnRenamed("i", "ib")
            .withColumnRenamed("s", "sb")
            .hint("merge"),
            "ib",
        )
        .crossJoin(F.broadcast(nb))
    )
    conf = F.col("sp").cast("double") / F.col("sa").cast("double")
    return (
        j.select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            F.col("sp").alias("supp_pair"),
            F.col("sa").alias("supp_a"),
            F.col("sb").alias("supp_b"),
            F.round(conf, 6).alias("confidence"),
            F.round(
                conf * F.col("nb").cast("double") / F.col("sb").cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()
        )
        .limit(20)
    )


@query(
    "nfc_normalize_docs",
    r"""
    WITH dec AS (
      SELECT doc_id,
             regexp_replace(text, 'e', 'e' || chr(769), 'g') AS t
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, length(t) AS len_before,
           length(nfc_normalize(t)) AS len_after,
           length(t) - length(nfc_normalize(t)) AS n_composed,
           md5(nfc_normalize(t)) AS fp
    FROM dec ORDER BY doc_id
    """,
)
def nfc_normalize_q(spark, sf_dir):
    """Unicode NFC normalization — the canonical first step of any
    multilingual text pipeline (combining sequences -> precomposed
    codepoints, so dedup/fingerprinting see one spelling).  Spark has
    no builtin normalizer: an Arrow-batched pandas UDF wraps
    ``unicodedata.normalize`` (map-only; never row-at-a-time).  The
    gate manufactures combining sequences (e + U+0301) from the ASCII
    corpus via regexp_replace so the composition path is actually
    exercised, and pins Python's normalizer against DuckDB's
    ``nfc_normalize`` — codepoint counts and md5 fingerprints must
    agree exactly."""
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None
            if x is None
            else unicodedata.normalize("NFC", x)
        )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    dec = d.select(
        "doc_id",
        F.regexp_replace("text", "e", "é").alias("t"),
    )
    out = dec.select(
        "doc_id",
        F.length("t").alias("len_before"),
        nfc(F.col("t")).alias("norm"),
    )
    return out.select(
        "doc_id",
        "len_before",
        F.length("norm").alias("len_after"),
        (F.col("len_before") - F.length("norm")).alias("n_composed"),
        F.md5("norm").alias("fp"),
    ).orderBy("doc_id")


def _pq_ivf_oracle() -> str:
    """DuckDB twin of ``pq_ivf_topk``: coarse assignment via the
    shared literal chains, probe selection by centroid cosine (the
    ivf_topk oracle's shape), PQ encode + ADC ranking (the pq_adc
    oracle's shape) restricted to the probed lists."""
    from ..operators.similarity import fixed_centroids, pq_codebooks

    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    m, _, sub = cb.shape

    def lst(v):
        return "[" + ",".join(repr(float(x)) for x in v) + "]"

    probes = "\n      UNION ALL ".join(
        f"SELECT {j} AS cl, list_cosine_similarity({lst(c)},"
        f" (SELECT qe FROM q)) AS s"
        for j, c in enumerate(cents)
    )

    def chain(vals, base, var):
        return "(" + " + ".join(
            f"({var}[{base + i + 1}] - {float(v)!r})"
            f" * ({var}[{base + i + 1}] - {float(v)!r})"
            for i, v in enumerate(vals)
        ) + ")"

    dls = ",\n           ".join(
        "[" + ",\n            ".join(chain(c, s * sub, "e") for c in cb[s])
        + f"] AS dl{s}"
        for s in range(m)
    )
    codes = ", ".join(
        f"CAST(list_position(dl{s}, list_min(dl{s})) - 1 AS INTEGER)"
        f" AS code_{s}"
        for s in range(m)
    )
    luts = ",\n           ".join(
        "[" + ",\n            ".join(chain(c, s * sub, "qe") for c in cb[s])
        + f"] AS lut{s}"
        for s in range(m)
    )
    adc = " + ".join(f"l.lut{s}[enc.code_{s} + 1]" for s in range(m))
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), cd AS (
      SELECT vec_id, e, {_centroid_assign_sql(cents)} AS cdl FROM c
    ), a AS (
      SELECT vec_id, e,
             CAST(list_position(cdl, list_min(cdl)) - 1 AS INTEGER)
                 AS cluster
      FROM cd
    ), probe AS (
      SELECT cl FROM ({probes}) ORDER BY s DESC, cl ASC LIMIT 2
    ), pl AS (
      SELECT vec_id, e FROM a WHERE cluster IN (SELECT cl FROM probe)
    ), d AS (
      SELECT vec_id,
           {dls}
      FROM pl
    ), enc AS (
      SELECT vec_id, {codes} FROM d
    ), l AS (
      SELECT {luts}
      FROM q
    )
    SELECT enc.vec_id, enc.code_0, enc.code_1, enc.code_2, enc.code_3,
           ROUND({adc}, 6) AS adc_dist
    FROM enc CROSS JOIN l
    ORDER BY adc_dist ASC, enc.vec_id ASC
    LIMIT 10
    """


@query("ivfpq_topk_embeddings", None)  # oracle attached below (generated)
def ivfpq_topk_q(spark, sf_dir):
    """IVF-PQ ANN (operators.similarity.pq_ivf_topk): coarse-probe
    pruning bounds the SCAN (nprobe=2 of 8 lists), PQ-ADC bounds the
    per-row COST and memory (4-byte codes) — the billion-vector
    composition, with every stage (assignment, probe ranking, encode,
    LUT ranking) replayed exactly in SQL via the literal quantizer
    and codebooks."""
    from ..operators.similarity import (
        fixed_centroids,
        pq_codebooks,
        pq_ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = pq_ivf_topk(
        emb,
        list(qvec),
        fixed_centroids(64, 8, seed=7),
        pq_codebooks(64, 4, 16, seed=11),
        k=10,
        nprobe=2,
    )
    # see pq_adc_topk_q: 1-ulp LUT drift observed at sf0.001 — report
    # the distance rounded; ranking stays on the raw value
    return out.withColumn("adc_dist", F.round("adc_dist", 6))


O["ivfpq_topk_embeddings"] = _pq_ivf_oracle()


@query(
    "incremental_join_orders_customers",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def incremental_join_q(spark, sf_dir):
    """Incremental JOIN-view maintenance
    (operators/incremental_join.IncrementalJoinView): orders arrive in
    THREE batches and customers in TWO, interleaved, each folded via
    the append-only delta-join identity (ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR, with
    semi-join pre-filtering of the accumulated side) — history is
    never re-joined with history.  The maintained view aggregated by
    market segment must equal the oracle's one-shot join."""
    from ..operators.incremental_join import IncrementalJoinView

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    v = IncrementalJoinView(scratch_dir("inc_join_"), on="o_custkey")
    v.apply_batch(spark, left_delta=o.filter("o_orderkey % 3 = 0"))
    v.apply_batch(spark, right_delta=c.filter("o_custkey % 2 = 0"))
    v.apply_batch(
        spark,
        left_delta=o.filter("o_orderkey % 3 = 1"),
        right_delta=c.filter("o_custkey % 2 = 1"),
    )
    v.apply_batch(spark, left_delta=o.filter("o_orderkey % 3 = 2"))
    return (
        v.read_view(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "calibration_ece_docs",
    r"""
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(
               unnest(string_split_regex(lower(trim(text)), '\s+'))), 1, 8))
               AS BIGINT) % 4096 AS b
      FROM documents WHERE text IS NOT NULL
    ), model AS (
      SELECT DISTINCT b AS bucket,
             (CAST(b % 101 AS DOUBLE) - 50.0) / 500.0 AS w
      FROM tok
    ), scored AS (
      SELECT tok.doc_id, SUM(model.w) AS sw
      FROM tok JOIN model ON model.bucket = tok.b
      GROUP BY tok.doc_id
    ), prob AS (
      SELECT d.doc_id,
             ROUND(1.0 / (1.0 + exp(-(0.1 + COALESCE(s.sw, 0.0)))), 6)
                 AS p,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      WHERE d.text IS NOT NULL
    ), binned AS (
      SELECT CAST(LEAST(FLOOR(p * 10.0), 9.0) AS INTEGER) AS bin,
             COUNT(*) AS n_docs,
             ROUND(AVG(p), 4) AS avg_conf,
             ROUND(AVG(CAST(y AS DOUBLE)), 4) AS frac_pos
      FROM prob GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS DOUBLE) AS nn,
             SUM(CAST(n_docs AS DOUBLE) * ABS(frac_pos - avg_conf)) AS num
      FROM binned
    )
    SELECT bin, n_docs, avg_conf, frac_pos,
           ROUND(num / nn, 4) AS ece
    FROM binned CROSS JOIN tot
    ORDER BY bin
    """,
)
def calibration_ece_q(spark, sf_dir):
    """Classifier calibration: 10-bin reliability table (mean
    predicted probability vs empirical positive rate, label = lang is
    English) + Expected Calibration Error, over the hashed linear
    classifier's scores (the classifier_score_docs pipeline).  Bounded
    throughout — 10 bin rows and a 1-row normalizer; the ECE is
    computed from the ROUNDED bin statistics so both engines fold
    identical doubles."""
    from ..operators.text import hashed_classifier_score

    # NULL-text docs are excluded on BOTH sides (ADVICE r4: the inner
    # join on exploded tokens dropped them on the Spark side while the
    # oracle's LEFT JOIN kept them — a latent mismatch)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    dim = 4096
    from ..operators.sampling import hash_bucket

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
    scored = hashed_classifier_score(d, model, dim=dim, bias=0.1)
    prob = scored.join(
        d.select("doc_id", "lang"), scored["id"] == F.col("doc_id")
    ).select(
        F.col("score").alias("p"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = (
        prob.groupBy(
            F.least(F.floor(F.col("p") * 10.0), F.lit(9.0))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("p"), 4).alias("avg_conf"),
            F.round(F.avg(F.col("y").cast("double")), 4).alias("frac_pos"),
        )
    )
    tot = binned.agg(
        F.sum("n_docs").cast("double").alias("nn"),
        F.sum(
            F.col("n_docs").cast("double")
            * F.abs(F.col("frac_pos") - F.col("avg_conf"))
        ).alias("num"),
    )
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_docs",
            "avg_conf",
            "frac_pos",
            F.round(F.col("num") / F.col("nn"), 4).alias("ece"),
        )
        .orderBy("bin")
    )


@query(
    "join_size_estimate_cms",
    """
    WITH ga AS (
      SELECT i.i AS row,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                 || '@' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT)
               % 8192 AS col,
             COUNT(*) AS cnt
      FROM orders CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
      GROUP BY 1, 2
    ), gb AS (
      SELECT i.i AS row,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                 || '@' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT)
               % 8192 AS col,
             COUNT(*) AS cnt
      FROM customer CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
      GROUP BY 1, 2
    ), ip AS (
      SELECT a.row, SUM(a.cnt * b.cnt) AS ip
      FROM ga a JOIN gb b ON a.row = b.row AND a.col = b.col
      GROUP BY a.row
    ), est AS (
      SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip
    ), t AS (
      SELECT COUNT(*) AS true_join_size
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT 4 AS d, 8192 AS w, true_join_size, est_join_size
    FROM t CROSS JOIN est
    """,
)
def join_size_estimate_q(spark, sf_dir):
    """Sketch-based join cardinality estimation
    (functions.cms.cms_inner_product): |orders ⋈ customer| from two
    4×8192 Count-Min sketches of the join keys — the optimizer-style
    size estimate that never runs the join.  One-sided: est ≥ true
    (collision overcounts only), integer-exact cross-engine; the true
    size rides along so the gate also bounds the estimate's quality.
    At 100 TB each sketch is one bounded-state aggregate over its own
    table and the estimate is a 32768-cell product — constant cost
    however large the join would be."""
    from ..functions.cms import cms_build, cms_inner_product

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    sa = cms_build(o, "o_custkey", d=4, w=8192)
    sb = cms_build(c, "c_custkey", d=4, w=8192)
    est = cms_inner_product(sa, sb).select(
        F.col("est").alias("est_join_size")
    )
    t = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .agg(F.count("*").alias("true_join_size"))
    )
    return t.crossJoin(F.broadcast(est)).select(
        F.lit(4).alias("d"),
        F.lit(8192).alias("w"),
        "true_join_size",
        "est_join_size",
    )


@query(
    "readability_docs",
    r"""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS t
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), cnt AS (
      SELECT doc_id,
             CAST(len(string_split_regex(t, '\s+')) AS BIGINT) AS n_words,
             CAST(GREATEST(len(regexp_extract_all(t, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(GREATEST(len(regexp_extract_all(t, '[aeiouy]+')), 1)
                  AS BIGINT) AS n_syllables
      FROM base
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           -- floor(x*100+0.5)/100, NOT ROUND: Spark's ROUND goes
           -- through the double's shortest decimal repr (BigDecimal
           -- HALF_UP) while DuckDB rounds the raw binary, so exact
           -- .xx5 shortest-reprs disagree; floor arithmetic is pure
           -- IEEE on both engines
           FLOOR((206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE))) * 100.0 + 0.5)
               / 100.0 AS flesch,
           FLOOR((0.39 * (CAST(n_words AS DOUBLE)
                         / CAST(n_sentences AS DOUBLE))
                 + 11.8 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE)) - 15.59) * 100.0
                 + 0.5) / 100.0 AS fk_grade
    FROM cnt ORDER BY doc_id
    """,
)
def readability_q(spark, sf_dir):
    """Flesch reading ease + Flesch-Kincaid grade per document — the
    classic readability pair corpus quality filters publish (syllables
    approximated as vowel groups, the standard fast heuristic).
    Map-only regexp counting; every count is an exact integer and the
    score expressions are written identically in both engines, so
    values match to the ROUND."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    base = d.select("doc_id", F.lower(F.trim("text")).alias("t"))
    cnt = base.select(
        "doc_id",
        F.size(F.split("t", r"\s+")).cast("bigint").alias("n_words"),
        F.greatest(
            F.expr(r"size(regexp_extract_all(t, '[.!?]+', 0))"), F.lit(1)
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.greatest(
            F.expr(r"size(regexp_extract_all(t, '[aeiouy]+', 0))"),
            F.lit(1),
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    w, s, y = (
        F.col("n_words").cast("double"),
        F.col("n_sentences").cast("double"),
        F.col("n_syllables").cast("double"),
    )
    # floor(x*100+0.5)/100 instead of round(): Spark's round goes
    # through the shortest decimal repr (HALF_UP on BigDecimal), DuckDB
    # rounds the raw binary double — exact .xx5 shortest-reprs disagree
    return cnt.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.floor((206.835 - 1.015 * (w / s) - 84.6 * (y / w)) * 100.0 + 0.5)
            / 100.0
        ).alias("flesch"),
        (
            F.floor((0.39 * (w / s) + 11.8 * (y / w) - 15.59) * 100.0 + 0.5)
            / 100.0
        ).alias("fk_grade"),
    ).orderBy("doc_id")


def _rbo_oracle() -> str:
    """DuckDB twin of the RBO@10 comparison: both rankings replayed
    (exact = plain cosine order; LSH = the hyperplane-bucket restrict
    of lsh_topk), per-depth overlap over the bounded 10×10 grid,
    weights (1−p)·p^(d−1) with p = 1/2 — every weight an exact dyadic
    rational, no POWER (whose libm disagrees across engines)."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, seed=42)

    def dot(vals):
        return " + ".join(
            f"e[{i + 1}] * {float(v)!r}" for i, v in enumerate(vals)
        )

    bucket = " + ".join(
        f"(CASE WHEN ({dot(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    qbucket = " + ".join(
        f"(CASE WHEN ({dot(p).replace('e[', 'qe[')}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), qb AS (
      SELECT {qbucket} AS b FROM q
    ), ex AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(list_cosine_similarity(e,
                   (SELECT qe FROM q)), 6) DESC, vec_id ASC) AS r
      FROM c QUALIFY r <= 10
    ), ls AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(list_cosine_similarity(e,
                   (SELECT qe FROM q)), 6) DESC, vec_id ASC) AS r
      FROM c WHERE ({bucket}) = (SELECT b FROM qb)
      QUALIFY r <= 10
    ), depths AS (
      SELECT unnest(range(1, 11)) AS d
    ), ov AS (
      SELECT d.d,
             (SELECT COUNT(*) FROM ex JOIN ls USING (vec_id)
              WHERE ex.r <= d.d AND ls.r <= d.d) AS agree
      FROM depths d
    )
    SELECT 10 AS k,
           ROUND(SUM((1.0 / CAST(1::BIGINT << d AS DOUBLE))
                     * CAST(agree AS DOUBLE) / CAST(d AS DOUBLE)), 6)
               AS rbo
    FROM ov
    """


@query("rbo_lsh_vs_exact", None)  # oracle attached below (generated)
def rbo_q(spark, sf_dir):
    """Rank-Biased Overlap (Webber et al., TOIS 2010) between the
    exact cosine top-10 and the LSH-bucketed top-10 — the
    top-weighted ranking-agreement eval that complements recall
    (set-based) and nDCG (relevance-based): RBO penalises an ANN
    ranking whose MISSES are near the top.  p = 1/2 makes every depth
    weight an exact dyadic rational, so no POWER crosses the engine
    boundary; the whole comparison is two bounded top-10 tables and a
    10-depth grid."""
    from ..operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ex = cosine_topk(emb, list(qvec), k=10).withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        )
    ).select("vec_id", "r")
    ls = cosine_topk_lsh(
        emb, list(qvec), k=10, num_planes=8, seed=42
    ).withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        )
    ).select(F.col("vec_id").alias("lv"), F.col("r").alias("lr"))
    pairs = F.broadcast(ex).join(
        F.broadcast(ls), F.col("vec_id") == F.col("lv")
    )
    depths = spark.range(1, 11).select(F.col("id").cast("int").alias("d"))
    ov = (
        F.broadcast(depths)
        .join(
            pairs,
            (F.col("r") <= F.col("d")) & (F.col("lr") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(F.count("vec_id").alias("agree"))
    )
    return ov.agg(
        F.lit(10).alias("k"),
        F.round(
            F.sum(
                (F.lit(1.0) / F.expr("cast(shiftleft(cast(1 as bigint), d) as double)"))
                * F.col("agree").cast("double")
                / F.col("d").cast("double")
            ),
            6,
        ).alias("rbo"),
    )


O["rbo_lsh_vs_exact"] = _rbo_oracle()


@query(
    "hll_distinct_users_daily",
    r"""
    WITH e AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv
      FROM events
    ), br AS (
      SELECT day, hv % 256 AS bucket, hv // 256 AS sfx FROM e
    ), reg AS (
      SELECT day, bucket,
             MAX(CASE WHEN sfx = 0 THEN 53
                      ELSE 52 - length(bin(sfx)) + 1 END) AS reg
      FROM br GROUP BY day, bucket
    ), s AS (
      SELECT day, COUNT(*) AS nz,
             SUM(1::BIGINT << (53 - reg)) AS cpart
      FROM reg GROUP BY day
    ), e2 AS (
      SELECT day, CAST(256 - nz AS BIGINT) AS zero_registers,
             CAST(0.7213 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE)
                  + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
               * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
               * CAST(9007199254740992.0 AS DOUBLE)
               / CAST(cpart + (256 - nz) * (1::BIGINT << 53) AS DOUBLE)
                 AS raw
      FROM s
    ), est AS (
      SELECT day, zero_registers,
             ROUND(CASE WHEN raw <= CAST(640.0 AS DOUBLE)
                         AND zero_registers > 0
                        THEN CAST(256.0 AS DOUBLE)
                             * LN(CAST(256.0 AS DOUBLE)
                                  / CAST(zero_registers AS DOUBLE))
                        ELSE raw END, 2) AS est_distinct
      FROM e2
    ), ex AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT day, exact_distinct, est_distinct, zero_registers
    FROM est JOIN ex USING (day) ORDER BY day
    """,
)
def hll_daily_q(spark, sf_dir):
    """GROUPED portable HLL: distinct users per day as one register
    aggregate (≤256 rows per day however many events), estimate
    beside the exact count so the gate doubles as an accuracy report.
    The shape every streaming dashboard needs — sliding/tumbling
    distinct counts — with per-group register state that merges by
    MAX across batches (``hll_merge``)."""
    from ..functions.hll import hll_build, hll_estimate

    ev = load_table(spark, sf_dir, "events")
    # to_date, not date_trunc: DuckDB's date_trunc('day') yields DATE
    # while Spark's yields TIMESTAMP — align on DATE
    base = ev.select(F.to_date(F.col("ts")).alias("day"), "user_id")
    est = hll_estimate(
        hll_build(base, "user_id", b=8, group_cols=("day",)),
        b=8,
        group_cols=("day",),
    ).select("day", "zero_registers", "est_distinct")
    exact = base.groupBy("day").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "day")
        .select("day", "exact_distinct", "est_distinct", "zero_registers")
        .orderBy("day")
    )


def _pq_ivf_residual_oracle(k: int = 10) -> str:
    """DuckDB twin of ``pq_ivf_topk_residual``: coarse assignment via
    the shared chains, probe selection by centroid cosine, then
    RESIDUAL encode/LUT — ``((e[i] − cent[i]) − cw)²`` with the
    centroid as a list column joined by cluster (8-row VALUES table),
    so the residual subtraction is the same two-step IEEE op the
    Arrow kernel performs and the SQL stays one branch."""
    from ..operators.similarity import fixed_centroids, pq_codebooks

    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    m, _, sub = cb.shape

    def lst(v):
        return "[" + ",".join(repr(float(x)) for x in v) + "]"

    cent_rows = "\n      UNION ALL ".join(
        f"SELECT {j} AS cl, {lst(c)} AS cent" for j, c in enumerate(cents)
    )
    probes = "\n      UNION ALL ".join(
        f"SELECT {j} AS cl, list_cosine_similarity({lst(c)},"
        f" (SELECT qe FROM q)) AS s"
        for j, c in enumerate(cents)
    )

    def chain(vals, base, var):
        return "(" + " + ".join(
            f"(({var}[{base + i + 1}] - cent[{base + i + 1}])"
            f" - {float(v)!r})"
            f" * (({var}[{base + i + 1}] - cent[{base + i + 1}])"
            f" - {float(v)!r})"
            for i, v in enumerate(vals)
        ) + ")"

    dls = ",\n           ".join(
        "[" + ",\n            ".join(chain(c, s * sub, "e") for c in cb[s])
        + f"] AS dl{s}"
        for s in range(m)
    )
    codes = ", ".join(
        f"CAST(list_position(dl{s}, list_min(dl{s})) - 1 AS INTEGER)"
        f" AS code_{s}"
        for s in range(m)
    )
    luts = ",\n           ".join(
        "[" + ",\n            ".join(chain(c, s * sub, "qe") for c in cb[s])
        + f"] AS lut{s}"
        for s in range(m)
    )
    adc = " + ".join(f"l.lut{s}[enc.code_{s} + 1]" for s in range(m))
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), cd AS (
      SELECT vec_id, e, {_centroid_assign_sql(cents)} AS cdl FROM c
    ), a AS (
      SELECT vec_id, e,
             CAST(list_position(cdl, list_min(cdl)) - 1 AS INTEGER)
                 AS cluster
      FROM cd
    ), cents AS (
      {cent_rows}
    ), probe AS (
      SELECT cl FROM ({probes}) ORDER BY s DESC, cl ASC LIMIT 2
    ), pl AS (
      SELECT a.vec_id, a.e, a.cluster, cents.cent
      FROM a JOIN cents ON cents.cl = a.cluster
      WHERE a.cluster IN (SELECT cl FROM probe)
    ), d AS (
      SELECT vec_id, cluster, cent,
           {dls}
      FROM pl
    ), enc AS (
      SELECT vec_id, cluster, cent, {codes} FROM d
    ), l AS (
      SELECT cents.cl, {luts}
      FROM cents CROSS JOIN q
    )
    SELECT enc.vec_id, enc.cluster, ROUND({adc}, 6) AS adc_dist
    FROM enc JOIN l ON l.cl = enc.cluster
    ORDER BY adc_dist ASC, enc.vec_id ASC
    LIMIT {k}
    """


@query("ivfpq_residual_topk_embeddings", None)  # oracle attached below
def ivfpq_residual_q(spark, sf_dir):
    """Residual IVF-PQ (operators.similarity.pq_ivf_topk_residual) —
    FAISS's actual recipe: codes quantize v − centroid(v), the query
    LUT per probed list builds from q − centroid, and ADC stays exact
    over the reconstruction.  Same probe pruning as
    ivfpq_topk_embeddings; better codes where the list lives."""
    from ..operators.similarity import (
        fixed_centroids,
        pq_codebooks,
        pq_ivf_topk_residual,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return pq_ivf_topk_residual(
        emb,
        list(qvec),
        fixed_centroids(64, 8, seed=7),
        pq_codebooks(64, 4, 16, seed=11),
        k=10,
        nprobe=2,
    )


O["ivfpq_residual_topk_embeddings"] = _pq_ivf_residual_oracle()


@query("ivf_append_topk_embeddings", None)  # oracle attached below
def ivf_append_q(spark, sf_dir):
    """Incremental maintenance of the on-disk IVF index
    (similarity.append_to_ivf_index): build with HALF the corpus,
    append the other half as a later batch (delta-only assign +
    cluster-keyed append into the existing partition dirs — the
    indexed corpus is never rescanned), then query.  The result must
    equal the one-shot full-corpus oracle, proving append ≡ rebuild
    under a frozen quantizer."""
    from ..operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        cosine_topk_ivf_partitioned,
        fixed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents = fixed_centroids(64, 8, seed=7)
    loc = scratch_dir("ivf_append_") + "/index"
    build_ivf_index(emb.filter("vec_id % 2 = 0"), loc, cents)
    append_to_ivf_index(emb.filter("vec_id % 2 = 1"), loc, cents)
    return cosine_topk_ivf_partitioned(
        spark, loc, qvec, cents, k=10, nprobe=2
    )


O["ivf_append_topk_embeddings"] = _ivf_topk_oracle()


@query("ivfpq_partitioned_topk_embeddings", None)  # oracle attached below
def ivfpq_partitioned_q(spark, sf_dir):
    """The on-disk IVF-PQ index end-to-end (VERDICT r4 #6 —
    similarity.build_ivfpq_index / ivfpq_topk_partitioned): the
    partitioned ``cluster=<id>/`` layout stores m-byte RESIDUAL PQ
    codes instead of 4·dim-byte vectors, the query opens only the
    nprobe probed partitions (PartitionFilters) and reads only the
    code columns (ReadSchema — both pinned in tests/test_plans.py),
    and ADC scores against per-cluster q−centroid LUTs.  Result
    contract identical to ivfpq_residual_topk_embeddings (same
    centroids/codebooks/k/nprobe), so the same generated oracle
    value-hashes the whole build+query chain."""
    from ..operators.similarity import (
        build_ivfpq_index,
        fixed_centroids,
        ivfpq_topk_partitioned,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    loc = scratch_dir("ivfpq_part_") + "/index"
    build_ivfpq_index(emb, loc, cents, cb)
    return ivfpq_topk_partitioned(
        spark, loc, list(qvec), cents, cb, k=10, nprobe=2
    )


O["ivfpq_partitioned_topk_embeddings"] = _pq_ivf_residual_oracle()


@query("ivfpq_append_topk_embeddings", None)  # oracle attached below
def ivfpq_append_q(spark, sf_dir):
    """Incremental maintenance of the on-disk IVF-PQ index (VERDICT
    r5 #6 — similarity.append_to_ivfpq_index): build with HALF the
    corpus, append the other half as a later batch (delta-only
    assign + residual PQ encode + cluster-keyed append into the
    existing partition dirs — the indexed corpus is never re-encoded
    or rescanned), then query.  Same frozen centroids/codebooks as
    the build, so append ≡ rebuild exactly: the one-shot full-corpus
    residual oracle value-hashes the whole grow-then-query chain."""
    from ..operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        fixed_centroids,
        ivfpq_topk_partitioned,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    loc = scratch_dir("ivfpq_append_") + "/index"
    build_ivfpq_index(emb.filter("vec_id % 2 = 0"), loc, cents, cb)
    append_to_ivfpq_index(emb.filter("vec_id % 2 = 1"), loc, cents, cb)
    return ivfpq_topk_partitioned(
        spark, loc, list(qvec), cents, cb, k=10, nprobe=2
    )


O["ivfpq_append_topk_embeddings"] = _pq_ivf_residual_oracle()


def _ivfpq_refine_oracle(cand: int = 30, k: int = 10) -> str:
    """DuckDB twin of similarity.ivfpq_refine_topk: the residual
    IVF-PQ oracle (nested CTE) widened to ``cand`` ADC candidates,
    then joined back to the raw embeddings for the exact-cosine
    rerank to ``k`` — quantization error capped at the candidate
    boundary, exactly the Spark dataflow."""
    inner = _pq_ivf_residual_oracle(k=cand)
    return f"""
    WITH cand AS (
      {inner}
    ), q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    )
    SELECT c.vec_id, c.adc_dist,
           ROUND(list_cosine_similarity(
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
             (SELECT qe FROM q)), 4) AS cosine
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
    ORDER BY cosine DESC, c.vec_id ASC
    LIMIT {k}
    """


@query("ivfpq_refine_topk_embeddings", None)  # oracle attached below
def ivfpq_refine_q(spark, sf_dir):
    """FAISS-style refine on the on-disk IVF-PQ index
    (similarity.ivfpq_refine_topk): ADC over the probed lists' m-byte
    codes picks 30 candidates (partition-pruned, codes-only scan —
    the cheap pass), then the candidate ids broadcast-join back to
    the raw corpus for an exact-cosine rerank to the top-10.  The
    exact pass touches 30 vectors regardless of corpus size; the
    full-precision corpus is point-looked-up, never scanned."""
    from ..operators.similarity import (
        build_ivfpq_index,
        fixed_centroids,
        ivfpq_refine_topk,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    loc = scratch_dir("ivfpq_refine_") + "/index"
    build_ivfpq_index(emb, loc, cents, cb)
    return ivfpq_refine_topk(
        spark, loc, emb, list(qvec), cents, cb,
        k=10, candidates=30, nprobe=2,
    )


O["ivfpq_refine_topk_embeddings"] = _ivfpq_refine_oracle()


def _winnow_fp_sql(k: int = 5, w: int = 4, src_table: str = "documents") -> str:
    """Shared CTE chain: the DuckDB twin of
    operators.dedup.winnow_fingerprints(hash_fn='gram_code') — same
    normalization, same exact base-128 ascii gram encoding (collision-
    free integer, k <= 8; ascii('') = 0 in both engines zero-pads the
    short-doc single gram), same leftmost-min window selection
    (list_position ≙ array_position: both first-occurrence)."""
    if k > 8:
        raise ValueError("gram_code twin requires k <= 8")
    gram = " + ".join(
        f"CAST(ascii(substr(clean, i + {j}, 1)) AS BIGINT) * {128 ** (k - 1 - j)}"
        if k - 1 - j > 0
        else f"ascii(substr(clean, i + {j}, 1))"
        for j in range(k)
    )
    return f"""c AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS clean
      FROM {src_table}
    ), h AS (
      SELECT doc_id,
        list_transform(range(1, greatest(len(clean) - {k - 1}, 1) + 1),
          i -> {gram}) AS hs
      FROM c WHERE len(clean) > 0
    ), s AS (
      SELECT doc_id, hs,
        list_distinct(list_transform(
          range(1, greatest(len(hs) - {w - 1}, 1) + 1),
          j -> CAST(j - 1 + list_position(hs[j : j + {w - 1}],
                    list_min(hs[j : j + {w - 1}])) AS INTEGER))) AS sel
      FROM h
    ), fp AS (
      SELECT doc_id, unnest(sel) AS pos, hs[unnest(sel)] AS fp_hash
      FROM s
    )"""


@query(
    "winnow_fingerprints_docs",
    f"""
    WITH {_winnow_fp_sql()}
    SELECT doc_id, COUNT(*) AS n_fp, bit_xor(fp_hash) AS fp_xor,
           MIN(fp_hash) AS fp_min, MAX(fp_hash) AS fp_max
    FROM fp GROUP BY doc_id ORDER BY doc_id
    """,
)
def winnow_fp_q(spark, sf_dir):
    """Winnowing document fingerprints (dedup.winnow_fingerprints —
    Schleimer et al., SIGMOD 2003 / MOSS): exact base-128 character-
    5-gram codes (gram_code), window-4 leftmost-min selection; any
    shared substring
    of length k+w−1 = 8 normalized chars yields a shared fingerprint
    at ~2/(w+1) density.  Gate = per-doc fingerprint-set digest
    (count, XOR, min, max) so every selected (pos, hash) is pinned
    without shipping the full table."""
    from ..operators.dedup import winnow_fingerprints_np

    docs = load_table(spark, sf_dir, "documents")
    return (
        winnow_fingerprints_np(docs, "doc_id", "text", k=5, window=4)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.expr("bit_xor(fp_hash)").alias("fp_xor"),
            F.min("fp_hash").alias("fp_min"),
            F.max("fp_hash").alias("fp_max"),
        )
        .orderBy("doc_id")
    )


@query(
    "winnow_near_dup_pairs_docs",
    f"""
    WITH {_winnow_fp_sql()},
    d AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    kept AS (
      SELECT fp_hash FROM d GROUP BY fp_hash HAVING COUNT(*) <= 50
    ),
    dk AS (SELECT d.doc_id, d.fp_hash FROM d JOIN kept USING (fp_hash)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM dk GROUP BY doc_id),
    sh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM dk a JOIN dk b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, shared,
           ROUND(shared / CAST(LEAST(na.n_fp, nb.n_fp) AS DOUBLE), 4)
               AS overlap
    FROM sh
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE shared / CAST(LEAST(na.n_fp, nb.n_fp) AS DOUBLE) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def winnow_pairs_q(spark, sf_dir):
    """Position-tolerant near-dup pairs by winnowing-fingerprint
    containment (dedup.winnow_near_dup_pairs): distinct fingerprints
    → max_df=50 boilerplate guard (caps postings fan-out at df² —
    the 100 TB knob) → postings self-join → shared/min(|A|,|B|) ≥
    0.4.  Catches partial-overlap/dup-with-insertions pairs the
    whole-doc hash misses, at inverted-index cost, never all-pairs."""
    from ..operators.dedup import winnow_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_near_dup_pairs(
        docs, "doc_id", "text", k=5, window=4, threshold=0.4, max_df=50
    ).orderBy("id_a", "id_b")


@query(
    "jaccard_prefix_near_dup_docs",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM toks
    ), {_SHINGLE_INTER_SQL}
    SELECT id_a, id_b, ROUND(c::DOUBLE / (na + nb - c), 6) AS jaccard
    FROM inter WHERE c::DOUBLE / (na + nb - c) >= 0.6
    """,
)
def jaccard_prefix_q(spark, sf_dir):
    """PPJoin-style prefix-filtered exact Jaccard join
    (dedup.jaccard_near_dup_pairs_prefix): only the first
    |A|−⌈τ|A|⌉+1 globally-ordered shingles are indexed (the prefix
    theorem makes that lossless), a length filter prunes candidates,
    and survivors verify against the full hashed-shingle arrays.  The
    oracle is the O(n²) exact twin — prefix filtering must lose
    nothing at τ=0.6 (looser than the postings gate's 0.7, so the
    filter works harder here)."""
    from ..operators.dedup import jaccard_near_dup_pairs_prefix

    d = load_table(spark, sf_dir, "documents")
    return jaccard_near_dup_pairs_prefix(
        d, "doc_id", "text", threshold=0.6, shingle_k=3
    )


# _winnow_fp_sql is defined just above — the v3 pipeline gate (earlier
# in the file) composes it, so its oracle attaches here
O["curation_pipeline_v3"] = _curation_v3_oracle()



@query("winnow_incremental_dedup_docs", None)  # oracle attached below
def winnow_incremental_q(spark, sf_dir):
    """Incremental winnowing dedup vs a persistent fingerprint index
    (operators.incremental_dedup.WinnowIndex): two bookmark-style
    batches, each deduped against everything ingested before it
    without rescanning old text — the round-5 fingerprint engine
    running the MinHashIndex playbook.

    Oracle equivalence argument (the incremental_dedup_documents
    precedent): the one-pass rule drops a doc iff it matches an
    INDEXED (surviving) older doc or any smaller in-batch id; the
    oracle drops on ANY smaller-id containment match.  They differ
    only on open chains (a doc whose every dominator was itself
    dropped) — verified absent at τ=0.7 on this corpus (24 losers,
    each with a surviving dominator)."""
    from ..operators.incremental_dedup import WinnowIndex

    d = load_table(spark, sf_dir, "documents")
    idx = WinnowIndex(
        scratch_dir("wn_idx_") + "/index", threshold=0.7
    )
    s1 = idx.dedup_batch(d.filter(F.col("doc_id") < 250), "doc_id", "text")
    s2 = idx.dedup_batch(d.filter(F.col("doc_id") >= 250), "doc_id", "text")
    return s1.select("doc_id", "source").unionByName(
        s2.select("doc_id", "source")
    )


def _winnow_incremental_oracle() -> str:
    """One-shot capless winnowing containment pairs at τ=0.7, losers
    dropped — coincides with the incremental semantics on this data
    (chain check in the gate docstring)."""
    fp_chain = _winnow_fp_sql()
    return f"""
    WITH {fp_chain},
    dfp AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM dfp GROUP BY doc_id),
    sh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM dfp a JOIN dfp b
        ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    losers AS (
      SELECT DISTINCT id_b AS doc_id
      FROM sh
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE shared / CAST(LEAST(na.n_fp, nb.n_fp) AS DOUBLE) >= 0.7
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
      AND d.text IS NOT NULL
      AND len(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) > 0
    """


O["winnow_incremental_dedup_docs"] = _winnow_incremental_oracle()



def _int4_oracle(dim: int = 64, npw: int = 15) -> str:
    """DuckDB twin of similarity.int4_quantize + reconstruction:
    identical code arithmetic (floor(v·scale + 0.5), scale = 7/max),
    the same 15-nibble-per-word pack as a literal 2^{4j} sum chain
    (null tail reads coalesce to pad nibble 8), XOR-folded words, and
    the reconstruction error straight off the codes (pack∘unpack is
    exact integer identity — pinned by the Spark side dequantizing
    from the WORDS)."""
    nwords = -(-dim // npw)
    words = ", ".join(
        "("
        + " + ".join(
            f"COALESCE(nib[{w * npw + j + 1}], 8) * {1 << (4 * j)}"
            for j in range(npw)
        )
        + f") AS w{w}"
        for w in range(nwords)
    )
    xor = "w0"
    for w in range(1, nwords):
        xor = f"xor({xor}, w{w})"
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             CASE WHEN mx > 0 THEN 7.0 / mx ELSE 1.0 END AS scale
      FROM (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS mx
            FROM e)
    ), n AS (
      SELECT vec_id, v, scale,
             list_transform(v,
               x -> CAST(floor(x * scale + 0.5) + 8 AS BIGINT)) AS nib
      FROM s
    ), w AS (
      SELECT vec_id, v, scale, nib, {words} FROM n
    )
    SELECT vec_id, ROUND(scale, 6) AS scale_r,
           {xor} AS words_xor,
           ROUND(list_max(list_transform(range(1, {dim} + 1),
             i -> abs((nib[i] - 8) / scale - v[i]))), 6) AS max_err
    FROM w
    ORDER BY vec_id
    """


@query("int4_quantize_embeddings", None)  # oracle attached below
def int4_quantize_q(spark, sf_dir):
    """Packed int4 quantization (similarity.int4_quantize /
    int4_dequantize): 4-bit symmetric codes, 15 nibbles per signed-
    safe BIGINT word (64 dims → 40 bytes, the storage tier between
    int8's 4× and binary's 32×).  Gate pins the packed words
    themselves (XOR fold), the scale, and the RECONSTRUCTION error
    computed by unpacking the words — so pack, unpack, and code
    arithmetic are all on the hash path."""
    from ..operators.similarity import int4_dequantize, int4_quantize

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q4 = int4_quantize(emb)
    joined = q4.join(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    )
    return (
        joined.select(
            F.col("id").alias("vec_id"),
            F.round("scale", 6).alias("scale_r"),
            F.aggregate(
                "words",
                F.lit(0).cast("long"),
                lambda a, b: a.bitwiseXOR(b),
            ).alias("words_xor"),
            F.round(
                F.array_max(
                    F.zip_with(
                        int4_dequantize("words", "scale", dim=64),
                        F.col("embedding"),
                        lambda a, b: F.abs(a - b),
                    )
                ),
                6,
            ).alias("max_err"),
        )
        .orderBy("vec_id")
    )


O["int4_quantize_embeddings"] = _int4_oracle()


@query(
    "holt_smoothing_daily_events",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS x
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ), holt AS (
      SELECT event_type, day, rn, x, x AS level,
             CAST(0.0 AS DOUBLE) AS trend
      FROM num WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.day, n.rn, n.x,
             0.5 * n.x + 0.5 * (h.level + h.trend),
             0.5 * ((0.5 * n.x + 0.5 * (h.level + h.trend)) - h.level)
               + 0.5 * h.trend
      FROM num n JOIN holt h
        ON n.event_type = h.event_type AND n.rn = h.rn + 1
    )
    SELECT event_type, day, x, level, trend,
           level + trend AS forecast
    FROM holt ORDER BY event_type, day
    """,
)
def holt_smoothing_q(spark, sf_dir):
    """Holt double exponential smoothing (alpha = beta = 1/2) of each
    event type's daily value total — SES plus a trend state, the
    standard one-step-ahead forecaster for drifting series
    (forecast = level + trend).  Same architecture as the SES gate:
    one hash agg reduces the event stream to the bounded daily table,
    then an applyInPandas kernel walks each type's <=O(days) rows.
    Every smoothing step is the same dyadic op sequence the oracle's
    recursive CTE runs (0.5·x + 0.5·(l+b), then 0.5·(l_new−l_old) +
    0.5·b), so levels, trends, and forecasts match bit-for-bit with
    no output rounding."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("x"))
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        level, trend = None, 0.0
        ls, bs = [], []
        for x in pdf["x"]:
            if level is None:
                level = x
            else:
                new_level = 0.5 * x + 0.5 * (level + trend)
                trend = 0.5 * (new_level - level) + 0.5 * trend
                level = new_level
            ls.append(level)
            bs.append(trend)
        pdf["level"] = ls
        pdf["trend"] = bs
        pdf["forecast"] = [lv + b for lv, b in zip(ls, bs)]
        return pdf

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            holt,
            "event_type string, day date, x double, level double,"
            " trend double, forecast double",
        )
        .orderBy("event_type", "day")
    )



@query(
    "attribution_multitouch_events",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                               ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS jid
      FROM events
    ), conv AS (
      SELECT user_id, jid, epoch_us(ts) AS conv_us
      FROM ordered WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, jid, event_type AS channel,
             epoch_us(ts) AS t_us, event_id
      FROM ordered WHERE event_type <> 'purchase'
    ), j AS (
      SELECT t.user_id, t.jid, t.channel, t.t_us, t.event_id,
             c.conv_us,
             COUNT(*) OVER (PARTITION BY t.user_id, t.jid) AS n,
             ROW_NUMBER() OVER (PARTITION BY t.user_id, t.jid
                                ORDER BY t.t_us, t.event_id) AS pos,
             1.0 / (1 + (c.conv_us - t.t_us) // 86400000000)
                 AS w
      FROM touch t JOIN conv c
        ON c.user_id = t.user_id AND c.jid = t.jid
    ), credit AS (
      SELECT channel, user_id, jid,
             1.0 / n AS linear_c,
             CASE WHEN n = 1 THEN 1.0
                  WHEN n = 2 THEN 0.5
                  WHEN pos = 1 OR pos = n THEN 0.4
                  ELSE 0.2 / (n - 2) END AS u_c,
             w / SUM(w) OVER (PARTITION BY user_id, jid) AS decay_c
      FROM j
    )
    SELECT channel,
           COUNT(DISTINCT (user_id, jid)) AS n_journeys,
           ROUND(SUM(linear_c), 4) AS linear_credit,
           ROUND(SUM(u_c), 4) AS u_credit,
           ROUND(SUM(decay_c), 4) AS decay_credit
    FROM credit GROUP BY channel ORDER BY channel
    """,
)
def attribution_multitouch_q(spark, sf_dir):
    """Multi-touch conversion attribution under three standard
    policies at once — linear (1/n per touch), U-shaped (40/20/40
    position credit), and reciprocal-day time decay (w = 1/(1+days
    before conversion) — integer-derived, no libm pow, so both
    engines compute identical weights).  Journeys are purchase-
    terminated per-user windows (the cumulative-purchase counter
    splits each user's stream); every credit normalizes within its
    journey, so each conversion distributes exactly 1.0 per policy.

    Scale: two user-partitioned windows + one journey-keyed window —
    no global sort, journey length bounds every frame; the final agg
    is a 4-channel hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.coalesce(
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).over(w_user.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("jid"),
    )
    conv = ordered.filter(F.col("event_type") == "purchase").select(
        "user_id", "jid", epoch_us("ts").alias("conv_us")
    )
    touch = ordered.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "jid",
        F.col("event_type").alias("channel"),
        epoch_us("ts").alias("t_us"),
        "event_id",
    )
    w_j = Window.partitionBy("user_id", "jid")
    w_pos = w_j.orderBy("t_us", "event_id")
    j = (
        touch.join(conv, ["user_id", "jid"])
        .withColumn("n", F.count("*").over(w_j))
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn(
            "w",
            F.lit(1.0)
            / (1 + F.expr("(conv_us - t_us) div 86400000000")),
        )
    )
    credit = j.select(
        "channel",
        "user_id",
        "jid",
        (F.lit(1.0) / F.col("n")).alias("linear_c"),
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
        .alias("u_c"),
        (F.col("w") / F.sum("w").over(w_j)).alias("decay_c"),
    )
    return (
        credit.groupBy("channel")
        .agg(
            F.countDistinct("user_id", "jid").alias("n_journeys"),
            F.round(F.sum("linear_c"), 4).alias("linear_credit"),
            F.round(F.sum("u_c"), 4).alias("u_credit"),
            F.round(F.sum("decay_c"), 4).alias("decay_credit"),
        )
        .orderBy("channel")
    )



@query(
    "attribution_path_removal_events",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                               ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS jid
      FROM events
    ), conv AS (
      SELECT DISTINCT user_id, jid FROM ordered
      WHERE event_type = 'purchase'
    ), jt AS (
      SELECT DISTINCT o.user_id, o.jid, o.event_type AS channel
      FROM ordered o JOIN conv c
        ON c.user_id = o.user_id AND c.jid = o.jid
      WHERE o.event_type <> 'purchase'
    ), per AS (
      SELECT channel, COUNT(*) AS conv_touched FROM jt GROUP BY channel
    ), tot AS (
      SELECT COUNT(*) AS c_all FROM conv
    ), s AS (
      SELECT SUM(conv_touched) AS s_all FROM per
    )
    SELECT channel, conv_touched,
           ROUND(conv_touched / CAST(c_all AS DOUBLE), 6)
               AS removal_effect,
           ROUND(conv_touched / CAST(s_all AS DOUBLE), 6)
               AS attribution
    FROM per, tot, s ORDER BY channel
    """,
)
def attribution_removal_q(spark, sf_dir):
    """Empirical path-removal attribution: for each channel, the
    fraction of converting journeys that touch it — the data-driven
    removal effect (cut every path through the channel and that share
    of conversions is lost), normalized into attribution shares.
    The honest counting-based counterpart of Markov removal-effect
    attribution, with no fitted transition model.

    Scale: one user-partitioned window to split journeys, one
    distinct + one 4-group aggregate; the two scalar totals broadcast
    back as 1-row frames."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.coalesce(
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).over(w_user.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("jid"),
    )
    conv = (
        ordered.filter(F.col("event_type") == "purchase")
        .select("user_id", "jid")
        .distinct()
    )
    jt = (
        ordered.filter(F.col("event_type") != "purchase")
        .join(conv, ["user_id", "jid"])
        .select("user_id", "jid", F.col("event_type").alias("channel"))
        .distinct()
    )
    per = jt.groupBy("channel").agg(F.count("*").alias("conv_touched"))
    tot = conv.agg(F.count("*").alias("c_all"))
    s = per.agg(F.sum("conv_touched").alias("s_all"))
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s))
        .select(
            "channel",
            "conv_touched",
            F.round(
                F.col("conv_touched") / F.col("c_all").cast("double"), 6
            ).alias("removal_effect"),
            F.round(
                F.col("conv_touched") / F.col("s_all").cast("double"), 6
            ).alias("attribution"),
        )
        .orderBy("channel")
    )



@query(
    "quantile_normalize_by_source",
    """
    WITH s AS (
      SELECT doc_id, source, n_chars,
             NTILE(20) OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id) AS src_bucket,
             NTILE(20) OVER (ORDER BY n_chars, doc_id) AS pooled_bucket
      FROM documents
    ), t AS (
      SELECT pooled_bucket AS b,
             ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS qn
      FROM s GROUP BY pooled_bucket
    )
    SELECT s.doc_id, s.source, s.n_chars, s.src_bucket,
           t.qn AS qn_value
    FROM s JOIN t ON t.b = s.src_bucket
    ORDER BY s.doc_id
    """,
)
def quantile_normalize_q(spark, sf_dir):
    """Cross-source quantile normalization (the microarray-style
    score calibrator): each document's length score is replaced by
    the POOLED distribution's value at the same per-source quantile —
    per-source rank via profile.exact_ntile_grouped, pooled reference
    via profile.exact_ntile (both the two-level distributed-rank
    construction — no single-partition sort anywhere), and the 20-row
    bucket→target map broadcast-joins back.  After this, every
    source's score distribution is identical — the preprocessing step
    that makes per-source quality thresholds comparable.  Bucket
    means use exact long sums over integer n_chars, then ONE
    division (order-free, engine-identical)."""
    from ..operators.profile import exact_ntile, exact_ntile_grouped

    docs = load_table(spark, sf_dir, "documents")
    # one approxQuantile sketch serves BOTH rankings (placement only)
    cuts = docs.approxQuantile("n_chars", [i / 32 for i in range(1, 32)], 1e-3)
    pooled = exact_ntile(
        docs, 20, "n_chars", "doc_id", bucket_col="pooled_bucket",
        cuts=cuts,
    )
    target = (
        pooled.groupBy("pooled_bucket")
        .agg(
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4
            ).alias("qn")
        )
        .select(F.col("pooled_bucket").alias("b"), "qn")
    )
    per_source = exact_ntile_grouped(
        docs, 20, "n_chars", "doc_id", "source", bucket_col="src_bucket",
        cuts=cuts,
    )
    return (
        per_source.join(
            F.broadcast(target),
            per_source["src_bucket"] == target["b"],
        )
        .select("doc_id", "source", "n_chars", "src_bucket",
                F.col("qn").alias("qn_value"))
        .orderBy("doc_id")
    )






def _hybrid_retrieval_oracle(k: int = 5) -> str:
    """DuckDB twin of the hybrid-retrieval flagship: the rrf oracle's
    BM25 half, a dense-cosine half over the paired embeddings, RRF
    fusion, then the MMR greedy unrolled (rel = the fused RRF score,
    penalty = pairwise candidate cosine) — one generated SQL that
    value-hashes the whole retrieval chain."""
    steps = ["""s1 AS (
      SELECT 1 AS step, vec_id, rel, 0.5 * rel - 0.5 * 0.0 AS mmr
      FROM cand ORDER BY mmr DESC, vec_id ASC LIMIT 1
    ), sel1 AS (SELECT vec_id FROM s1)"""]
    for n in range(2, k + 1):
        steps.append(f"""s{n} AS (
      SELECT {n} AS step, cd.vec_id, cd.rel,
             0.5 * cd.rel - 0.5 * (
               SELECT MAX(p.sim) FROM pr p
               WHERE p.ia = cd.vec_id
                 AND p.ib IN (SELECT vec_id FROM sel{n - 1})) AS mmr
      FROM cand cd
      WHERE cd.vec_id NOT IN (SELECT vec_id FROM sel{n - 1})
      ORDER BY mmr DESC, vec_id ASC LIMIT 1
    ), sel{n} AS (SELECT vec_id FROM sel{n - 1}
                  UNION ALL SELECT vec_id FROM s{n})""")
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM s{n}" for n in range(1, k + 1)
    )
    return rf"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+')
             END AS w
      FROM documents
    ), b2 AS (
      SELECT doc_id, len(w) AS n_tokens, w FROM base
    ), g AS (
      SELECT COUNT(*) AS n_docs, AVG(n_tokens) AS avg_len FROM b2
    ), tf AS (
      SELECT doc_id, n_tokens, term, COUNT(*) AS tf
      FROM (SELECT doc_id, n_tokens, unnest(w) AS term FROM b2)
      WHERE term IN ('spark', 'stream', 'window')
      GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), lex AS (
      SELECT tf.doc_id AS id, ROUND(SUM(
               LN(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.n_tokens / g.avg_len))
             ), 6) AS s
      FROM tf JOIN dfreq USING (term) CROSS JOIN g GROUP BY 1
    ), q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), dense AS (
      SELECT vec_id AS id,
             ROUND(list_cosine_similarity(e, (SELECT qe FROM q)), 6) AS c
      FROM emb WHERE vec_id <> 0
    ), r1 AS (
      SELECT id, r1 FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id ASC) AS r1
        FROM lex WHERE id <> 0
      ) WHERE r1 <= 100
    ), r2 AS (
      SELECT id, r2 FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY c DESC, id ASC) AS r2
        FROM dense
      ) WHERE r2 <= 100
    ), fused AS (
      SELECT COALESCE(r1.id, r2.id) AS id,
             ROUND(COALESCE(1.0 / (60 + r1.r1), 0.0)
                   + COALESCE(1.0 / (60 + r2.r2), 0.0), 6) AS rrf
      FROM r1 FULL JOIN r2 ON r1.id = r2.id
      ORDER BY rrf DESC, id ASC LIMIT 20
    ), cand AS (
      SELECT fused.id AS vec_id, fused.rrf AS rel, emb.e
      FROM fused JOIN emb ON emb.vec_id = fused.id
    ), pr AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ROUND(list_cosine_similarity(a.e, b.e), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), {",".join(steps)}
    SELECT step, vec_id AS doc_id, rel AS rrf, ROUND(mmr, 6) AS mmr
    FROM ({union})
    ORDER BY step
    """


@query("hybrid_retrieval_pipeline", None)  # oracle attached below
def hybrid_retrieval_q(spark, sf_dir):
    """The retrieval flagship — a RAG-style hybrid search chain
    value-hashed end-to-end: BM25 lexical ranking ⊕ dense cosine
    ranking over the paired embeddings → reciprocal-rank fusion
    (k=60) → MMR diversification of the fused top-20 down to 5
    (rel = RRF score, penalty = pairwise candidate cosine via
    ``mmr_greedy``).  The query is doc/vec 0, held out of both
    rankings.  Scale shape: two bounded top-100 retrievals (each
    TakeOrdered over one corpus scan), a ≤200-row fusion, and a
    20-candidate greedy — the corpus is scanned exactly twice
    regardless of size."""
    from ..operators.similarity import cosine_topk, mmr_greedy
    from ..operators.text import bm25_score

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]

    lex = (
        bm25_score(d, ["spark", "stream", "window"])
        .select("id", F.round("score", 6).alias("s"))
        .filter(F.col("id") != 0)
    )
    dense = cosine_topk(
        emb.filter(F.col("vec_id") != 0), list(qvec), k=100
    ).select(F.col("vec_id").alias("id"), F.col("cosine").alias("c"))

    def topk_ranked(df, key, rank_name):
        top = df.orderBy(F.col(key).desc(), F.col("id").asc()).limit(100)
        w = Window.orderBy(F.col(key).desc(), F.col("id").asc())
        return top.withColumn(rank_name, F.row_number().over(w)).select(
            "id", rank_name
        )

    r1 = topk_ranked(lex, "s", "r1")
    r2 = topk_ranked(dense, "c", "r2")
    fused = checkpoint(
        r1.join(r2, "id", "full")
        .select(
            "id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("r1")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r2")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col("id").asc())
        .limit(20)
        # ≤20 rows, but mmr_greedy's pairwise frame reads it through
        # BOTH self-join sides — without a lineage cut each side
        # re-runs BM25 + the dense cosine pass over the corpus (the
        # before-plan held 17 parquet scans).
    )
    cand = fused.select(F.col("id").alias("vec_id"), F.col("rrf").alias("rel"))
    sel = mmr_greedy(cand, emb, k=5, lam=0.5)
    return sel.select(
        "step",
        F.col("vec_id").alias("doc_id"),
        F.col("rel").alias("rrf"),
        "mmr",
    )


O["hybrid_retrieval_pipeline"] = _hybrid_retrieval_oracle()


@query(
    "ses_smoothing_daily_events",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS x
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ), ses AS (
      SELECT event_type, day, rn, x, x AS level
      FROM num WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.day, n.rn, n.x,
             0.5 * n.x + 0.5 * s.level
      FROM num n JOIN ses s
        ON n.event_type = s.event_type AND n.rn = s.rn + 1
    )
    SELECT event_type, day, x, level
    FROM ses ORDER BY event_type, day
    """,
)
def ses_smoothing_q(spark, sf_dir):
    """Simple exponential smoothing (alpha = 1/2) of each event
    type's daily value total — the classic trend-smoother /
    one-step-ahead forecaster over an aggregated series.  The
    recursion runs per type over the BOUNDED daily table (<=span
    days), never the event stream: one hash agg reduces the corpus,
    then an applyInPandas kernel walks each type's <=O(days) rows.
    alpha = 1/2 makes every smoothing step exact dyadic IEEE
    arithmetic (0.5*x + 0.5*prev, identical in the oracle's recursive
    CTE), and the daily inputs are rounded BEFORE the recursion — so
    levels match bit-for-bit with no output rounding at all."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("x"))
    )

    def ses(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        level = None
        out = []
        for x in pdf["x"]:
            level = x if level is None else 0.5 * x + 0.5 * level
            out.append(level)
        pdf["level"] = out
        return pdf

    return (
        daily.groupBy("event_type")
        .applyInPandas(ses, "event_type string, day date, x double, level double")
        .orderBy("event_type", "day")
    )


@query(
    "weighted_incremental_join_cdc",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey % 10 <> 3
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def weighted_incremental_join_q(spark, sf_dir):
    """The retraction-weighted join view under a CDC-style feed
    (operators/incremental_join.WeightedIncrementalJoinView): all
    orders and customers arrive as +1 inserts, then a later batch
    RETRACTS every order with o_orderkey % 10 = 3 (−1 rows); the
    maintained view's net multiplicities must equal the one-shot join
    over the surviving orders.  Aggregates consume the ``_net``
    weight directly (n_orders = Σ_net, revenue = Σ_net·price) —
    deletes propagate through the view without ever re-joining
    history."""
    from ..operators.incremental_join import WeightedIncrementalJoinView

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    ins = F.lit(1).alias("_w")
    v = WeightedIncrementalJoinView(
        scratch_dir("winc_join_"), on="o_custkey"
    )
    v.apply_batch(
        spark,
        left_delta=o.filter("o_orderkey % 2 = 0").select("*", ins),
        right_delta=c.select("*", ins),
        batch_id="b0",
    )
    v.apply_batch(
        spark,
        left_delta=o.filter("o_orderkey % 2 = 1").select("*", ins),
        batch_id="b1",
    )
    # compact history BEFORE the delete feed: the retraction batch
    # below must fold correctly against compacted accumulators
    v.compact(spark)
    # CDC delete feed: retract every %10==3 order
    v.apply_batch(
        spark,
        left_delta=o.filter("o_orderkey % 10 = 3").select(
            "*", F.lit(-1).alias("_w")
        ),
        batch_id="b2-deletes",
    )
    # ... and compact AGAIN so the read below runs over netted state
    # (cancelled ±1 pairs physically gone) — the oracle is unchanged,
    # pinning net-equivalence through both compactions
    v.compact(spark)
    net = v.read_view_net(spark)
    return (
        net.groupBy("c_mktsegment")
        .agg(
            F.sum("_net").alias("n_orders"),
            F.round(
                F.sum(F.col("_net") * F.col("o_totalprice")), 2
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "funnel_time_to_convert",
    """
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT (epoch_us(t_buy) - epoch_us(t_view)) / 1000000.0 AS secs
      FROM f
      WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(secs, 0.5), 4) AS p50_secs,
           ROUND(quantile_cont(secs, 0.9), 4) AS p90_secs,
           ROUND(AVG(secs), 4) AS mean_secs
    FROM conv
    """,
)
def funnel_time_q(spark, sf_dir):
    """Funnel latency: per user, first view -> first purchase elapsed
    time, summarized as exact interpolated percentiles + mean — the
    time-to-convert companion of the stage-count funnel
    (funnel_view_click_purchase).  One hash agg collapses the stream
    to a row per user (conditional MINs), the conversion filter is
    map-only, and the final fold is 1-row scalar state; microsecond
    arithmetic stays integer until one exact division."""
    from ..functions.vectors import epoch_us

    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_buy"),
    )
    conv = f.filter(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_view"))
    ).select(
        ((epoch_us("t_buy") - epoch_us("t_view")) / 1000000.0).alias("secs")
    )
    return conv.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(secs, 0.5)"), 4).alias("p50_secs"),
        F.round(F.expr("percentile(secs, 0.9)"), 4).alias("p90_secs"),
        F.round(F.avg("secs"), 4).alias("mean_secs"),
    )


@query(
    "ks_drift_orders",
    """
    WITH tagged AS (
      SELECT o_totalprice,
             CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS half
      FROM orders
    ), binned AS (
      SELECT half,
             LEAST(GREATEST(CAST(FLOOR(o_totalprice / 20000.0) AS INT),
                            0), 31) AS bin,
             COUNT(*) AS c
      FROM tagged GROUP BY 1, 2
    ), grid AS (
      SELECT b.bin,
             COALESCE(MAX(CASE WHEN half = 0 THEN c END), 0) AS ca,
             COALESCE(MAX(CASE WHEN half = 1 THEN c END), 0) AS cb
      FROM (SELECT unnest(range(0, 32)) AS bin) b
      LEFT JOIN binned ON binned.bin = b.bin
      GROUP BY b.bin
    ), cum AS (
      SELECT bin,
             SUM(ca) OVER (ORDER BY bin) AS cum_a,
             SUM(cb) OVER (ORDER BY bin) AS cum_b,
             (SELECT SUM(ca) FROM grid) AS na,
             (SELECT SUM(cb) FROM grid) AS nb
      FROM grid
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
                         - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
               AS ks_stat
    FROM cum
    """,
)
def ks_drift_q(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic between the
    even- and odd-key halves of orders on a FIXED 32-bin grid — the
    sup-|cdf difference| companion of PSI (psi_drift_orders), and the
    same scale rule as Mann-Whitney: never rank the corpus, fold
    exact integer counts over a literal bin domain.  One hash agg
    reduces the fact table to <=64 (half, bin) rows; the cumulative
    walk and the sup run over the 32-row grid."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, 0).otherwise(1).alias("half"),
    )
    binned = o.groupBy(
        "half",
        F.least(
            F.greatest(
                F.floor(F.col("o_totalprice") / 20000.0).cast("int"),
                F.lit(0),
            ),
            F.lit(31),
        ).alias("bin"),
    ).agg(F.count("*").alias("c"))
    grid = (
        spark.range(0, 32)
        .select(F.col("id").cast("int").alias("bin"))
        .join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("half") == 0, F.col("c"))), F.lit(0)
            ).alias("ca"),
            F.coalesce(
                F.max(F.when(F.col("half") == 1, F.col("c"))), F.lit(0)
            ).alias("cb"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = grid.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(tot).alias("na"),
        F.sum("cb").over(tot).alias("nb"),
    )
    return cum.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.round(
            F.max(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("na").cast("double")
                    - F.col("cum_b").cast("double")
                    / F.col("nb").cast("double")
                )
            ),
            6,
        ).alias("ks_stat"),
    )


@query(
    "orc_roundtrip_orders",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def orc_roundtrip_q(spark, sf_dir):
    """ORC format path exercised under the correctness gate: orders
    round-trip through an ORC write+read (the columnar alternative
    the reference's format wiring supports) and the aggregate over
    the read-back must match the oracle computed on the parquet
    original — proving the ORC path is value-preserving, not just
    runnable."""
    o = load_table(spark, sf_dir, "orders")
    loc = scratch_dir("orc_rt_") + "/orders_orc"
    o.write.mode("overwrite").orc(loc)
    back = spark.read.orc(loc)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "group_by_all_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY ALL ORDER BY o_orderstatus, o_orderpriority
    """,
)
def group_by_all_q(spark, sf_dir):
    """GROUP BY ALL — the Spark 4 / modern-SQL convenience surface
    (every non-aggregate select item becomes a grouping key), run
    through ``spark.sql`` so the parser path itself is exercised;
    DuckDB supports the identical syntax."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_gba"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ROUND(AVG(o_totalprice), 4) AS avg_price
        FROM orders_gba GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
        """
    )


@query(
    "csv_roundtrip_orders",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           CAST(MIN(o_orderdate) AS DATE) AS first_day
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def csv_roundtrip_q(spark, sf_dir):
    """CSV format path under the correctness gate (the reference's
    header-skip format, S7): orders round-trip through a
    header-carrying CSV write + schema-explicit read, and the
    aggregate — including a timestamp column surviving the text
    serialization — must match the parquet oracle.  Doubles survive
    because Spark's CSV writer emits round-trippable shortest reprs;
    the timestamp is compared at DATE grain, the reference
    blueprint's partition grain."""
    o = load_table(spark, sf_dir, "orders")
    loc = scratch_dir("csv_rt_") + "/orders_csv"
    o.write.mode("overwrite").option("header", "true").csv(loc)
    back = spark.read.schema(o.schema).option("header", "true").csv(loc)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.min("o_orderdate").cast("date").alias("first_day"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "jsd_sources_docs",
    r"""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), cnt AS (
      SELECT source, w, COUNT(*) AS c FROM toks WHERE w <> ''
      GROUP BY source, w
    ), tot AS (
      SELECT source, SUM(c) AS n FROM cnt GROUP BY source
    ), v AS (
      SELECT COUNT(DISTINCT w) AS vs FROM cnt
    ), pairs AS (
      SELECT a.source AS sa, b.source AS sb FROM tot a JOIN tot b
      ON a.source < b.source
    ), joint AS (
      SELECT p.sa, p.sb, vocab.w,
             (CAST(COALESCE(ca.c, 0) AS DOUBLE) + 1.0)
               / (CAST(ta.n AS DOUBLE) + CAST(v.vs AS DOUBLE)) AS pa,
             (CAST(COALESCE(cb.c, 0) AS DOUBLE) + 1.0)
               / (CAST(tb.n AS DOUBLE) + CAST(v.vs AS DOUBLE)) AS pb
      FROM pairs p
      CROSS JOIN v
      JOIN tot ta ON ta.source = p.sa
      JOIN tot tb ON tb.source = p.sb
      JOIN (SELECT DISTINCT w FROM cnt) vocab ON TRUE
      LEFT JOIN cnt ca ON ca.source = p.sa AND ca.w = vocab.w
      LEFT JOIN cnt cb ON cb.source = p.sb AND cb.w = vocab.w
    )
    SELECT sa, sb,
           ROUND(SUM(0.5 * pa * LN(pa / (0.5 * pa + 0.5 * pb))
                     + 0.5 * pb * LN(pb / (0.5 * pa + 0.5 * pb))), 4)
               AS jsd
    FROM joint GROUP BY sa, sb ORDER BY sa, sb
    """,
)
def jsd_sources_q(spark, sf_dir):
    """Jensen-Shannon divergence between every source pair's
    add-one-smoothed token distributions — the data-mixing
    diagnostic that says HOW different two corpus slices are (0 =
    identical, ln 2 = disjoint), symmetric and bounded unlike raw
    KL.  One token-count shuffle; the per-pair sum runs over
    vocab × pairs rows (pairs is the bounded source-pair grid) — the
    corpus text is never rescanned per pair."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    cnt = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    vocab = cnt.select("w").distinct()
    vs = cnt.agg(F.countDistinct("w").alias("vs"))
    a, b = tot.alias("a"), tot.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.source") < F.col("b.source")
    ).select(
        F.col("a.source").alias("sa"),
        F.col("a.n").alias("na"),
        F.col("b.source").alias("sb"),
        F.col("b.n").alias("nb"),
    )
    joint = (
        F.broadcast(pairs)
        .crossJoin(F.broadcast(vs))
        .join(vocab)
        .join(
            cnt.select(
                F.col("source").alias("sa"), "w", F.col("c").alias("ca")
            ),
            ["sa", "w"],
            "left",
        )
        .join(
            cnt.select(
                F.col("source").alias("sb"), "w", F.col("c").alias("cb")
            ),
            ["sb", "w"],
            "left",
        )
        .select(
            "sa",
            "sb",
            (
                (F.coalesce(F.col("ca"), F.lit(0)).cast("double") + 1.0)
                / (F.col("na").cast("double") + F.col("vs").cast("double"))
            ).alias("pa"),
            (
                (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + 1.0)
                / (F.col("nb").cast("double") + F.col("vs").cast("double"))
            ).alias("pb"),
        )
    )
    m = 0.5 * F.col("pa") + 0.5 * F.col("pb")
    return (
        joint.groupBy("sa", "sb")
        .agg(
            F.round(
                F.sum(
                    0.5 * F.col("pa") * F.log(F.col("pa") / m)
                    + 0.5 * F.col("pb") * F.log(F.col("pb") / m)
                ),
                4,
            ).alias("jsd")
        )
        .orderBy("sa", "sb")
    )


@query(
    "kfold_assignment_docs",
    """
    WITH f AS (
      SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 5 AS INTEGER) AS fold,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_toks
      FROM documents WHERE text IS NOT NULL
    )
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sum_tokens
    FROM f GROUP BY fold ORDER BY fold
    """,
)
def kfold_q(spark, sf_dir):
    """Deterministic k-fold CV assignment
    (operators.sampling.kfold_assign): fold = md5-bucket(doc_id) mod 5
    — the hash_split md5 contract, so a document's fold never moves as
    the corpus grows or is recomputed in another engine.  The gate
    aggregates per-fold doc and token counts; the assignment itself is
    a map-only projection (zero shuffles beyond the 5-row count)."""
    from ..operators.sampling import kfold_assign

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    folded = kfold_assign(d, "doc_id", k=5)
    return (
        folded.select(
            "fold",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "_n"
            ),
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("fold")
    )


@query(
    "domain_cap_docs",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY length(text) DESC, doc_id ASC) AS domain_rank,
             length(text) AS text_len
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(text_len) AS BIGINT) AS sum_len,
           CAST(MAX(domain_rank) AS INTEGER) AS max_rank
    FROM ranked WHERE domain_rank <= 20
    GROUP BY source ORDER BY source
    """,
)
def domain_cap_q(spark, sf_dir):
    """Per-domain cap (operators.sampling.domain_cap) — the
    Common-Crawl curation rule: keep at most 20 docs per source,
    ranked by text length descending with ascending-id tie-break.
    One window partitioned by the domain key (no global sort; a
    mega-domain's excess is exactly what the cap discards), then
    bounded per-source aggregates."""
    from ..operators.sampling import domain_cap

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    capped = domain_cap(
        d, "source", cap=20, score=F.length("text"), id_col="doc_id"
    )
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum(F.length("text")).cast("bigint").alias("sum_len"),
            F.max("domain_rank").cast("int").alias("max_rank"),
        )
        .orderBy("source")
    )


@query(
    "cross_source_dup_matrix_docs",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM toks
    ), {_SHINGLE_INTER_SQL}, pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE c::DOUBLE / (na + nb - c) >= 0.7
    )
    SELECT LEAST(sa.source, sb.source) AS src_a,
           GREATEST(sa.source, sb.source) AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN documents sa ON sa.doc_id = p.id_a
    JOIN documents sb ON sb.doc_id = p.id_b
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def cross_source_dup_q(spark, sf_dir):
    """Cross-source duplication matrix — the curation diagnostic that
    says WHICH corpus slices copy each other (mirrors, scrapes of the
    same site, re-crawls): exact n-gram-Jaccard near-dup pairs
    (operators.dedup.jaccard_near_dup_pairs — inverted shingle index,
    no all-pairs) joined back to each side's source, aggregated over
    the unordered source-pair grid (bounded by n_sources²).  Source
    lookups broadcast; the heavy lifting is the pair generation the
    dedup family already bounds."""
    from ..operators.dedup import jaccard_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_near_dup_pairs(
        d, "doc_id", "text", threshold=0.7, shingle_k=3
    )
    src = F.broadcast(d.select("doc_id", "source"))
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")
            ),
            "id_b",
        )
        .select(
            F.least("_sa", "_sb").alias("src_a"),
            F.greatest("_sa", "_sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("src_a", "src_b")
    )


@query(
    "interarrival_stats_events",
    """
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)))
               // 1000000 AS gap_s
      FROM events
    ), gg AS (
      SELECT user_id, gap_s FROM g WHERE gap_s IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(gap_s) AS DOUBLE) / COUNT(*), 4) AS mean_gap_s,
           ROUND(CAST(SUM(gap_s * gap_s) AS DOUBLE) / COUNT(*)
                 - (CAST(SUM(gap_s) AS DOUBLE) / COUNT(*))
                   * (CAST(SUM(gap_s) AS DOUBLE) / COUNT(*)), 4)
               AS var_gap_s
    FROM gg GROUP BY user_id ORDER BY user_id
    """,
)
def interarrival_q(spark, sf_dir):
    """Per-user inter-arrival statistics (burstiness screening — bot
    traffic has near-zero variance, humans are heavy-tailed): one
    user-partitioned LAG window (no global sort), gaps floored to
    whole seconds so the moment sums are EXACT BIGINTs — mean and
    population variance then come from identical literal double ops
    in both engines (the Mann-Whitney rule: never let an
    order-dependent float fold decide a gate)."""
    from ..functions.vectors import epoch_us

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.select(
            "user_id",
            epoch_us(F.col("ts")).alias("_u"),
            F.col("ts"),
            F.col("event_id"),
        )
        .withColumn("_lag", F.lag("_u").over(w))
        .filter(F.col("_lag").isNotNull())
        .select(
            "user_id",
            F.expr("(_u - _lag) div 1000000").alias("gap_s"),
        )
    )
    n = F.count(F.lit(1))
    s = F.sum("gap_s").cast("double")
    s2 = F.sum(F.col("gap_s") * F.col("gap_s")).cast("double")
    return (
        g.groupBy("user_id")
        .agg(
            n.cast("bigint").alias("n_gaps"),
            F.round(s / n, 4).alias("mean_gap_s"),
            F.round(s2 / n - (s / n) * (s / n), 4).alias("var_gap_s"),
        )
        .orderBy("user_id")
    )


def _binary_topk_oracle(dim: int = 64, cand: int = 30, k: int = 10) -> str:
    """DuckDB twin of binary_topk_rerank: pack the sign bits with the
    SAME two's-complement convention Java's shiftleft produces (bit 63
    contributes −2^63), XOR + bit_count Hamming, top-``cand`` by
    (hamming, id), exact-cosine rerank to ``k``."""

    def term(i: int, var: str) -> str:
        val = (1 << i) if i < 63 else -(1 << 63)
        return (
            f"CAST(CASE WHEN {var}[{i + 1}] >= 0 THEN {val} ELSE 0 END"
            " AS BIGINT)"
        )

    pack_e = "\n             + ".join(term(i, "v") for i in range(dim))
    pack_q = "\n             + ".join(term(i, "qv") for i in range(dim))
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), q AS (
      SELECT v AS qv FROM e WHERE vec_id = 0
    ), bits AS (
      SELECT vec_id, v,
             {pack_e} AS bq
      FROM e
    ), qb AS (
      SELECT {pack_q} AS qbits FROM q
    ), cand AS (
      SELECT vec_id, v,
             bit_count(xor(bq, (SELECT qbits FROM qb))) AS hamming
      FROM bits
      ORDER BY hamming ASC, vec_id ASC
      LIMIT {cand}
    )
    SELECT vec_id, hamming,
           ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id ASC
    LIMIT {k}
    """


@query("binary_topk_embeddings", None)  # oracle attached below
def binary_topk_q(spark, sf_dir):
    """Two-stage ANN over 1-bit codes
    (similarity.binary_quantize / binary_topk_rerank): sign-bit pack
    to one BIGINT (32× under float32), Hamming top-30 via XOR +
    popcount (integer-exact TakeOrdered over 8-byte codes), exact
    cosine rerank of ONLY those candidates to the top-10 — the
    standard cheap-filter + refine recipe of production vector
    stores, with both stages deterministic and SQL-replayable."""
    from ..operators.similarity import binary_topk_rerank

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return binary_topk_rerank(emb, list(qvec), k=10, candidates=30)


O["binary_topk_embeddings"] = _binary_topk_oracle()


@query(
    "matryoshka_topk_embeddings",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), q AS (
      SELECT v AS qv FROM e WHERE vec_id = 0
    ), cand AS (
      SELECT vec_id, v,
             ROUND(list_cosine_similarity(
               v[1:16], (SELECT qv[1:16] FROM q)), 6) AS prefix_cos
      FROM e
      ORDER BY prefix_cos DESC, vec_id ASC
      LIMIT 30
    )
    SELECT vec_id, prefix_cos,
           ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def matryoshka_q(spark, sf_dir):
    """Matryoshka two-stage search (similarity.matryoshka_topk):
    cosine over the first 16 of 64 dimensions picks 30 candidates
    (4× less arithmetic/IO per row — 16× at production 1024-dim),
    exact full-dim rerank restores the true top-10.  MRL-trained
    embeddings make the prefix a usable coarse score; the gate proves
    the dataflow and the determinism contract."""
    from ..operators.similarity import matryoshka_topk

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return matryoshka_topk(emb, list(qvec), k=10, candidates=30, prefix_dim=16)


