"""ETL parity (the reference's own pipeline, end-to-end) — split from the single-file registry (VERDICT r7 #7).

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
from ..tables import load_table  # noqa: F401
from ._core import (  # noqa: F401
    _LM_CE_SQL,
    _SHINGLE_INTER_SQL,
    O,
    Q,
    query,
    scratch_dir,
)

# =====================================================================
# ETL parity (the reference's own pipeline, end-to-end)
# =====================================================================

@query("etl_incremental_reload", "SELECT * FROM orders")
def etl_reload(spark, sf_dir):
    """Full reference pipeline parity: two bookmark-delimited
    incremental runs over a growing `orders` source must reconstruct
    exactly the full table (scan→probe→cast→null-prune→partitioned
    append→watermark commit; SURVEY.md §3.3)."""
    from ..bookmarks import BookmarkStore
    from ..catalog import FileCatalog
    from ..config import TableConfig
    from ..pipeline import IncrementalPipeline

    work = scratch_dir("etl_reload_")
    full = load_table(spark, sf_dir, "orders")
    mid = full.agg((F.max("o_orderkey") / 2).cast("bigint")).first()[0]
    src = f"{work}/src_orders"
    full.filter(F.col("o_orderkey") <= mid).write.mode("overwrite").parquet(src)

    def mk(run):
        return IncrementalPipeline(
            spark,
            FileCatalog(f"{work}/catalog"),
            BookmarkStore(f"{work}/bm.json"),
            target_location=f"{work}/lake",
            target_prefix="tgt_",
            job_run_id=run,
        )

    cfg = TableConfig("orders", ["o_orderkey"], "ASC", ["o_orderstatus"])
    mk("run-1").run([cfg], {"orders": src})
    full.write.mode("overwrite").parquet(src)
    pipe = mk("run-2")
    pipe.run([cfg], {"orders": src})
    return pipe.read_target("orders").select(*full.columns)


@query(
    "etl_apply_mapping",
    """
    SELECT CAST(o_orderkey AS INTEGER) AS ok_int,
           CAST(o_orderdate AS DATE)   AS odate,
           o_orderstatus               AS status,
           o_totalprice                AS price
    FROM orders
    """,
)
def etl_mapping(spark, sf_dir):
    """ApplyMapping parity (P1): project+rename+cast via catalog types."""
    from ..transforms import apply_mapping

    o = load_table(spark, sf_dir, "orders")
    return apply_mapping(
        o,
        [
            ("o_orderkey", "ok_int", "int"),
            ("o_orderdate", "odate", "date"),
            ("o_orderstatus", "status", "string"),
            ("o_totalprice", "price", "double"),
        ],
    )


@query(
    "etl_drop_null_fields",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 2 = 0 THEN 'x' END AS half
    FROM customer
    """,
)
def etl_dropnull(spark, sf_dir):
    """DropNullFields parity (P2): the injected all-null column
    vanishes, the half-null column survives."""
    from ..transforms import drop_null_fields

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.lit(None).cast("string").alias("ghost"),
        F.when(F.col("c_custkey") % 2 == 0, "x").alias("half"),
    )
    return drop_null_fields(c)


@query(
    "etl_bookmark_filter",
    "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders WHERE o_orderkey > 1000",
)
def etl_bookmark(spark, sf_dir):
    """Bookmark predicate parity (P4): strictly-greater watermark
    filter, pushed down to the parquet scan."""
    from ..bookmarks import BookmarkStore

    work = scratch_dir("bm_")
    bs = BookmarkStore(f"{work}/bm.json")
    bs.stage("orders_ctx", {"o_orderkey": 1000})
    bs.commit()
    o = load_table(spark, sf_dir, "orders")
    return bs.filter_new(o, "orders_ctx", ["o_orderkey"]).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )


# =====================================================================
# Streaming (batch-mode window algebra — identical exprs run on streams)
# =====================================================================

@query(
    "events_tumbling_hourly",
    """
    SELECT date_trunc('hour', ts)                   AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           COUNT(*)                                 AS n_events,
           ROUND(SUM(value), 2)                     AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling(spark, sf_dir):
    """Tumbling event-time windows (streaming.windows.tumbling_window_agg)."""
    from ..streaming import tumbling_window_agg

    ev = load_table(spark, sf_dir, "events")
    return tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )


@query(
    "events_sliding_1h_30m",
    """
    SELECT g.ws                        AS window_start,
           g.ws + INTERVAL 1 HOUR      AS window_end,
           COUNT(*)                    AS n_events
    FROM generate_series(TIMESTAMP '2023-12-31 23:30:00',
                         TIMESTAMP '2024-02-01 00:00:00',
                         INTERVAL 30 MINUTE) AS g(ws)
    JOIN events e ON e.ts >= g.ws AND e.ts < g.ws + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def sliding(spark, sf_dir):
    """Sliding windows (1h window / 30m slide): each event lands in 2
    windows; Spark's window() explodes inline — the oracle
    reconstructs the same windows with generate_series."""
    from ..streaming import sliding_window_agg

    ev = load_table(spark, sf_dir, "events")
    return sliding_window_agg(
        ev, "ts", "1 hour", "30 minutes", [F.count(F.lit(1)).alias("n_events")]
    )


@query(
    "events_sessionize_30m",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM s GROUP BY user_id, session_seq
    """,
)
def sessionize_q(spark, sf_dir):
    """Gap-based sessionization (streaming.windows.sessionize), 30-min
    gap, exact µs arithmetic; session-level rollup."""
    from ..streaming import sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "ts", "user_id", gap_seconds=1800)
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "events_session_window_native",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS seq
      FROM g
    )
    SELECT MIN(ts)                       AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE  AS session_end,
           user_id,
           COUNT(*)                      AS n_events
    FROM s GROUP BY user_id, seq
    """,
)
def session_native(spark, sf_dir):
    """Spark-native session_window, oracle-checked: the engine merges
    sessions while the gap is STRICTLY under the gap duration (windows
    [t, t+gap) merge only when they overlap), so the lag formulation
    uses ``>= gap`` for a session break — one boundary convention off
    from events_sessionize_30m's ``> gap`` — and the native window end
    is last-event ts + gap, not max(ts)."""
    from ..streaming import session_window_agg

    ev = load_table(spark, sf_dir, "events")
    return session_window_agg(
        ev,
        "ts",
        "30 minutes",
        [F.count(F.lit(1)).alias("n_events")],
        extra_keys=["user_id"],
    )


