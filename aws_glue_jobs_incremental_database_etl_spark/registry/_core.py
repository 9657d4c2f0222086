"""Query registry: every implemented operator as a (spark, sf_dir) →
DataFrame callable, with a matching DuckDB oracle SQL where the
semantics are ANSI-SQL-expressible (SURVEY.md §2 inventory →
``__spark_entry__.queries()`` / ``oracle_sql()``).

Conventions keeping the driver's order-insensitive value-hash stable
across Spark and DuckDB:
- every computed column is aliased IDENTICALLY in both;
- floating-point aggregates are rounded (sums → 2, ratios/avgs → 4-6);
- vector math is cast to double on BOTH sides before accumulating;
- time arithmetic uses exact integer microseconds (unix_micros /
  epoch_us), never fractional-second doubles;
- deterministic tie-breakers on every top-k boundary.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

import pandas as pd  # resolves pandas_udf string annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import epoch_us
from ..tables import load_table

Q = {}  # name -> callable(spark, sf_dir) -> DataFrame
O = {}  # name -> oracle SQL (DuckDB); absent => rows-only check

# Shared DuckDB fragment: the corpus-trained add-k bigram LM and its
# per-document cross-entropy (CCNet scoring).  Yields ``all_docs`` with
# (doc_id, ce) — ce already ROUND(6), 0.0 for docs with < 2 tokens.
# Interpolated into every oracle that consumes LM scores — ONE place
# to change the tokenizer or smoothing.
_LM_CE_SQL = r"""toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), uni AS MATERIALIZED (
      SELECT g AS w1, COUNT(*) AS cu
      FROM (SELECT unnest(w) AS g FROM toks) GROUP BY g
    ), v AS (
      SELECT COUNT(*) AS vs FROM uni
    ), ix AS (
      SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks
    ), bi AS MATERIALIZED (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM ix
    ), bc AS MATERIALIZED (
      SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2
    ), scored AS (
      SELECT bi.doc_id, COUNT(*) AS n_bigrams,
             ROUND(-AVG(LN((bc.cb + 0.5) / (uni.cu + 0.5 * v.vs))), 6)
                 AS ce
      FROM bi JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
      GROUP BY bi.doc_id
    ), all_docs AS (
      SELECT t.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
             COALESCE(s.ce, 0.0) AS ce
      FROM toks t LEFT JOIN scored s ON t.doc_id = s.doc_id
    )"""

# Shared DuckDB fragment: 3-gram-Jaccard candidate intersections via an
# inverted shingle index (posts unnest + hash join + COUNT), ~200×
# faster than the all-pairs list_intersect formulation it replaced.
# Expects a CTE named ``d`` with (doc_id, sh) in scope; yields ``inter``
# with (id_a < id_b, c = |A∩B|, na = |A|, nb = |B|), so
# jaccard = c / (na + nb - c).  Interpolated into every oracle that
# scores shingle overlap — ONE place to change the candidate semantics.
_SHINGLE_INTER_SQL = """posts AS MATERIALIZED (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM d
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c,
             ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""


def normal_cdf(zc):
    """Standard normal CDF Φ(z) of a Column: Abramowitz–Stegun 26.2.17
    for z ≥ 0, mirrored for z < 0.  Explicit arithmetic with ``exp`` the
    only libm call, the same tree as ``wave6_ts._PHI_SQL`` on the oracle
    side, so the Spark and DuckDB p-values agree bit-for-bit."""

    def tail(za):
        k = 1.0 / (1.0 + 0.2316419 * za)
        poly = (
            (((1.330274429 * k - 1.821255978) * k + 1.781477937) * k
             - 0.356563782) * k + 0.319381530
        ) * k
        return F.exp(-za * za / 2.0) * 0.3989422804014327 * poly

    return F.when(zc >= 0, 1.0 - tail(zc)).otherwise(tail(-zc))


def scratch_dir(prefix: str) -> str:
    """Session-lifetime scratch directory for gates that must return a
    LAZY frame whose backing files outlive the gate body (the txn
    gates build a temp lake, publish, read a snapshot, then tear the
    lake down — collecting the snapshot to the driver bounded
    correctness but broke the "every collect bounded by construction"
    invariant at table scale, VERDICT r10 What's-wrong #3).  The gate
    writes its result parquet here and returns ``spark.read.parquet``;
    the directory is removed at interpreter exit, so repeated registry
    / bench / driver invocations never accumulate leaked staging data
    (ADVICE r9 #3)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def query(name: str, oracle: str | None = None):
    def deco(fn):
        # Name collisions are otherwise SILENT dict overwrites that
        # shadow an existing gate (round 10: a new CUPED variant
        # replaced wave-6's cuped_adjusted_lift_events unnoticed
        # until the registry count came up one short) — fail at
        # import time instead.
        if name in Q:
            raise ValueError(
                f"query name {name!r} is already registered "
                f"(by {Q[name].__module__}.{Q[name].__qualname__}); "
                "pick a distinct name"
            )
        Q[name] = fn
        if oracle is not None:
            O[name] = oracle
        return fn

    return deco


