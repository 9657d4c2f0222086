"""DataFrame-level text-analysis operators over a documents table.

Thin compositions of the expression library in ``functions.text`` —
each is a map-only pass (no shuffle) producing per-document features
for downstream filtering/sampling in a training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.text import (
    language_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    text_fingerprint,
    token_count,
)
from ..materialize import checkpoint


def document_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token/quality/language/fingerprint feature columns."""
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(quality_score(t), 6).alias("quality"),
        language_id(t).alias("lang_pred"),
        text_fingerprint(t).alias("fingerprint"),
    )


def quality_filter(
    df: DataFrame, text_col: str = "text", min_quality: float = 0.5
) -> DataFrame:
    """Keep documents above a quality threshold (pipeline building block)."""
    return df.filter(quality_score(F.col(text_col)) >= min_quality)


def pii_density(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII-shape counts and density — the measurement
    side of ``functions.text.redact_pii`` (compliance dashboards and
    drop-vs-redact routing decide off the COUNTS; redaction is what
    happens after).  Counts each shape on the progressively-masked
    text in the same email → IP → number order the redactor applies,
    so an IPv4's digit run is never double-counted as a phone number.
    ``pii_density`` = total shapes per word, rounded 6.  Three
    regexp_count/regexp_replace chains — map-only, no UDF, RE2-safe
    patterns shared with the redactor."""
    t = F.col(text_col)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip = r"\b\d{1,3}(\.\d{1,3}){3}\b"
    num = r"\b(?:\d[ .-]?){7,}\d\b"
    n_email = F.regexp_count(t, F.lit(email))
    s1 = F.regexp_replace(t, email, "<EMAIL>")
    n_ip = F.regexp_count(s1, F.lit(ip))
    s2 = F.regexp_replace(s1, ip, "<IP>")
    n_num = F.regexp_count(s2, F.lit(num))
    n_words = F.size(F.split(F.lower(F.trim(t)), r"\s+"))
    total = n_email + n_ip + n_num
    return df.select(
        F.col(id_col).alias("id"),
        n_words.cast("bigint").alias("n_words"),
        n_email.cast("bigint").alias("n_emails"),
        n_ip.cast("bigint").alias("n_ips"),
        n_num.cast("bigint").alias("n_numbers"),
        F.round(total / n_words, 6).alias("pii_density"),
    )


# Gopher rule thresholds (Rae et al. 2021, Table A1) — module-level so
# callers and the SQL twin share one source of truth.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_LIMITS = dict(
    min_words=50,
    max_words=100_000,
    min_mean_word_len=3.0,
    max_mean_word_len=10.0,
    max_symbol_ratio=0.1,
    max_bullet_ratio=0.9,
    max_ellipsis_ratio=0.3,
    min_stopword_hits=2,
)


def gopher_quality_flags(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", App. A1.1 — the repetition half of
    the same appendix ships as ``repetition_signals``): per document,
    the raw signals and one flag per rule, plus ``keep`` = all rules
    pass.  The canonical hand-written filter set most published
    corpora apply before any model-based scoring.

    Rules: word count in [50, 100k]; mean word length in [3, 10];
    symbol-to-word ratio (``#`` or ``...``) ≤ 0.1; ≤ 90% of lines
    start with a bullet; ≤ 30% of lines end with an ellipsis; ≥ 2
    distinct rows of a small required-stopword set appear.

    Entirely higher-order-function expressions over one split — a
    map-only pass with no shuffle, no UDF; ratios are rounded to 6
    before thresholding so the flags are engine-exact in the SQL twin.
    """
    t = F.col(text_col)
    words = F.split(F.lower(F.trim(t)), r"\s+")
    lines = F.split(t, r"\n")
    n_words = F.size(words)
    mean_wl = F.round(
        F.aggregate(
            words, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
        )
        / n_words,
        6,
    )
    symbolish = F.size(
        F.filter(
            words,
            lambda w: w.contains("#") | w.contains("..."),
        )
    )
    sym_ratio = F.round(symbolish / n_words, 6)
    n_lines = F.size(lines)
    bullets = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-")
            | F.ltrim(l).startswith("*")
            | F.ltrim(l).startswith("•"),
        )
    )
    ellipses = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    bullet_ratio = F.round(bullets / n_lines, 6)
    ellipsis_ratio = F.round(ellipses / n_lines, 6)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(words, s),
        )
    )
    L = GOPHER_LIMITS
    flags = {
        "pass_word_count": (n_words >= L["min_words"])
        & (n_words <= L["max_words"]),
        "pass_mean_word_len": (mean_wl >= L["min_mean_word_len"])
        & (mean_wl <= L["max_mean_word_len"]),
        "pass_symbol_ratio": sym_ratio <= L["max_symbol_ratio"],
        "pass_bullet_ratio": bullet_ratio <= L["max_bullet_ratio"],
        "pass_ellipsis_ratio": ellipsis_ratio <= L["max_ellipsis_ratio"],
        "pass_stopwords": stop_hits >= L["min_stopword_hits"],
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return df.select(
        F.col(id_col).alias("id"),
        n_words.cast("bigint").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        stop_hits.cast("int").alias("stopword_hits"),
        *[v.cast("int").alias(k) for k, v in flags.items()],
        keep.cast("int").alias("keep"),
    )


def lexicon_score(
    df: DataFrame,
    lexicon: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
    weight_col: str = "weight",
) -> DataFrame:
    """Dictionary-based document scoring (the sentiment-lexicon
    pattern, SURVEY.md §2.11): explode tokens, BROADCAST-join the
    term→weight lexicon, sum weights per document —
    ``(id, n_matched, score)``.

    The lexicon is thousands of rows against a corpus of billions, the
    canonical broadcast side; the aggregation is partial map-side, so
    the whole operator is one small shuffle keyed on the document.
    Documents with zero lexicon hits keep a 0.0 score via the final
    left join (they'd silently vanish from the inner join)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_t"),
    )
    hits = (
        toks.join(
            F.broadcast(
                lexicon.select(
                    F.lower(F.col(term_col)).alias("_t"),
                    F.col(weight_col).alias("_w"),
                )
            ),
            "_t",
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.sum("_w"), 6).alias("score"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(hits.hint("merge"), "id", "left")
        .select(
            "id",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF:
    ``(id, term, n_term, tfidf)``; ``idf = ln((N+1)/(df+1)) + 1``
    (the smoothed scikit-learn convention), tie-broken by term so the
    ranking is total.

    Plan shape: one explode → two partial-aggregated shuffles (term
    counts per doc; document frequency per term) → the per-term idf
    table joins back BROADCAST (vocabulary ≪ corpus) → one window
    top-k per doc.  No UDF anywhere; the only all-corpus state is the
    vocabulary aggregate.
    """
    n_docs = df.count()  # scalar; drives a literal in the idf expression
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    )
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("n_term"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = docfreq.select(
        "term",
        (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "id", "term", "n_term",
        F.round(F.col("n_term") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap_tokens: int = 0,
) -> DataFrame:
    """Split documents into fixed-size token windows with optional
    overlap — the context-window prep step of an LLM training
    pipeline: ``(id, chunk_id, n_chunk_tokens, chunk_text)``, chunk i
    covering tokens ``[i·stride, i·stride + chunk_tokens)`` where
    ``stride = chunk_tokens − overlap_tokens``.

    Pure Catalyst (split → sequence → posexplode → slice →
    array_join): a map-only pass whose output fan-out is
    rows × ⌈tokens/stride⌉ — no UDF, no shuffle, and the explode
    happens AFTER the per-document token array is built once.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # size() reads the MATERIALIZED _toks column: putting toks.alias
    # and size(toks) in one projection would inline the split twice
    # per row (same trap measured at 3.5x in decontaminate)
    n = F.size("_toks")
    # 1 chunk when n <= chunk_tokens, else 1 + ceil((n - chunk)/stride)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        1 + F.floor((n - chunk_tokens + stride - 1) / F.lit(stride))
    )
    out = (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .select(
            "id",
            "_toks",
            F.posexplode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id", "_one"),
        )
        .select(
            "id",
            "chunk_id",
            F.slice(
                F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens
            ).alias("_chunk"),
        )
        .select(
            "id",
            "chunk_id",
            F.size("_chunk").alias("n_chunk_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )
    return out


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et
    al. 2021 §A1.1 use these to drop boilerplate/spam before
    training): ``(id, n_words, dup_word_frac, top_bigram_frac)``.

    - ``dup_word_frac``: fraction of word occurrences that are
      repeats of an earlier word — ``(n − n_distinct) / n``.  Pure
      map-side HOF (``array_distinct``), no shuffle.
    - ``top_bigram_frac``: fraction of all bigram occurrences taken
      by the single most frequent bigram — high values mean looping
      text.  Needs a per-(doc, bigram) count, so it is one explode →
      two partial-aggregated shuffles keyed by the document (the
      same shape at any scale; skew is bounded by document length,
      not corpus size).

    Documents with < 2 words have no bigrams and get 0.0 via the
    final left join (an inner join would silently drop them).
    """
    from .dedup import _spread

    df = _spread(df, id_col)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    nw = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(F.size(toks))
    base = df.select(
        F.col(id_col).alias("id"),
        nw.cast("bigint").alias("n_words"),
        F.when(
            nw > 0,
            F.round(
                (nw - F.size(F.array_distinct(toks))) / nw.cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
        toks.alias("_toks"),
    )
    bigrams = F.zip_with(
        F.slice(F.col("_toks"), 1, F.greatest(F.size("_toks") - 1, F.lit(0))),
        F.slice(F.col("_toks"), 2, F.greatest(F.size("_toks") - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    per_bigram = (
        base.select("id", F.explode(bigrams).alias("bigram"))
        .groupBy("id", "bigram")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_doc = per_bigram.groupBy("id").agg(
        F.round(F.max("_c") / F.sum("_c").cast("double"), 6).alias("top_bigram_frac")
    )
    return (
        base.drop("_toks")
        .join(per_doc.hint("merge"), "id", "left")
        .select(
            "id",
            "n_words",
            "dup_word_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def lm_cross_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained bigram
    language model — the CCNet-style perplexity filter (Wenzek et al.
    2020 score documents under a KenLM model; here the model IS the
    corpus's own bigram statistics, so the operator is closed over its
    input): ``(id, n_bigrams, cross_entropy)`` where
    ``cross_entropy = −mean log P(w_i | w_{i−1})`` with add-``k``
    smoothing ``P(w2|w1) = (C(w1,w2)+k) / (C(w1)+k·V)``.
    Low score = fluent/typical text; high = rare or garbled — the
    standard quality-filtering axis.

    Plan shape: one explode for unigram counts, one for bigrams (both
    partial-aggregated); the per-doc bigram stream joins the count
    tables ON THE GRAM KEY — shuffle joins, no broadcast needed, so
    the model tables may be arbitrarily large (Zipf skew on hot grams
    is AQE's skew-join case).  The only scalar is vocabulary size V.
    Documents with < 2 tokens get 0.0 via the final left join."""
    from .dedup import _spread

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = checkpoint(
        _spread(df.select(F.col(id_col).alias("id"), toks.alias("_toks")), "id")
    )
    uni = (
        base.select(F.explode("_toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_cu"))
    )
    vocab_size = uni.count()  # scalar: drives the smoothing literal
    n = F.size("_toks")
    pair = F.zip_with(
        F.slice(F.col("_toks"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("_toks"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = base.select("id", F.explode(pair).alias("p")).select(
        "id", "p.w1", "p.w2"
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_cb"))
    # fold C(w1) into the (much smaller) distinct-bigram model table
    # first, so the full bigram STREAM pays one join, not two
    model = bc.join(uni.hint("merge"), "w1").select(
        "w1",
        "w2",
        F.log(
            (F.col("_cb") + F.lit(k)) / (F.col("_cu") + F.lit(k * vocab_size))
        ).alias("_logp"),
    )
    scored = (
        bi.join(model.hint("merge"), ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("_logp"), 6).alias("cross_entropy"),
        )
    )
    return (
        base.select("id")
        .join(scored.hint("merge"), "id", "left")
        .select(
            "id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("cross_entropy", F.lit(0.0)).alias("cross_entropy"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 512,
    bucket_width: int = 4096,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a
    deduplicated corpus into fixed-length training windows: documents
    are laid end-to-end in ``id`` order and the token stream is cut
    every ``seq_len`` tokens, so window *w* covers global token
    positions ``[w·L, (w+1)·L)``.  Output is one row per
    (window, document) overlap: ``(window_id, id, n_tokens,
    win_tokens)`` where ``win_tokens`` is how many of the document's
    tokens land in that window (== how training examples are packed,
    GPT-3 §2.3 / T5 "pack until full" style).

    Scale design — the global running offset is the hard part.  A
    bare ``SUM OVER (ORDER BY id)`` is a single-partition window (the
    whole corpus through one task), so the cumsum is two-pass
    instead:

    1. docs are bucketed by ``id div bucket_width``; per-bucket token
       sums are a partial-aggregated shuffle of ~corpus/width rows;
    2. bucket start offsets are a window over THAT tiny aggregate
       (bounded: 10^10 docs / 4096 ≈ 2.4M rows — still one task, but
       over bucket summaries, not the corpus; raise ``bucket_width``
       to shrink it further at scale);
    3. each doc's offset = its bucket's start + a within-bucket
       cumsum, a window partitioned by bucket (bounded partitions).

    Everything else is map-only Catalyst (sequence + explode over the
    windows a doc spans).  Deterministic for a fixed corpus: ordering
    is by unique ``id``, arithmetic is exact integer."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    if bucket_width < 1:
        raise ValueError("bucket_width must be >= 1")
    from .dedup import _spread

    base = _spread(
        df.filter(F.trim(F.col(text_col)) != "").select(
            F.col(id_col).alias("id"),
            F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
            .cast("bigint")
            .alias("n_tokens"),
        ),
        "id",
    ).withColumn("_bucket", F.expr(f"id div {bucket_width}"))

    bucket_sums = base.groupBy("_bucket").agg(F.sum("n_tokens").alias("_bsum"))
    # window over bucket SUMMARIES (corpus/bucket_width rows), not docs
    w_buckets = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_offsets = bucket_sums.select(
        "_bucket",
        F.coalesce(F.sum("_bsum").over(w_buckets), F.lit(0)).alias("_boff"),
    )
    w_in_bucket = (
        Window.partitionBy("_bucket").orderBy("id").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    placed = (
        base.join(F.broadcast(bucket_offsets), "_bucket")
        .withColumn(
            "_st",
            F.col("_boff")
            + F.coalesce(F.sum("n_tokens").over(w_in_bucket), F.lit(0)),
        )
        .withColumn("_en", F.col("_st") + F.col("n_tokens") - 1)
    )
    return (
        placed.select(
            "id",
            "n_tokens",
            "_st",
            "_en",
            F.explode(
                F.sequence(
                    F.expr(f"_st div {seq_len}"), F.expr(f"_en div {seq_len}")
                )
            ).alias("window_id"),
        )
        .select(
            F.col("window_id").cast("bigint").alias("window_id"),
            "id",
            "n_tokens",
            (
                F.least(F.col("_en"), (F.col("window_id") + 1) * seq_len - 1)
                - F.greatest(F.col("_st"), F.col("window_id") * seq_len)
                + 1
            )
            .cast("bigint")
            .alias("win_tokens"),
        )
    )


def fixed_token_segments(text_col, segment_tokens: int):
    """Array of consecutive ``segment_tokens``-word segments (the
    "lines" of a corpus that has no newlines) — pure Catalyst:
    tokenize once, slice per segment index.

    The tokenization happens INSIDE the per-segment lambda's slice, so
    it must not be the raw split() expression: higher-order-function
    lambdas are interpreted with no common-subexpression elimination,
    and an inlined split() would re-tokenize the document once per
    segment — O(n_segs × text_len) per doc (the boilerplate_ngrams
    finding, OPTIMIZATION_r11.md §1).  ``with_field`` pins the token
    array as a named lambda variable via ``zip_with`` over a 1-element
    wrapper so the split is evaluated exactly once per row while the
    function still composes as a single column expression."""
    return F.zip_with(
        # 1-element array carrying the materialized token array: the
        # outer lambda evaluates split() once, the inner per-segment
        # lambda then indexes the lambda VARIABLE (never re-splits)
        F.array(F.split(F.trim(text_col), r"\s+")),
        F.array(F.lit(0)),
        lambda toks, _z: F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(segment_tokens)).cast("int") - 1,
            ),
            lambda i: F.array_join(
                F.slice(toks, i * segment_tokens + 1, segment_tokens), " "
            ),
        ),
    ).getItem(0)


def dedup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    segment_tokens: int | None = None,
    mode: str = "keep_first",
    max_docs: int = 10,
) -> DataFrame:
    """C4-style line/segment-level dedup across the WHOLE corpus
    (Raffel et al. 2020 §2.2 drop repeated three-sentence spans;
    RefinedWeb does it at the line level): documents are split into
    segments, duplicate segments are removed corpus-wide, and each
    document is reassembled from its surviving segments in order —
    ``(id, n_segments, n_kept, clean_text)``.

    Segmentation: by ``delimiter`` (real lines), or fixed
    ``segment_tokens``-word windows when the corpus has no structural
    delimiter (:func:`fixed_token_segments`).

    Two dedup policies:

    - ``keep_first``: a segment survives only in the lexicographically
      first ``(id, pos)`` it appears at.  The winner per segment is
      ``min(struct(id, pos))`` — a partial-aggregated groupBy, NOT a
      ``row_number`` window, so a boilerplate segment duplicated a
      billion times costs a combiner-side max, never a billion-row
      window partition.
    - ``drop_common``: segments appearing in more than ``max_docs``
      documents are dropped EVERYWHERE (the C4 policy for boilerplate;
      approximate-count-free, one partial-aggregated count_distinct).

    Plan shape: explode → one shuffle keyed by segment text (winner /
    count) → hash join back → one shuffle keyed by doc to reassemble.
    Reassembly order is carried by ``array_sort`` over (pos, segment)
    structs, so no ordered window is needed there either."""
    if mode not in ("keep_first", "drop_common"):
        raise ValueError(f"unknown mode: {mode!r}")
    if segment_tokens is not None and segment_tokens < 1:
        raise ValueError("segment_tokens must be >= 1")
    if segment_tokens is None and not delimiter:
        raise ValueError("need a non-empty delimiter or segment_tokens")
    from .dedup import _spread

    import re

    sep = " " if segment_tokens is not None else delimiter
    segments = (
        fixed_token_segments(F.col(text_col), segment_tokens)
        if segment_tokens is not None
        # F.split takes a REGEX — escape so a literal delimiter like
        # "|" or ". " splits literally instead of as a pattern
        else F.split(F.col(text_col), F.lit(re.escape(delimiter)), -1)
    )
    segs = _spread(
        df.filter(F.trim(F.col(text_col)) != "").select(
            F.col(id_col).alias("id"), segments.alias("_segs")
        ),
        "id",
    ).select("id", F.posexplode("_segs").alias("pos", "seg"))

    if mode == "keep_first":
        winners = segs.groupBy("seg").agg(
            F.min(F.struct("id", "pos")).alias("_first")
        )
        kept = (F.col("id") == F.col("_first.id")) & (
            F.col("pos") == F.col("_first.pos")
        )
        marked = segs.join(winners.hint("merge"), "seg").withColumn("_keep", kept)
    else:
        counts = segs.groupBy("seg").agg(
            F.count_distinct("id").alias("_ndocs")
        )
        marked = segs.join(counts.hint("merge"), "seg").withColumn(
            "_keep", F.col("_ndocs") <= max_docs
        )

    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "seg"))
                        )
                    ),
                    lambda x: x.seg,
                ),
                sep,
            ).alias("clean_text"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    k: int = 5,
    min_matches: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    k-token n-gram with an eval/benchmark set (the test-set-leakage
    check of GPT-3 appendix C / Llama 2 §A.6): ``(id, n_grams,
    n_matched_grams, is_contaminated)``.

    Plan shape for 100 TB: the benchmark is an eval set — thousands
    of documents against billions — so its distinct gram set is the
    canonical BROADCAST side.  Grams are compared as xxhash64 longs,
    not strings: 8-byte join keys keep the broadcast table and the
    probe-side hash comparisons constant-width no matter the gram
    text (collision odds at eval-set cardinality ~2^-40, far below
    data-corruption rates).  The corpus side is one map pass
    (shingle → hash → explode) into the broadcast join, then one
    partial-aggregated shuffle keyed by document.  Short documents
    (< k words) fall back to their whole text as a single gram, same
    as :func:`shingles`.
    """
    from .dedup import _spread, shingles_from_tokens, tokens_of

    df = _spread(df, id_col)  # shingling is compute-bound; see _spread
    grams = shingles_from_tokens(F.col("_t"), k=k)
    bench_set = (
        benchmark.select(
            tokens_of(F.col(bench_text_col or text_col)).alias("_t")
        )
        .select(F.explode(shingles_from_tokens(F.col("_t"), k=k)).alias("_g"))
        .select(F.xxhash64("_g").alias("_h"))
        .dropDuplicates(["_h"])
    )
    # ONE corpus pass, ONE shingle evaluation: posexplode and rebuild
    # n_grams as max(pos)+1 in the doc-keyed aggregate.  The obvious
    # alternatives each evaluate the (expensive) shingle expression
    # twice per row: a second scan for size() (the original two-branch
    # form), or size()+explode() in one projection (Project and
    # Generate both inline the expression — measured 3.5x slower than
    # this).  shingles() always yields >= 1 gram (whole-text
    # fallback), so the explode never drops a document.
    stream = (
        df.select(F.col(id_col).alias("id"), tokens_of(F.col(text_col)).alias("_t"))
        .select("id", F.posexplode(grams).alias("_pos", "_g"))
        .select("id", "_pos", F.xxhash64("_g").alias("_h"))
    )
    hit = F.broadcast(bench_set.withColumn("_m", F.lit(1)))
    return (
        stream.join(hit, "_h", "left")
        .groupBy("id")
        .agg(
            (F.max("_pos") + 1).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("_m", F.lit(0))).cast("bigint").alias(
                "n_matched_grams"
            ),
        )
        .select(
            "id",
            "n_grams",
            "n_matched_grams",
            F.when(F.col("n_matched_grams") >= min_matches, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_contaminated"),
        )
    )


from collections import OrderedDict as _OrderedDict

# LRU of persisted DSIR model tables (vocab-sized, bounded).  Keyed by
# the SEMANTIC identity of (corpus plan, target plan, tokenizer
# params), so two calls that score the same corpus against the same
# target share one materialized model; eviction unpersists explicitly.
_DSIR_CACHE: _OrderedDict = _OrderedDict()
_DSIR_CACHE_MAX = 4


def _dsir_cached_model(df, target, model, id_col, text_col, k):
    """Return a persisted copy of ``model``, reusing the LRU entry for
    this (corpus, target, params) identity when one exists.  Falls back
    to the unpersisted plan if semantic hashing is unavailable."""
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            target._jdf.queryExecution().analyzed().semanticHash(),
            id_col,
            text_col,
            float(k),
        )
    except Exception:
        return model
    hit = _DSIR_CACHE.get(key)
    if hit is not None:
        _DSIR_CACHE.move_to_end(key)
        return hit
    # Raw persist on purpose: the LRU, not one call, owns this lifetime.
    model = model.persist()
    _DSIR_CACHE[key] = model
    while len(_DSIR_CACHE) > _DSIR_CACHE_MAX:
        _, evicted = _DSIR_CACHE.popitem(last=False)
        try:
            evicted.unpersist()
        except Exception:
            pass  # owning session already stopped
    return model


def dsir_clear_model_cache() -> None:
    """Explicitly unpersist and drop every cached DSIR model (e.g.
    before stopping a session in tests)."""
    while _DSIR_CACHE:
        _, evicted = _DSIR_CACHE.popitem(last=False)
        try:
            evicted.unpersist()
        except Exception:
            pass


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Data Selection via Importance Resampling, unigram variant (Xie
    et al., NeurIPS 2023: select pretraining data whose importance
    weight under a small TARGET corpus — Wikipedia, textbooks — is
    high): ``(id, n_tokens, log_ratio)`` where ``log_ratio`` is the
    per-document sum over token occurrences of
    ``log P_target(w) − log P_corpus(w)`` with add-``k`` smoothing
    over the corpus vocabulary.  Rank by it (or sample ∝ exp) to tilt
    the corpus toward the target domain; DSIR proper hashes n-grams
    into a fixed feature space, the unigram form keeps an exact SQL
    twin while preserving the estimator's shape.

    Plan: both count tables are gram-keyed partial aggregates; the
    smoothed log-ratio folds into ONE model table (corpus vocab sized,
    left-joined with target counts), and the per-doc token stream
    joins it on the gram key — shuffle joins throughout, no broadcast
    bound on vocabulary size; Zipf-hot tokens are AQE's skew case.
    The three model constants (corpus/target token totals, vocab
    size) ride along as a 1-row broadcast cross join rather than
    driver-collected literals, so the WHOLE operator is one lazy plan:
    no scalar pre-jobs run at build time (the r2→r3 1.8× regression
    was the consume-time re-tokenize those jobs' persist/unpersist
    pattern caused), and the double arithmetic is the same IEEE ops on
    the same values as the literal form, so the SQL twin is unchanged.

    Memory contract: the only state this operator ever pins is the
    VOCAB-sized model table, in a ≤``_DSIR_CACHE_MAX``-entry LRU keyed
    by the (corpus, target, tokenizer) identity — repeat scorings of
    the same model (threshold sweeps, resampling rounds; also the
    bench's min-of-2) skip the model's tokenize+count pass entirely,
    while eviction explicitly unpersists, so a long-lived session
    scoring MANY corpora holds at most 4 bounded tables, never a token
    stream (the r3 advisor finding stays fixed).  Tokens outside the
    corpus vocab cannot occur (the corpus scores itself); a disjoint
    probe corpus would need the model persisted — same contract as
    ``lm_cross_entropy``."""
    from .dedup import _spread

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = _spread(
        df.select(F.col(id_col).alias("id"), toks.alias("_toks")), "id"
    )
    stream = base.select("id", F.explode("_toks").alias("w"))
    cc = stream.groupBy("w").agg(F.count(F.lit(1)).alias("_cc"))
    ct = (
        target.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_ct"))
    )
    consts = cc.agg(
        F.sum("_cc").cast("double").alias("_nc"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    ).crossJoin(
        ct.agg(
            F.coalesce(F.sum("_ct").cast("double"), F.lit(0.0)).alias("_nt")
        )
    )
    kv = F.lit(float(k))
    model = (
        cc.join(ct.hint("merge"), "w", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "w",
            (
                F.log(
                    (F.coalesce("_ct", F.lit(0)) + kv)
                    / (F.col("_nt") + kv * F.col("_v"))
                )
                - F.log(
                    (F.col("_cc") + kv) / (F.col("_nc") + kv * F.col("_v"))
                )
            ).alias("_lr"),
        )
    )
    model = _dsir_cached_model(df, target, model, id_col, text_col, k)
    return (
        stream.join(model.hint("merge"), "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("_lr"), 6).alias("log_ratio"),
        )
    )


def hashed_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 262_144,
    bias: float = 0.0,
    bucket_col: str = "bucket",
    weight_col: str = "w",
) -> DataFrame:
    """Linear classifier over hashed bag-of-words features — the
    fastText-shaped quality/domain classifier every published corpus
    pipeline applies (GPT-3's WebText-vs-CommonCrawl filter, CCNet's
    language-model gating, Llama's quality classifiers):
    ``(id, n_tokens, score)`` with
    ``score = sigmoid(bias + Σ_t weights[h(token_t) mod dim])``.

    ``weights`` is the trained model as a TABLE (bucket → w), joined
    BROADCAST — at most ``dim`` rows by construction, millions of
    times smaller than the corpus.  Feature hashing uses the engine's
    md5-bucket contract (``sampling.hash_bucket``), so any runtime
    that can md5 a string reproduces the features bit-for-bit:
    training offline (sklearn/fastText export into (bucket, w) rows)
    and scoring here stay consistent.  Tokens hashing to buckets
    absent from the model contribute 0 (left join).  One explode +
    one doc-keyed aggregate; map-side partial sums.
    """
    from .sampling import hash_bucket

    if dim < 1:
        raise ValueError("dim must be >= 1")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "_t"
        ),
    ).select("id", hash_bucket(F.col("_t"), dim).alias("_b"))
    # pre-aggregate the model: a duplicate bucket row (sharded/buggy
    # export) would otherwise fan out the join, inflating n_tokens and
    # double-counting weights with no error
    w = F.broadcast(
        weights.select(
            F.col(bucket_col).alias("_b"), F.col(weight_col).alias("_w")
        )
        .groupBy("_b")
        .agg(F.sum("_w").alias("_w"))
    )
    scored = (
        toks.join(w, "_b", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(F.lit(bias) + F.sum(F.coalesce("_w", F.lit(0.0))))
                    )
                ),
                6,
            ).alias("score"),
        )
    )
    # NULL/empty-text docs produce no token rows: join back so every
    # input document appears, scoring the bias alone (same guard as
    # lexicon_score / lm_cross_entropy)
    import math

    base_score = round(1.0 / (1.0 + math.exp(-bias)), 6)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored.hint("merge"), "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("score", F.lit(base_score)).alias("score"),
        )
    )


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token counts under a REAL byte-pair-encoding merge table —
    ``(id, n_words, n_bpe_tokens)`` — the actual quantity a training
    pipeline bills by (context-window packing, per-token pricing),
    where the whitespace/regex counters in ``functions.text`` are
    approximations.

    ``merges`` is the trained model: an ordered pair list exactly as a
    tokenizer's ``merges.txt`` ships (rank = priority).  Application
    is the standard greedy loop — repeatedly merge the
    LOWEST-RANK adjacent pair per word until none applies — which is
    inherently iterative and per-word, so this is the documented
    Python slow path: an Arrow-batched ``mapInPandas`` kernel with the
    (small) model held in the closure, word-level memoization per
    batch (Zipf makes the cache hit rate ~the corpus's repetition
    rate), map-only — no shuffle, executor memory bounded by the Arrow
    batch size.  No SQL twin exists (iterative fixpoint per word) →
    the gate covers it rows-only; unit tests pin known merges.
    """
    from collections.abc import Iterator

    import pandas as pd

    rank = {pair: i for i, pair in enumerate(merges)}
    # keep the caller's id type: an unconditional cast('long') would
    # silently NULL every id on a string-keyed corpus
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_bpe_tokens", T.LongType()),
        ]
    )

    def encode_word(word: str, cache: dict) -> int:
        hit = cache.get(word)
        if hit is not None:
            return hit
        parts = list(word)
        while len(parts) > 1:
            best, best_rank, best_i = None, None, -1
            for i in range(len(parts) - 1):
                r = rank.get((parts[i], parts[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
        cache[word] = len(parts)
        return len(parts)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            ids, nw, nt = [], [], []
            for i, text in zip(pdf["id"], pdf["text"]):
                words = (text or "").lower().split()
                ids.append(i)
                nw.append(len(words))
                nt.append(sum(encode_word(w, cache) for w in words))
            yield pd.DataFrame(
                {"id": ids, "n_words": nw, "n_bpe_tokens": nt}
            )

    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    return base.mapInPandas(kernel, out_schema)


def dup_ngram_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    gram_repr: str = "text",
) -> DataFrame:
    """Per-document duplicated-n-gram profile (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better"
    repeated-substring signal, at word-n-gram granularity):
    ``(id, n_ngrams, n_dup, dup_ratio)`` where a position's n-gram is
    *duplicated* iff that n-gram occurs more than once corpus-wide
    (across documents or repeated within one).  Documents shorter
    than ``n`` tokens yield ``n_ngrams = 0, dup_ratio = 0.0``.

    Plan shape: tokenize → one explode to (gram, id) postings → one
    corpus-wide gram-count aggregate → join back on gram → one
    per-document aggregate.  Two shuffles total, both partial-
    aggregated map-side.

    Scale: ``gram_repr='text'`` shuffles the literal n-gram strings —
    exact and engine-portable (the correctness gate's setting).  At
    100 TB use ``gram_repr='xxhash64'``: grams collapse to 8-byte
    keys before the shuffle (~n× smaller postings), identical
    semantics modulo astronomically-unlikely hash collisions.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if gram_repr not in ("text", "xxhash64"):
        raise ValueError("gram_repr must be 'text' or 'xxhash64'")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(F.trim(F.col(text_col)) == "", F.array().cast("array<string>"))
        .otherwise(toks)
        .alias("_w"),
    )
    # positions 0 .. len-n; slice is 1-indexed
    # guard: F.sequence(0, stop) with stop < 0 builds a DESCENDING
    # sequence, not an empty one — short docs must map to [] explicitly
    positions = F.when(
        F.size("_w") >= n, F.sequence(F.lit(0), F.size("_w") - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "id",
        F.explode(
            F.transform(
                positions,
                lambda i: F.array_join(F.slice("_w", i + 1, n), " "),
            )
        ).alias("gram"),
    )
    if gram_repr == "xxhash64":
        grams = grams.select("id", F.xxhash64("gram").alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_c"))
    profiled = (
        grams.join(counts.hint("merge"), "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(profiled.hint("merge"), "id", "left")
        .select(
            "id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.round(
                F.when(
                    F.coalesce("n_ngrams", F.lit(0)) > 0,
                    F.coalesce("n_dup", F.lit(0))
                    / F.coalesce("n_ngrams", F.lit(1)).cast("double"),
                ).otherwise(0.0),
                6,
            ).alias("dup_ratio"),
        )
    )
    return out


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 100,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` tokens (tokenizer-coverage audit: how much of
    each document a fixed vocabulary can express):
    ``(id, n_tokens, n_oov, oov_rate)``.

    The vocabulary is the ``vocab_size`` most frequent lowercased
    whitespace tokens, ties broken by token string ascending — a total
    order, so the vocab set is deterministic.

    Plan shape: explode → corpus token-count aggregate → top-k via
    one TakeOrderedAndProject-sized window → **broadcast** the tiny
    vocab to an existence join → per-document aggregate.  The
    vocabulary is the only corpus-global state and it is bounded by
    ``vocab_size``, never by corpus size — the 100 TB shape.
    """
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    freq = terms.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    # top-k via TakeOrderedAndProject (per-partition heaps + driver
    # merge of k rows), NOT a global window sort — the distinct-token
    # table is web-vocabulary-sized at 100 TB
    vocab = (
        freq.orderBy(F.col("_c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    scored = (
        terms.join(F.broadcast(vocab), "tok", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored.hint("merge"), "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.round(
                F.when(
                    F.coalesce("n_tokens", F.lit(0)) > 0,
                    F.coalesce("n_oov", F.lit(0))
                    / F.coalesce("n_tokens", F.lit(1)).cast("double"),
                ).otherwise(0.0),
                6,
            ).alias("oov_rate"),
        )
    )


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag of query
    terms: ``(id, n_tokens, n_hits, score)`` where score =
    Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen)) with
    the standard idf = ln(1 + (N − df + 0.5)/(df + 0.5)).

    The retrieval-side twin of tfidf_top_terms: TF-IDF characterizes
    a document, BM25 ranks documents against a query — the scorer
    behind candidate mining for targeted training-data selection
    ("find documents about X to upsample").

    Plan shape: the per-term document frequencies and the corpus
    average length are two scalar-sized aggregates (the query term
    list is a literal, so df fits in ``len(query_terms)`` rows —
    computed distributively, joined back broadcast); per-document
    term counts come from one filtered explode keyed by the query
    terms only (postings for non-query terms never shuffle).  Docs
    with no hits keep score 0.0 — the full corpus returns, ready for
    a top-k tail.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(t.lower() for t in query_terms))
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(F.trim(F.col(text_col)) == "", F.array().cast("array<string>"))
        .otherwise(toks)
        .alias("_w"),
    ).select("id", "_w", F.size("_w").alias("n_tokens"))

    n_and_avg = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("n_tokens").alias("avg_len"),
    )

    hits = base.select(
        "id",
        "n_tokens",
        F.explode(
            F.filter(F.col("_w"), lambda t: t.isin(terms))
        ).alias("term"),
    )
    tf = hits.groupBy("id", "n_tokens", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_and_avg))
        .select(
            "id",
            "term",
            "tf",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("n_tokens") / F.col("avg_len"))
                )
            ).alias("_s"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.round(F.sum("_s"), 6).alias("score"),
        )
    )
    return (
        base.select("id", "n_tokens")
        .join(scored.hint("merge"), "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
    )


def lm_heldout_cross_entropy(
    train_df: DataFrame,
    test_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Held-out bigram-LM evaluation: score ``test_df``'s documents
    under a model trained ONLY on ``train_df`` — the leakage-free
    form of :func:`lm_cross_entropy` (whose model is closed over its
    own input and therefore always in-vocabulary).

    Unseen events back off through the same add-``k`` smoothing:
    ``P(w2|w1) = (C(w1,w2)+k) / (C(w1)+k·V)`` with ``C = 0`` when the
    bigram or the history unigram never occurred in training, and
    ``V`` = the TRAINING vocabulary size — so every test bigram has
    positive probability and the cross-entropy is finite.

    Plan: two train-side count aggregates (the model), then the test
    bigram stream pays one LEFT join per table on the gram key —
    shuffle joins, model tables unbounded, Zipf skew = AQE's case.
    Docs with < 2 tokens score 0.0.
    """
    def _toks(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_toks"),
        )

    tr = _toks(train_df)
    uni = (
        tr.select(F.explode("_toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_cu"))
    )
    vocab_size = uni.count()
    n = F.size("_toks")
    pair = F.zip_with(
        F.slice(F.col("_toks"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("_toks"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bc = (
        tr.select(F.explode(pair).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_cb"))
    )
    te = _toks(test_df)
    bi = te.select("id", F.explode(pair).alias("p")).select(
        "id", "p.w1", "p.w2"
    )
    logp = F.log(
        (F.coalesce("_cb", F.lit(0)) + F.lit(k))
        / (F.coalesce("_cu", F.lit(0)) + F.lit(k * vocab_size))
    )
    scored = (
        bi.join(bc.hint("merge"), ["w1", "w2"], "left")
        .join(uni.hint("merge"), "w1", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(logp), 6).alias("cross_entropy"),
        )
    )
    return (
        te.select("id")
        .join(scored.hint("merge"), "id", "left")
        .select(
            "id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("cross_entropy", F.lit(0.0)).alias("cross_entropy"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    gram_repr: str = "text",
) -> DataFrame:
    """Corpus-wide duplicated-span REMOVAL (the active half of Lee et
    al. "Deduplicating Training Data Makes Language Models Better" —
    ``dup_ngram_profile`` only measures): every token covered by a
    word-``k``-gram that occurs more than once corpus-wide is dropped,
    and the survivors are reassembled in order.  Returns
    ``(id, n_tokens, n_removed, kept_text)`` for every input document
    (short/empty docs pass through untouched).

    Plan shape: tokenize → gram postings explode → corpus gram-count
    aggregate → semi join back → covered-position explode + DISTINCT →
    anti join against the token stream → per-document ordered
    reassembly via ``array_sort(collect_list(struct(pos, word)))`` —
    a per-doc-keyed aggregate, never a corpus-wide window.  Three
    shuffles (gram count, covered-position distinct, doc reassembly),
    all partial-aggregated.

    Scale: like ``dup_ngram_profile``, ``gram_repr='xxhash64'``
    collapses grams to 8-byte keys before the corpus-wide shuffle
    (the 100 TB setting); ``'text'`` keeps literal grams so the SQL
    oracle can replay them.  The duplicated-gram side of the semi
    join is typically a small fraction of the corpus — AQE broadcasts
    it when it fits.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if gram_repr not in ("text", "xxhash64"):
        raise ValueError("gram_repr must be 'text' or 'xxhash64'")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(
            F.coalesce(F.trim(F.col(text_col)), F.lit("")) == "",
            F.array().cast("array<string>"),
        )
        .otherwise(toks)
        .alias("_w"),
    )
    # gram start positions 0 .. len-k (sequence with a negative stop
    # DESCENDS — short docs must map to [] explicitly)
    positions = F.when(
        F.size("_w") >= k, F.sequence(F.lit(0), F.size("_w") - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "id",
        F.posexplode(
            F.transform(
                positions,
                lambda i: F.array_join(F.slice("_w", i + 1, k), " "),
            )
        ).alias("s", "gram"),
    )
    if gram_repr == "xxhash64":
        grams = grams.select("id", "s", F.xxhash64("gram").alias("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("gram")
    )
    covered = (
        grams.join(dup.hint("merge"), "gram")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.lit(k - 1))
            ).alias("p"),
        )
        .distinct()
    )
    tok_stream = base.select(
        "id", F.posexplode("_w").alias("p", "word")
    )
    kept = tok_stream.join(covered.hint("merge"), ["id", "p"], "left_anti")
    reassembled = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("_ktext"),
    )
    return base.join(reassembled.hint("merge"), "id", "left").select(
        "id",
        F.size("_w").cast("bigint").alias("n_tokens"),
        (F.size("_w") - F.coalesce("_n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce("_ktext", F.lit("")).alias("kept_text"),
    )
