"""Corpus-level token statistics for training-data curation: vocabulary
building, Gopher-style repetition signals, and per-document TF-IDF key
terms.

These are the counting passes a 100 TB text pipeline runs between
scrubbing and packing — what tokens exist (vocab / tokenizer training
input), which documents are degenerate repetition (quality filter),
and what each document is about (stratification / retrieval keys).

Reference parity note: the reference engine (gluejob.py, a pandas ETL
script) has no text-analysis surface; these extend the LLM-pipeline
family (SURVEY.md "beyond the reference" scope) alongside
textops/similarity. Not driver-registered — the correctness gate is
pinned at 50 queries (tests/test_inventory.py) — so their DuckDB
differentials live in tests/test_corpusstats.py, mirroring the
scrub/IVF precedents.

Scale shapes (the reason these are groupBy passes, not per-doc HOFs):

- Every aggregation here is a keyed shuffle with map-side partial
  aggregation: the Zipf head ("the" appearing everywhere) combines
  within each partition before it ever crosses the wire.
- Per-document n-gram tallies use explode + groupBy(doc_id, gram)
  rather than an in-row higher-order-function count, which would be
  O(len²) per document — quadratic on a 100k-token document.
- The document-frequency table is vocabulary-sized (megabytes at any
  corpus scale, by Heaps' law), so TF-IDF joins it via broadcast; the
  corpus-sized TF side never re-shuffles for the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textops import words_col


def ngrams_col(ws: Column, n: int) -> Column:
    """Word n-grams of an already-split words array (space-joined),
    as a map-side expression: transform over the first len-n+1 offsets
    + slice + array_join. Empty array when the document has fewer than
    ``n`` words — guarded explicitly because Spark's ``sequence(1, 0)``
    yields a DESCENDING [1, 0] rather than an empty range, and ANSI
    ``slice`` throws on index 0.

    ``ws`` MUST be a projected column (``.select(words_col(...)
    .alias("_ws"))``), not an inline ``split(...)`` expression:
    higher-order-function lambdas are interpreted with no
    common-subexpression elimination, so an inline words expression —
    and everything beneath it, e.g. the PII-redaction regex chain —
    re-evaluates once PER GRAM INDEX, turning a linear pass O(len²)
    (the same trap the round-5 shingle fix removed; measured 63 s →
    8 s on the sf0.1 corpus pipeline)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def token_counts_frame(docs: DataFrame) -> DataFrame:
    """Per-(doc_id, token) occurrence counts — the shared first pass of
    vocab and TF-IDF. One shuffle on (doc_id, token) with map-side
    combine — KEPT DELIBERATELY (r14): the zero-shuffle run-length
    alternative (run-length entries per doc + explode; the construction
    now lives inline in bm25_search_join) was built,
    measured, and REJECTED for this call site — explode + codegen
    hash-agg runs the corpus at whole-stage-codegen speed while the
    HOF chain is interpreted, and the controlled sf10 A/B showed the
    shuffle was never the binding constraint here (vocab 1.56 s
    codegen vs 7.08 s HOF; tfidf 5.86 vs 14.7). The pair shuffle is
    doc-keyed-ish (skew-bounded by document length) and ~0.6× corpus
    token bytes. Contrast bm25_search_join, where the same pair
    stream fed spill-prone downstream decades and the HOF form is
    equal-or-better at the top decade — each call site carries its
    measured justification."""
    return (
        docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )


def vocab_frame(docs: DataFrame, min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: (token, n_docs, n_occurrences), optionally
    thresholded. Second shuffle keys on token and carries one row per
    (doc, distinct token) — already deduplicated by the first pass, so
    ``count(*)`` IS the document frequency with no DISTINCT expansion.
    """
    return (
        token_counts_frame(docs)
        .groupBy("token")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tf").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def repetition_frame(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style repetition signal: per document, the fraction of
    its word n-grams accounted for by the single most frequent n-gram
    (`top_ngram_frac`), plus the distinct/total gram counts. Documents
    shorter than ``n`` words surface with zero counts and a 0.0
    fraction rather than dropping out (explode_outer).

    Plan: explode grams → groupBy(doc_id, gram) tally → groupBy(doc_id)
    max/sum — both shuffles partial-aggregated; per-doc work is linear
    in document length (words projected before the gram lambda — see
    ngrams_col). A ZERO-shuffle per-doc-fold form over
    the run-length construction (now inline in bm25_search_join only)
    was built (r14) and REVERTED: its outputs
    are raw HOF expressions, and FILTER PUSHDOWN substitutes them into
    downstream predicates through every column binding — a caller that
    filters on top_ngram_frac (traindata does) gets the whole upstream
    chain, PII-redaction regexes included, re-inlined INTO the
    array_sort comparator (jstack-confirmed: RegExpReplace inside
    ArraySort inside a generated Predicate; a bench batch sat 27 min
    single-core on 5k docs). The aggregations here are a pushdown-
    proof materialization barrier; the per-doc rows already shuffle
    map-combined and skew-bounded by document length."""
    grams = docs.select(
        "doc_id", words_col(F.col("text")).alias("_ws")
    ).select(
        "doc_id",
        F.explode_outer(ngrams_col(F.col("_ws"), n)).alias("gram"),
    )
    tallies = grams.groupBy("doc_id", "gram").agg(
        F.count("gram").alias("cnt")
    )
    out = tallies.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.count(F.col("gram")).alias("n_distinct_grams"),
        F.max("cnt").alias("top_ngram_count"),
    )
    return out.select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        "n_distinct_grams",
        F.coalesce("top_ngram_count", F.lit(0)).alias("top_ngram_count"),
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("top_ngram_count") / F.col("n_grams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_ngram_frac"),
    )


def tfidf_topk_frame(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF:
    ``tf * (ln((N+1)/(df+1)) + 1)`` — the sklearn-style smooth-idf, so
    a term in every document still scores positively.

    The DF side is vocabulary-sized → broadcast; ranking is one window
    over doc_id on the TF frame. ``row_number`` ordered by
    (rounded score desc, token asc) keeps the cut deterministic and
    engine-portable: rounding to 9 decimals absorbs last-ulp ``ln``
    differences between libm implementations, and equal rounded scores
    fall back to the token ordering."""
    n_docs_total = docs.select("doc_id").distinct().count()
    tf = token_counts_frame(docs)
    df_tbl = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_tbl), "token").select(
        "doc_id",
        "token",
        "tf",
        F.round(
            F.col("tf")
            * (
                F.log((F.lit(n_docs_total) + 1.0) / (F.col("df") + 1.0))
                + F.lit(1.0)
            ),
            9,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "score", "rank")
    )


# DuckDB twins (tests/test_corpusstats.py creates a `documents` view
# over the same parquet). Formulas/rounding mirror the frames exactly;
# duckdb's string_split matches Spark's split(text, ' ') on this
# single-space corpus.

VOCAB_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
), tc AS (
    SELECT doc_id, token, count(*) AS tf
    FROM tok GROUP BY doc_id, token
)
SELECT token, count(*) AS n_docs, sum(tf) AS n_occurrences
FROM tc GROUP BY token
"""

REPETITION_ORACLE = """
WITH ws AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
    SELECT doc_id,
           array_to_string(w[i:i+1], ' ') AS gram
    FROM ws, unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS t(i)
), tallies AS (
    SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram
)
SELECT d.doc_id,
       coalesce(sum(t.cnt), 0) AS n_grams,
       count(t.gram) AS n_distinct_grams,
       coalesce(max(t.cnt), 0) AS top_ngram_count,
       CASE WHEN coalesce(sum(t.cnt), 0) > 0
            THEN round(max(t.cnt) / sum(t.cnt), 6) ELSE 0.0 END
           AS top_ngram_frac
FROM documents d LEFT JOIN tallies t USING (doc_id)
GROUP BY d.doc_id
"""

TFIDF_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
), tc AS (
    SELECT doc_id, token, count(*) AS tf
    FROM tok GROUP BY doc_id, token
), df AS (
    SELECT token, count(*) AS df FROM tc GROUP BY token
), n AS (
    SELECT count(DISTINCT doc_id) AS n FROM documents
), scored AS (
    SELECT tc.doc_id, tc.token, tc.tf,
           round(tc.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 9)
               AS score
    FROM tc JOIN df USING (token) CROSS JOIN n
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC
    ) AS rank
    FROM scored
)
SELECT doc_id, token, tf, score, rank FROM ranked WHERE rank <= {k}
"""


def cap_per_source_frame(
    docs: DataFrame, cap: int, key: str = "source"
) -> DataFrame:
    """Source/domain balancing: keep at most ``cap`` documents per
    ``key`` group, chosen deterministically by md5(doc_id) so the
    sample is stable across partitionings and reruns (the same
    hash-not-rand rule as the train-split assignment). One window
    shuffle on the key; a skewed mega-domain is exactly the case AQE
    skew handling splits, and the emitted rows are bounded by
    cap × n_domains regardless of input skew."""
    w = Window.partitionBy(key).orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


CAP_PER_SOURCE_ORACLE = """
WITH ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC
    ) AS _rn
    FROM documents
)
SELECT doc_id, text, lang, source, n_chars
FROM ranked WHERE _rn <= {cap}
"""


def chunk_documents_frame(
    docs: DataFrame, chunk: int = 64, stride: int = 48
) -> DataFrame:
    """Context-window chunking: split each document's words into
    windows of ``chunk`` tokens starting every ``stride`` tokens
    (overlap = chunk - stride), the stage between curation and
    sequence packing. Emits (doc_id, chunk_idx, n_tokens, chunk_text);
    the trailing chunk is shorter when the document doesn't divide
    evenly. Entirely map-side + one explode — no shuffle at all; at
    100 TB this is a pure scan→write pass whose output row count is
    len/stride per doc."""
    if stride <= 0 or chunk <= 0:
        raise ValueError("chunk and stride must be positive")
    ws = F.col("_ws")  # projected first — see ngrams_col on HOF re-eval
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(ws), F.lit(stride)),
        lambda i: F.array_join(F.slice(ws, i, chunk), " "),
    )
    return (
        docs.select("doc_id", words_col(F.col("text")).alias("_ws"))
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size(F.split("chunk_text", " ")).alias("n_tokens"),
            "chunk_text",
        )
    )


CHUNK_ORACLE = """
WITH ws AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
)
SELECT doc_id,
       (i - 1) // {stride} AS chunk_idx,
       len(w[i:i+{chunk}-1]) AS n_tokens,
       array_to_string(w[i:i+{chunk}-1], ' ') AS chunk_text
FROM ws, unnest(range(1, len(w) + 1, {stride})) AS t(i)
"""


def weighted_sample_frame(
    docs: DataFrame,
    weights: dict[str, float],
    key: str = "source",
    default: float = 0.0,
) -> DataFrame:
    """Mixture sampling for training-data recipes ("keep 80% of
    src3, 10% of src7, drop the rest"): keep a row iff a
    deterministic per-document uniform draw falls under its group's
    weight. The draw is the first 6 hex chars of md5(doc_id) compared
    lexicographically against the weight as a zero-padded hex
    threshold — hex strings order like their values in every engine,
    so the sample is reproducible across partitionings, reruns, AND
    engines with no float parsing (granularity 1/16^6 ≈ 6e-8).
    Map-only: the weights table is config-sized and compiles to a
    literal CASE, nothing shuffles."""
    if not 0.0 <= default <= 1.0 or any(
        not 0.0 <= w <= 1.0 for w in weights.values()
    ):
        raise ValueError("weights must be in [0, 1]")

    def thresh(w: float) -> str:
        return format(min(int(w * 16**6), 16**6 - 1) if w < 1.0 else 16**6 - 1, "06x")

    draw = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6)
    expr = F.lit(thresh(default))
    for src, w in sorted(weights.items()):
        expr = F.when(F.col(key) == src, F.lit(thresh(w))).otherwise(expr)
    keep_all = {s for s, w in weights.items() if w >= 1.0}
    cond = (draw < expr) | F.col(key).isin(*keep_all) if keep_all else draw < expr
    if default >= 1.0:
        cond = cond | ~F.col(key).isin(*weights.keys())
    return docs.filter(cond)


def temperature_weights(
    counts: dict[str, int], alpha: float, total_frac: float
) -> dict[str, float]:
    """Per-source keep rates for temperature-based mixture sampling
    (the multilingual-LM recipe, XLM-R style): target mixture
    q_s ∝ n_s^alpha, expected kept total = total_frac * N, keep rate
    w_s = min(1, total_frac * N * q_s / n_s). alpha < 1 flattens the
    mixture toward rare sources; alpha = 1 is proportional (uniform
    keep rate); rates that cap at 1.0 leave the realized total
    slightly under target (no water-filling loop — document recipes
    want the simple closed form they can audit). Pure python on the
    #sources-sized count table."""
    if not 0.0 < total_frac <= 1.0:
        raise ValueError("total_frac must be in (0, 1]")
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    total = sum(counts.values())
    denom = sum(c**alpha for c in counts.values())
    return {
        s: min(1.0, total_frac * total * (c**alpha / denom) / c)
        for s, c in counts.items()
        if c > 0
    }


def temperature_mixture_frame(
    docs: DataFrame,
    alpha: float = 0.7,
    total_frac: float = 0.5,
    key: str = "source",
) -> DataFrame:
    """Temperature mixture sampling end-to-end: per-source counts
    (one partial-agg shuffle collapsing to #sources rows — the only
    driver-side data is that count table), closed-form keep rates,
    then the deterministic hex-draw filter of weighted_sample_frame
    (map-only, engine-portable, reproducible across partitionings).
    Differential-tested against the DuckDB twin with the SAME
    computed weights in tests/test_docclean.py.

    NULL sources form their own mixture group: the filter runs on an
    internal null-coalesced key column, because a None key would
    crash weighted_sample_frame's sorted() and a raw
    ``col(key) == src`` can never match NULL — which silently dropped
    every null-source doc while still counting it in the mixture
    (round-9 review finding)."""
    sentinel = "\x00null-source\x00"
    keyed = docs.withColumn(
        "_mix_key", F.coalesce(F.col(key).cast("string"), F.lit(sentinel))
    )
    counts = {
        r["_mix_key"]: r["cnt"]
        for r in keyed.groupBy("_mix_key")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    w = temperature_weights(counts, alpha, total_frac)
    return weighted_sample_frame(keyed, w, key="_mix_key", default=0.0).drop(
        "_mix_key"
    )


def weighted_sample_oracle(
    weights: dict[str, float], key: str = "source", default: float = 0.0
) -> str:
    """DuckDB twin of ``weighted_sample_frame`` (documents view)."""

    def thresh(w: float) -> str:
        return format(min(int(w * 16**6), 16**6 - 1) if w < 1.0 else 16**6 - 1, "06x")

    cases = " ".join(
        f"WHEN {key} = '{s}' THEN '{thresh(w)}'"
        for s, w in sorted(weights.items())
    )
    keep_all = sorted(s for s, w in weights.items() if w >= 1.0)
    extra = (
        " OR " + key + " IN (" + ", ".join(f"'{s}'" for s in keep_all) + ")"
        if keep_all
        else ""
    )
    if default >= 1.0:
        listed = ", ".join(f"'{s}'" for s in sorted(weights))
        extra += f" OR {key} NOT IN ({listed})"
    return f"""
SELECT * FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 6)
      < (CASE {cases} ELSE '{thresh(default)}' END){extra}
"""


DUP_SPAN_N = 8  # span n-gram width: long enough that sharing one is
# overwhelmingly real duplication, short enough to catch partial copies


def duplicate_span_report(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """Cross-document duplicate-span signal: per document, the
    fraction of its word ``n``-gram positions whose n-gram also
    appears in ANOTHER document (doc_id, n_spans, n_dup_spans,
    dup_frac). This is the span-level view of duplication that
    pairwise near-dup (MinHash/SimHash) can't give — a document that
    is 30% boilerplate shared with many others scores 0.3 here while
    looking unique pairwise.

    Scale shape: spans travel as 8-byte xxhash64 keys (internal only
    — the test oracle overlaps raw strings; collision odds ~n²/2⁶⁵).
    The span→n_docs table comes from the vocab-style double group
    (per-doc distinct first, so no COUNT(DISTINCT) expansion), and
    the dup-span join is an equi-join on the hash — never an
    all-pairs comparison. Short documents (< n words) surface with
    zero spans and dup_frac 0.0."""
    spans = (
        docs.select("doc_id", words_col(F.col("text")).alias("_ws"))
        .select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    ngrams_col(F.col("_ws"), n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("h"),
        )
        # ONE exchange on the span hash serves every consumer below:
        # the per-doc distinct (groupBy(h, doc_id) — h-partitioning
        # satisfies its clustering), the DF table (groupBy(h) — already
        # partitioned, no shuffle), and the dup join's probe side
        # (equi-join on h) — all read this as a ReusedExchange instead
        # of re-deriving the n-gram explode three times under three
        # different keys.
        .repartition("h")
    )
    per_doc = (
        spans.filter(F.col("h").isNotNull())
        .groupBy("h", "doc_id")
        .agg(F.lit(1))
        .select("h", "doc_id")
    )
    df_tbl = per_doc.groupBy("h").agg(F.count("*").alias("n_docs"))
    dup = df_tbl.filter(F.col("n_docs") >= 2).select("h", "n_docs")
    hit = spans.join(dup, "h", "left")
    out = hit.groupBy("doc_id").agg(
        F.count("h").alias("n_spans"),
        F.count("n_docs").alias("n_dup_spans"),
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.when(
            F.col("n_spans") > 0,
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


DUP_SPAN_ORACLE = """
WITH ws AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), spans AS (
    SELECT doc_id, array_to_string(w[i:i+{n}-1], ' ') AS gram
    FROM ws, unnest(range(1, greatest(len(w) - {n} + 1, 0) + 1)) AS t(i)
), per_doc AS (
    SELECT DISTINCT doc_id, gram FROM spans
), dup AS (
    SELECT gram FROM per_doc GROUP BY gram HAVING count(*) >= 2
)
SELECT d.doc_id,
       count(s.gram) AS n_spans,
       count(CASE WHEN s.gram IN (SELECT gram FROM dup) THEN 1 END)
           AS n_dup_spans,
       CASE WHEN count(s.gram) > 0
            THEN round(count(CASE WHEN s.gram IN (SELECT gram FROM dup)
                                  THEN 1 END) / count(s.gram), 6)
            ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN spans s USING (doc_id)
GROUP BY d.doc_id
"""


IDX_BLOCK = 1000  # doc_ids per dense-index prefix-sum block


def _dense_index(docs: DataFrame) -> DataFrame:
    """(doc_id, _idx): the corpus's doc_ids mapped to a dense [0, n)
    index equal to ``row_number() OVER (ORDER BY doc_id) - 1``, built
    WITHOUT a global-order window (which funnels the whole id set
    through one reducer). Same distributed prefix-sum shape as
    ``seq_pack_frame``: rank within numeric blocks of doc_id space in
    parallel (block order agrees with doc_id order, so block-local
    rank + block offset IS the global rank), then one tiny
    global-order window over the per-block COUNTS (rows = #blocks),
    broadcast back. Duplicate doc_ids are collapsed first so the
    index is dense even on dirty input."""
    ids = (
        docs.select("doc_id")
        .distinct()
        .withColumn("_blk", F.floor(F.col("doc_id") / IDX_BLOCK))
    )
    in_blk = Window.partitionBy("_blk").orderBy("doc_id")
    local = ids.withColumn(
        "_local", F.row_number().over(in_blk).cast("long") - 1
    )
    blk_running = Window.orderBy("_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ids.groupBy("_blk")
        .agg(F.count("*").alias("_blk_n"))
        .withColumn(
            "_blk_before",
            F.coalesce(F.sum("_blk_n").over(blk_running), F.lit(0)),
        )
        .select("_blk", "_blk_before")
    )
    return local.join(F.broadcast(offsets), "_blk", "inner").select(
        "doc_id", (F.col("_blk_before") + F.col("_local")).alias("_idx")
    )


def negative_samples_frame(docs: DataFrame, k: int = 4) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every document, ``k`` pseudo-random other documents chosen by
    md5(anchor:j) mod corpus-size — reproducible across engines, runs,
    and partitionings (the same hash-not-rand rule as the split
    assignment). Returns (anchor_id, neg_rank, neg_id); draws that hit
    the anchor itself are dropped (so a handful of anchors carry k-1
    negatives — documented, deterministic).

    Scale shape: doc_ids are mapped to a dense [0, n) index with the
    distributed prefix sum in ``_dense_index`` (no global-order
    window; the only single-partition exchange carries #blocks rows);
    the draw explode is map-only; resolving draws to documents is ONE
    equi-join on the dense index. The n_docs scalar is a single-row
    count (metadata-sized, like the JDBC bounds probe)."""
    n_docs = docs.select("doc_id").distinct().count()
    idx = _dense_index(docs)
    draws = idx.select(
        F.col("doc_id").alias("anchor_id"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_rank"),
    ).withColumn(
        "_idx",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("anchor_id"), F.col("neg_rank")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_docs,
    )
    return (
        draws.join(idx.withColumnRenamed("doc_id", "neg_id"), "_idx")
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_rank", "neg_id")
    )


NEGATIVE_SAMPLES_ORACLE = """
WITH idx AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS _idx
    FROM documents
), draws AS (
    SELECT d.doc_id AS anchor_id, j AS neg_rank,
           ('0x' || substr(md5(d.doc_id::VARCHAR || ':' || j::VARCHAR),
                           1, 8))::BIGINT
               % (SELECT count(*) FROM documents) AS _idx
    FROM documents d, unnest(range(0, {k})) AS t(j)
)
SELECT anchor_id, neg_rank, i.doc_id AS neg_id
FROM draws JOIN idx i USING (_idx)
WHERE i.doc_id != anchor_id
"""


def corpus_summary(docs: DataFrame) -> DataFrame:
    """One-row dataset card: corpus size, token volume, language and
    source diversity, length distribution, and exact-duplicate rate —
    the numbers a dataset README quotes, computed as ONE Spark job.

    Everything except the dup rate folds into a single aggregate over
    one scan (count distinct on lang/source is dimension-sized); the
    dup rate needs the md5 groupBy the dedup operator already does,
    joined in as a 1-row cross of two scalars. Differential-tested
    against CORPUS_SUMMARY_ORACLE."""
    toks = F.size(F.split(F.col("text"), " "))
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    distinct_texts = docs.agg(
        F.count_distinct(F.md5("text")).alias("n_distinct_texts")
    )
    return base.crossJoin(distinct_texts).withColumn(
        "dup_rate",
        F.round(
            (F.col("n_docs") - F.col("n_distinct_texts"))
            / F.col("n_docs"),
            6,
        ),
    )


CORPUS_SUMMARY_ORACLE = """
SELECT b.*, d.n_distinct_texts,
       round((b.n_docs - d.n_distinct_texts) / b.n_docs, 6) AS dup_rate
FROM (
    SELECT count(*) AS n_docs,
           sum(len(string_split(text, ' '))) AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           min(n_chars) AS min_chars,
           round(avg(n_chars), 2) AS avg_chars,
           max(n_chars) AS max_chars
    FROM documents
) b CROSS JOIN (
    SELECT count(DISTINCT md5(text)) AS n_distinct_texts FROM documents
) d
"""


def unigram_logprob_frame(
    docs: DataFrame, vocab: DataFrame | None = None
) -> DataFrame:
    """CCNet-style language-model quality signal with a unigram model
    standing in for the n-gram LM: per document the mean natural-log
    probability of its tokens under the corpus unigram distribution
    (or a supplied ``vocab`` frame — score web text under a Wikipedia
    vocabulary, exactly the CCNet setup), plus the perplexity
    ``exp(-avg_logprob)``. Low-probability-token documents (gibberish,
    boilerplate symbol soup) surface with high perplexity — the
    standard LM quality filter, fully JVM-side.

    OOV tokens (only possible with an external ``vocab``) get a
    0.5-count Laplace floor, so scores stay finite and deterministic.

    Scale shape: the vocabulary BROADCASTS (Heaps' law keeps it far
    below the corpus); scoring is explode → broadcast-join → one
    partial-aggregated groupBy(doc_id). The total-token count rides
    the same broadcast as a literal column folded into the vocab
    frame, so no second pass over the corpus.

    Differential: UNIGRAM_LOGPROB_ORACLE (tests/test_corpusstats.py);
    logs and the division are double-precision in both engines, and
    avg/ppl are rounded to 6 dp before comparison.
    """
    if vocab is None:
        vocab = vocab_frame(docs)
    total = vocab.agg(
        F.sum("n_occurrences").cast("double").alias("_total")
    )
    probs = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.log(F.col("n_occurrences") / F.col("_total")).alias("_lp"),
        )
    )
    toks = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("token")
    )
    scored = toks.join(F.broadcast(probs), "token", "left")
    # OOV floor needs the total; take it from any joined row — for OOV
    # rows it is null, so fold it in via a 1-row broadcast instead.
    scored = scored.crossJoin(
        F.broadcast(total.select(F.col("_total").alias("_t")))
    ).select(
        "doc_id",
        F.coalesce(F.col("_lp"), F.log(F.lit(0.5) / F.col("_t"))).alias(
            "lp"
        ),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
            F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
        )
    )


UNIGRAM_LOGPROB_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
), vocab AS (
    SELECT token, count(*) AS n_occ FROM tok GROUP BY token
), tot AS (
    SELECT sum(n_occ)::DOUBLE AS total FROM vocab
), lp AS (
    SELECT t.doc_id, ln(v.n_occ / tot.total) AS lp
    FROM tok t JOIN vocab v USING (token) CROSS JOIN tot
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(lp), 6) AS avg_logprob,
       round(exp(-avg(lp)), 6) AS ppl
FROM lp GROUP BY doc_id
"""


BM25_K1 = 1.2
BM25_B = 0.75

# Run-length tf build over the sorted words array (_sws, dl columns),
# as JVM-parsed SQL — see the inline note in bm25_search_join for why
# these exist and the plan-identity test that pins them to the
# original lambda build.
_BM25_STARTS_SQL = (
    "CASE WHEN (dl > 0) THEN "
    "filter(sequence(0, dl - 1), i -> "
    "CASE WHEN (i = 0) THEN true "
    "ELSE NOT (element_at(_sws, i + 1) = element_at(_sws, i)) END) "
    "ELSE CAST(NULL AS ARRAY<INT>) END"
)
_BM25_ENTRIES_SQL = (
    "zip_with(_st, "
    "concat(slice(_st, 2, size(_st) - 1), array(dl)), "
    "(s, e) -> struct(element_at(_sws, s + 1) AS token, "
    "CAST(e - s AS BIGINT) AS tf))"
)


def bm25_topk_frame(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    max_df_frac: float | None = None,
    df_table: DataFrame | None = None,
) -> DataFrame:
    """BM25 retrieval: the top-``k`` documents for a bag of query
    terms — the classic lexical ranking (Robertson-Spärck Jones),
    used in curation for retrieval-based decontamination (find corpus
    documents that RETRIEVE WELL for benchmark questions, a net the
    shingle overlap check can miss) and for building hard negatives
    (high-BM25 non-answers).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·len_d/avglen))
    with the standard smoothed idf = ln(1 + (N-df+0.5)/(df+0.5)).

    One formula, one implementation: this is ``bm25_search_join`` with
    a single synthetic query (the two were asserted equal
    query-for-query before being unified). Rounded to 9 dp with doc_id
    tie-break — deterministic and engine-portable, same discipline as
    TF-IDF. Differential: BM25_ORACLE_TEMPLATE
    (tests/test_corpusstats.py). ``max_df_frac``/``df_table`` pass
    through to the search join (r15 scale knobs — see its docstring).
    """
    # Not local_frame: a LocalRelation would change a measured join plan.
    queries = docs.sparkSession.createDataFrame(
        [(0, " ".join(query_terms))], "query_id long, text string"
    )
    return (
        bm25_search_join(
            docs, queries, k=k, max_df_frac=max_df_frac,
            df_table=df_table,
        )
        .orderBy("rank")
        .select("doc_id", "bm25")
    )


BM25_ORACLE_TEMPLATE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
), lens AS (
    SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), avgdl AS (
    SELECT avg(dl) AS avgdl FROM lens
), n AS (
    SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), tf AS (
    SELECT doc_id, token, count(*) AS tf
    FROM tok WHERE token IN ({terms}) GROUP BY doc_id, token
), dft AS (
    SELECT token, count(*) AS df FROM tf GROUP BY token
)
SELECT doc_id, round(sum(
    ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
    * (tf.tf * (1.2 + 1))
    / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.dl / avgdl.avgdl))
), 9) AS bm25
FROM tf
JOIN dft USING (token)
JOIN lens USING (doc_id)
CROSS JOIN avgdl CROSS JOIN n
GROUP BY doc_id, n.n_docs
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


#: Sizing model for the posting-stream exchange: estimated UNCOMPRESSED
#: in-memory bytes per (doc_id, dl, token, tf, df) shuffle row (UnsafeRow
#: fields + avg token chars + offsets), and the per-partition byte
#: target the sort/agg machinery handles without spilling under
#: default executor memory fractions.
_POSTING_ROW_SHUFFLE_BYTES = 64
_POSTING_PARTITION_TARGET_BYTES = 128 * 1024 * 1024


def _posting_partitions(
    spark, n_docs: int | None, avg_dl: float | None
) -> int | None:
    """Exchange width for the BM25 posting stream, from INDEX-TIME
    stats (r16, driven by the recorded spill bytes — SCALE.md r16):
    ``n_docs x avg_dl`` bounds the restricted stream's rows (distinct
    terms per doc <= words per doc), x estimated row bytes, / the
    per-partition target. None when either stat is unknown (the
    caller keeps the session default width — small corpora and the
    non-index-time paths are unchanged). Floored at the cluster
    parallelism, capped at 32k (Spark's practical partition-count
    ceiling for a single exchange)."""
    if n_docs is None or avg_dl is None:
        return None
    est_bytes = float(n_docs) * float(avg_dl) * _POSTING_ROW_SHUFFLE_BYTES
    want = int(est_bytes // _POSTING_PARTITION_TARGET_BYTES) + 1
    base = spark.sparkContext.defaultParallelism
    return max(base, min(32768, want))


def bm25_search_join(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_df_frac: float | None = None,
    df_table: DataFrame | None = None,
    n_docs: int | None = None,
    avg_dl: float | None = None,
) -> DataFrame:
    """Batch BM25: top-``k`` corpus documents PER QUERY —
    (query_id, doc_id, bm25, rank). ``queries`` is (query_id, text);
    scoring is the same formula as ``bm25_topk_frame``.

    Two r15 scale knobs, motivated by the Zipf-corpus measurement
    (SCALE.md r15): on natural-vocabulary text a 64-query batch's
    2416 distinct terms cover 50.4% of all (doc, token) rows AT EVERY
    SCALE — Zipf head terms appear in nearly every document, so the
    broadcast query-term restriction alone cannot make the corpus
    exchange query-term-sized.

    ``max_df_frac``: common-term pruning — query terms whose document
    frequency exceeds ``max_df_frac * n_docs`` are dropped from
    scoring entirely (the standard IR max-df/stopword cut). This is a
    semantics knob, not a free lunch: a dropped term's idf
    ``ln(1 + (1-f)/f)`` is ~0.1 at f=0.9 but ~2.3 at f=0.1, so
    aggressive cuts reorder common-term-heavy matches; the caller
    picks the precision/cost point. Without ``df_table`` this runs
    TWO corpus passes: pass 1 folds df map-side (its shuffle carries
    ≤ |query terms| rows per partition), pass 2 re-derives the stream
    restricted to the SURVIVING terms — the corpus-sized exchange
    shrinks to the selective-term posting rows.

    ``df_table``: a precomputed (token, df) frame — the search-engine
    dictionary, an INDEX-TIME corpus statistic (build once from the
    same corpus, e.g. ``vocab.select("token", n_docs AS df)``, persist
    beside the lake, refresh with it). With it the query batch is
    ONE corpus pass: the per-term df rides the broadcast restriction
    join, so no df pass, and ``max_df_frac`` prunes before the
    exchange for free. At 100 TB this is the shape that matters — df
    over the corpus is not recomputable per query batch. Contract:
    ``df_table`` must cover the corpus' tokens with the same
    whitespace tokenization (a query term absent from it scores as
    df-unknown and is dropped — it matches no postings in the indexed
    corpus). With ``max_df_frac=None`` and an exact table this path
    is bit-identical to the default plan (pinned by test).

    ``n_docs``/``avg_dl``: the remaining per-batch corpus jobs, made
    index-time too (review r15 — without them even the dictionary
    path paid a guard aggregation and an avg-dl aggregation over the
    corpus per query batch). Both are maintainable in the SAME vocab
    lake the dictionary comes from
    (``streaming.bm25_stats_from_vocab_lake`` returns all three).
    Passing ``n_docs`` also ASSERTS the one-row-per-doc_id
    precondition — the duplicate-key guard scan is skipped, which is
    the point: an indexed corpus is deduped by construction and its
    stats already known. ``avg_dl`` is total tokens / total
    documents — exact-equal to the recomputed mean when every indexed
    document has tokenizable text (NULL-text docs are excluded from
    the recomputed mean but counted by the ledger; don't index
    NULL-text rows if the last ulp matters).

    The curation use is retrieval-based decontamination: run the
    benchmark's questions as queries and flag their top retrievals —
    documents that answer a benchmark question verbatim-ish get
    surfaced even when shingle overlap (the lexical decontamination
    net) misses them. Compose with ``textops.decontaminate``.

    Scale shape (r14): the corpus side carries ZERO corpus-sized
    shuffles. tf and document length are computed PER DOC ROW with
    array higher-order functions (run-length counting over the sorted
    words array — see the inline note), so the exploded (doc, token,
    tf, dl) stream is map-only; the query-term restriction is a
    broadcast semi-join on that stream; df aggregates the restricted
    stream (≤ query-term-vocabulary rows); and the per-term BM25 score
    folds map-side before any query id appears. The only query-fanned
    stage is the final per-(query, doc) sum, map-side combined to
    candidate size; the per-query top-k is one window over those
    candidates. The corpus is never scanned per query — one pass
    scores every query. Precondition (shared with the rest of the
    document operators): ``doc_id`` identifies one document row —
    duplicate doc_id rows would score per ROW under this plan where
    the old shuffle plan merged their occurrences, so the precondition
    is ENFORCED: duplicate doc_id rows raise ``ValueError`` (run exact
    dedup first). The guard is free — the doc count the formula needs
    anyway is computed in the same single aggregation pass.
    """
    if n_docs is not None:
        # index-time stats: the caller asserts the one-row-per-doc_id
        # precondition (see docstring) — no guard scan
        n_docs_total = int(n_docs)
    elif "_sg_bm25_ndocs" in docs.__dict__:
        # r16: the guard's verdict and the doc count are properties of
        # an IMMUTABLE frame — memoized on the object after the first
        # pass (same policy as _util.load/spread: metadata, not
        # results), so repeat query batches over the same corpus frame
        # skip the guard scan. Frames that raised are never marked.
        n_docs_total = docs.__dict__["_sg_bm25_ndocs"]
    else:
        counts = docs.agg(
            F.count(F.lit(1)).alias("rows"),
            # count_distinct skips NULL keys; distinct() treated the
            # NULL group as one document — preserve that for
            # n_docs_total, and note two NULL-doc_id rows ARE
            # duplicate keys under the guard
            (
                F.count_distinct("doc_id")
                + F.max(F.col("doc_id").isNull()).cast("long")
            ).alias("n_docs"),
        ).first()
        n_docs_total = counts["n_docs"] or 0
        if counts["rows"] != n_docs_total:
            raise ValueError(
                f"bm25_search_join: {counts['rows']} corpus rows but "
                f"{n_docs_total} distinct doc_id — duplicate doc_id "
                "rows would score per row, not per document; run exact "
                "dedup (q_exact_dedup_docs / exact_dedup_frame) first"
            )
        docs.__dict__["_sg_bm25_ndocs"] = n_docs_total
    # tf WITHOUT a corpus shuffle. History, because each predecessor
    # died on a decade smoke: (a) r12 joined raw occurrences against
    # broadcast (query, token) pairs and grouped by (query, doc,
    # token) — the shuffle carried a query-batch-sized multiplier,
    # disk-full at sf100; (b) r13 counted tf over the full vocabulary
    # then restricted — 11.55× at decade 3, the shuffle of every
    # distinct (doc, token) pair being the superlinear term; (c) a
    # first r14 cut pushed the query-term semi-join below the tf
    # groupBy — semantically identical, but measured SLOWER at sf10
    # (12.6 → 14-16 s): the testdata vocabulary saturates any query's
    # term set, so the probe pruned nothing and the shuffle stayed.
    # The structural answer: a document's term frequencies are a
    # per-row computation — array_sort the words, take run lengths —
    # so tf, like dl (= size(words)), derives in the SAME projection
    # with no shuffle at all (the fold-consuming twin of this
    # construction was shared by repetition/gopher until their r14
    # revert — see repetition_frame). DELIBERATELY INLINE and UNSHARED
    # rather than through the helper: explode() over the entries
    # EXPRESSION runs at full speed, while explode() over the same
    # expression BOUND to a column via withColumn measured a ~15×
    # per-row cliff (sf0.1 fixedq 2.5 s inline vs 37-47 s through the
    # helper, quiet host, r14 bisect — interpreted-HOF re-evaluation
    # under Generate; see the helper docstring's cliff note).
    # Catalyst HOFs only (no UDF); arrays are bound to columns first
    # (inline arrays re-evaluate per lambda access — the O(len²) trap
    # pinned in textops.shingles_from_words). array_sort is a
    # counting aid, not semantics: run lengths equal the old groupBy
    # counts exactly, and split() never yields NULL elements (NULLs
    # would sort last and break run detection).
    base = docs.select(
        "doc_id", words_col(F.col("text")).alias("_ws")
    ).select(
        "doc_id",
        F.array_sort("_ws").alias("_sws"),
        F.size("_ws").alias("dl"),
    )
    # dl > 0 guard: sequence(0, -1) would COUNT DOWN (two phantom
    # indices), and slice's length arg must be non-negative — CASE
    # branches evaluate lazily per row, so the degenerate rows (NULL
    # text → NULL dl; split never returns an empty array otherwise)
    # fall to the empty branch and explode() drops them, exactly as
    # explode() dropped them from the old occurrence stream.
    #
    # r17 (r16 verdict #5, same move as the SimHash/MinHash builds):
    # the run-start filter and the run-length zip_with are JVM-parsed
    # SQL strings instead of Python-assembled HOF lambdas — the
    # ANALYZED PLAN is identical to the lambda build modulo
    # lambda-variable names (asserted by
    # tests/test_corpusstats.py::test_bm25_runlength_sql_matches_lambda_build,
    # a strictly stronger guarantee than a runtime re-measure: equal
    # trees cannot bind differently, so the r14 explode-binding cliff
    # documented above cannot reappear), while construction drops the
    # per-call py4j round-trips. The explode STAYS inline over the
    # expression — never bound through withColumn — per the cliff
    # note.
    base = base.withColumn("_st", F.expr(_BM25_STARTS_SQL))
    ctf = base.select(
        "doc_id", "dl", F.explode(F.expr(_BM25_ENTRIES_SQL)).alias("_e")
    ).select("doc_id", "dl", F.col("_e.token"), F.col("_e.tf"))
    # An index-time avg_dl arrives as a ONE-ROW FRAME, not a literal
    # (measured, r15 smoke: the literal form ran 1.5× SLOWER at the
    # 5M-doc decade — 154 vs 103 s — because constant-folding the
    # scalar lets the score projection collapse into the map stage's
    # interpreted-HOF region, the same expression-re-inlining family
    # as the r14 explode cliff; the crossJoin of a 1-row broadcast is
    # a materialization barrier that keeps the score post-exchange,
    # and its cost is one broadcast of 8 bytes).
    # Not local_frame: the barrier above was measured on this RDD form.
    avgdl_frame = (
        docs.sparkSession.createDataFrame(
            [(float(avg_dl),)], "avgdl double"
        )
        if avg_dl is not None
        else base.agg(F.avg("dl").alias("avgdl"))
    )
    qtoks = queries.select(
        "query_id", F.explode(words_col(F.col("text"))).alias("token")
    ).distinct()
    qterms = qtoks.select("token").distinct()
    # One deliberate Exchange on the RESTRICTED stream (query-term
    # rows only — small for real decontamination workloads) and the
    # only one the corpus side ever pays: ctf_q has two consumers (df
    # and the score fold), and with a purely map-only lineage each
    # consumer would re-run the whole scan + run-length pass —
    # measured 16 s vs 12.6 s at sf10. A repartition gives Spark an
    # exchange to REUSE, so the heavy pass runs once. doc_id is the
    # partition key on purpose: it is skew-free (unique per doc) and
    # hash(doc_id) satisfies the final per-(query_id, doc_id) sum's
    # clustering, so the scored aggregation adds NO further shuffle —
    # where partitioning by token would put every row of a hot term
    # in one task (the degenerate-vocabulary trap: testdata has 31
    # distinct words, so ANY term set saturates the corpus).
    # Exchange width (r16, from the recorded bytes): the doc_id
    # repartition defaults to the session shuffle width, and the r16
    # smoke's spill columns showed the UNPRUNED dictionary stream
    # disk-spilling 1.4-1.8 GB at 5M docs (65 MB of posting rows per
    # partition under the fixed local width; the pruned variants
    # spilled zero). With index-time stats the posting volume is
    # known BEFORE the query runs — n_docs × avg_dl bounds the
    # restricted stream's rows — so the exchange is sized to it.
    # AQE never coalesces a user repartition, so over-estimating
    # (pruned streams are ~3× smaller) costs only task overhead;
    # under-estimating costs sort spill. Floor at the cluster's
    # parallelism: small corpora keep today's width and plans.
    n_parts = _posting_partitions(docs.sparkSession, n_docs, avg_dl)

    def _by_doc(df: DataFrame) -> DataFrame:
        if n_parts is not None:
            return df.repartition(n_parts, "doc_id")
        return df.repartition("doc_id")

    if df_table is not None:
        # Dictionary path: ONE corpus pass. The dictionary lookup
        # (inner join against broadcast qterms) yields ≤ |query terms|
        # rows, broadcast into the corpus-stream restriction with df
        # attached — no df pass over the corpus at query time.
        qdf = df_table.select("token", "df").join(
            F.broadcast(qterms), "token"
        )
        if max_df_frac is not None:
            qdf = qdf.filter(
                F.col("df") <= F.lit(max_df_frac * n_docs_total)
            )
        with_df = _by_doc(ctf.join(F.broadcast(qdf), "token"))
    elif max_df_frac is None:
        ctf_q = _by_doc(ctf.join(F.broadcast(qterms), "token"))
        # ctf_q is one row per (doc, token): counting rows per token
        # IS df
        df_tbl = ctf_q.groupBy("token").agg(F.count("*").alias("df"))
        with_df = ctf_q.join(F.broadcast(df_tbl), "token")
    else:
        # Pass 1: df over the restricted MAP-ONLY lineage — the
        # groupBy's partial aggregation folds per input split, so its
        # exchange carries at most |query terms| rows per partition
        # (token-keyed, never corpus-sized). No repartition here: this
        # pass has exactly one consumer and its output is tiny.
        df_tbl = (
            ctf.join(F.broadcast(qterms), "token")
            .groupBy("token")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= F.lit(max_df_frac * n_docs_total))
        )
        # Pass 2: re-derive the per-row stream restricted to the
        # SURVIVING selective terms (df rides the broadcast join, so
        # no further df join). The explicit doc_id repartition stays:
        # it is what lets the post-fan-out per-(query, doc) sum reuse
        # hash(doc_id) clustering instead of shuffling the fanned
        # contribution stream.
        with_df = _by_doc(ctf.join(F.broadcast(df_tbl), "token"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs_total) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_scores = (
        with_df.crossJoin(F.broadcast(avgdl_frame))
        .select(
            "doc_id",
            "token",
            (
                idf
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    contrib = term_scores.join(F.broadcast(qtoks), "token").select(
        "query_id", "doc_id", "c"
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("c"), 9).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )
