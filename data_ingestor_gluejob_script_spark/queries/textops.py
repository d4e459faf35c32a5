"""Training-data text operators over the ``documents`` table: exact and
near deduplication, text analysis, fingerprinting, and the scrub
stages — benchmark decontamination and PII redaction (SURVEY.md §2.3
extended set + the LLM-pipeline additions).

Everything here is pure Catalyst expressions — split/transform/
array_distinct/md5/explode — no Python UDFs, so the whole pipeline
stays inside whole-stage codegen and scales linearly with executors.

Hash discipline for cross-engine determinism: all hashing is md5 over
explicit strings (identical hex output in Spark and DuckDB), never
engine-native ``hash()`` (xxhash in DuckDB, Murmur3 in Spark).

Scale notes (100 TB):
- exact dedup shuffles on md5(text) (32-byte keys), not raw documents;
- MinHash-LSH is the scale path for near-dup: candidate generation is
  an equi-join on (band_index, band_hash) — no O(n²) pair enumeration;
- the exact-Jaccard verifier uses an inverted-index join on shingle
  hashes; at scale, drop ultra-high-document-frequency shingles first
  (stop-shingle filter) to bound join fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import load, spread

N_MINHASH = 8  # 8 slots = 2 bands × 4 rows
MINHASH_BANDS = ((0, 1, 2, 3), (4, 5, 6, 7))
JACCARD_THRESHOLD = 0.8
SHINGLE_K = 3
# Stop-shingle cap: shingles appearing in more than this many documents
# are boilerplate and are dropped BEFORE the inverted-index self-join —
# one viral shingle of document frequency d otherwise contributes O(d²)
# join rows, the single quadratic hazard in this module. Jaccard is then
# computed consistently over the filtered shingle universe (sizes too).
# At sf0.1 the cap bites (max DF 25); at 100 TB it is what keeps the
# join linear in corpus size.
MAX_SHINGLE_DF = 20

EN_STOPWORDS = ["the", "a", "of", "and", "to"]
DE_STOPWORDS = ["der", "und", "das", "die", "ein"]
FR_STOPWORDS = ["le", "la", "et", "les", "des"]


def words_col(text: Column) -> Column:
    return F.split(text, " ")


def shingles_from_words(ws: Column) -> Column:
    """Distinct k-word shingles (k=3) from a PRE-PROJECTED words array:
    transform over an index sequence, concat_ws of consecutive words —
    all JVM-side array functions.

    ``ws`` should be a materialized column (``select(split(...).alias)``
    first), not an inline ``split(...)``: higher-order functions break
    whole-stage codegen and run interpreted WITHOUT common-subexpression
    elimination, so an inline split is re-evaluated on every lambda
    element access — three splits per shingle, O(words²) work per
    document. Binding the array first makes each access an O(1) read.

    Docs with fewer than k words yield an EMPTY shingle set: without
    the guard, ``sequence(0, n-k)`` has a negative stop and generates a
    descending index sequence, which under ANSI mode throws
    INVALID_ARRAY_INDEX — and diverges from the oracle's empty list.
    """
    n = F.size(ws)
    idx = F.sequence(F.lit(0), n - F.lit(SHINGLE_K))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", ws[i], ws[i + 1], ws[i + 2])
    )
    return F.when(n >= F.lit(SHINGLE_K), F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_col(text: Column) -> Column:
    """Convenience form over raw text (tests / one-off use). Hot paths
    project ``words_col`` first and call ``shingles_from_words`` — see
    its docstring for why."""
    return shingles_from_words(words_col(text))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w) inverted-index rows, one per distinct shingle, with
    ``w = xxhash64(shingle)`` — the join/shuffle key is 8 bytes instead
    of a ~20-byte 3-word string (fewer shuffle bytes, long-typed sort
    and join comparisons). Internal key only, never compared against
    the oracle: a 64-bit collision merges two shingles with probability
    ~n²/2⁶⁵ — negligible at any corpus this runs on (the module's
    md5-for-oracle-visible-hashes discipline is about output values,
    not internal keys).

    The explicit not-null filters are no-ops data-wise but keep every
    consumer's plan subtree canonically identical, so the self-join's
    inferred ``isnotnull`` constraints don't break exchange reuse."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", words_col(F.col("text")).alias("_ws"))
        .select(
            "doc_id", F.explode(shingles_from_words(F.col("_ws"))).alias("_s")
        )
        .select("doc_id", F.xxhash64("_s").alias("w"))
        .filter(F.col("w").isNotNull() & F.col("doc_id").isNotNull())
    )


def exact_dedup_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on text, keep lowest doc_id. Implemented as a
    min-per-group + semi-join on a 32-byte text digest so the shuffle
    carries digests instead of full documents.

    The digest is the null-SAFE ``row_digest`` (md5 with a NULL
    sentinel), not bare ``md5(text)``: md5(NULL) is NULL and a NULL
    join key matches nothing, so every null-text document would
    silently vanish from the output — while the oracle's
    ``GROUP BY text`` groups NULLs together and keeps one survivor
    (round-9 review finding). The sentinel also keeps NULL distinct
    from the empty string, exactly like GROUP BY."""
    from ..operators.diff import row_digest

    hashed = docs.withColumn("_h", row_digest([text_col]))
    keep = hashed.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
    return hashed.join(keep, ["_h", "doc_id"], "left_semi").drop("_h")


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of ``exact_dedup_frame`` over the documents
    table (same expressions, same plan)."""
    return exact_dedup_frame(load(spark, sf_dir, "documents"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a
    BPE-ish proxy (4 chars ≈ 1 token, ceil)."""
    docs = load(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.size(F.array_distinct(ws)).alias("n_unique_tokens"),
        F.ceil(F.octet_length("text") / F.lit(4)).cast("long").alias("n_bpe_est"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (text analysis surface)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def quality_flags(text: Column, n_chars: Column) -> dict[str, Column]:
    """The four 0/1 quality criteria as named column expressions —
    shared by the scoring query and the composed corpus pipeline.
    Integer/boolean arithmetic only — no float comparisons to diverge
    across engines."""
    ws = words_col(text)
    return {
        "len_ok": n_chars.between(100, 5000).cast("int"),
        "tok_ok": F.size(ws).between(20, 1000).cast("int"),
        "stop_ok": (
            F.size(
                F.array_intersect(
                    F.array_distinct(ws),
                    F.array(*[F.lit(w) for w in EN_STOPWORDS]),
                )
            )
            >= 2
        ).cast("int"),
        "alpha_ok": (F.regexp_replace(text, "[a-z ]", "") == "").cast("int"),
    }


def quality_score_col(text: Column, n_chars: Column) -> Column:
    """0-4 quality score as one expression (sum of the flags)."""
    flags = list(quality_flags(text, n_chars).values())
    total = flags[0]
    for f in flags[1:]:
        total = total + f
    return total


def quality_score_frame(docs: DataFrame) -> DataFrame:
    """Per-doc quality flags + score. Expects (doc_id, text, n_chars)."""
    flags = quality_flags(F.col("text"), F.col("n_chars"))
    return docs.select(
        "doc_id",
        *[c.alias(name) for name, c in flags.items()],
        quality_score_col(F.col("text"), F.col("n_chars")).alias(
            "quality_score"
        ),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of ``quality_score_frame`` over the documents
    table (same expressions, same plan)."""
    return quality_score_frame(load(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-set voting with a deterministic
    argmax (en > de > fr on ties, 'und' when no hits). Set-membership
    (array_intersect) rather than regex, so both engines tokenize
    identically."""
    docs = load(spark, sf_dir, "documents")
    ws = F.array_distinct(words_col(F.col("text")))

    def hits(stopwords: list[str]) -> Column:
        return F.size(F.array_intersect(ws, F.array(*[F.lit(w) for w in stopwords])))

    en, de, fr = hits(EN_STOPWORDS), hits(DE_STOPWORDS), hits(FR_STOPWORDS)
    guess = (
        F.when((en >= de) & (en >= fr) & (en > 0), "en")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return docs.select(
        "doc_id",
        en.alias("en_hits"),
        de.alias("de_hits"),
        fr.alias("fr_hits"),
        guess.alias("lang_guess"),
    )


def simhash16_col(text: Column) -> Column:
    """16-bit SimHash over the distinct-word set, computed entirely
    with higher-order array functions: per word take 16 bits of md5,
    vote ±1 per bit via a zip_with fold, then sign → bit.

    Map-only, and RE-SCOPED r15: at bench scale this fold wins (0.4 vs
    0.67 s at sf0.1 — no shuffle, one narrow stage), but its
    interpreted HOF chain allocates a 16-long array per word and the
    allocation churn turns superlinear on big corpora (measured 85 s
    at 500k natural-vocabulary docs vs 6.9 s for the codegen twin —
    12×). Corpus-scale fingerprinting therefore goes through
    :func:`simhash16_frame` (value-identical, pinned by test); this
    column form remains for narrow per-row use. Integer vote addition
    is commutative, so the fold order doesn't affect the result."""
    words = F.array_distinct(words_col(text))

    def bits(w: Column) -> Column:
        # shiftright takes a Python int shift, so unroll the 16 bit
        # positions here instead of a transform over a position array.
        h = F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long")
        return F.array(
            *[
                F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1
                for j in range(16)
            ]
        )

    votes = F.aggregate(
        words,
        F.array_repeat(F.lit(0).cast("long"), 16),
        lambda acc, w: F.zip_with(acc, bits(w), lambda a, b: a + b),
    )
    # Single reference to `votes` (it's a large fold — don't let it be
    # re-evaluated per bit): zip each vote with its bit weight, then
    # sum the set bits.
    weights = F.array(*[F.lit(2**j).cast("long") for j in range(16)])
    bitvals = F.zip_with(
        votes,
        weights,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bitvals, F.lit(0).cast("long"), lambda a, b: a + b)


def simhash16_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry_cols, simhash16): the SAME fingerprint as
    :func:`simhash16_col`, computed codegen-side — explode the
    distinct-word set, one partial-aggregated groupBy(id) with 16 vote
    sums, sign → bits. Value-identical to the fold (vote addition is
    commutative; NULL text → NULL fingerprint via explode_outer;
    split() never yields an empty array, so every non-null text votes
    at least once).

    Identity contract (advice r15): joining this frame back on
    ``id_col`` silently drops NULL-id rows and merges the votes of
    duplicate-id rows — a semantic change from the map-only fold that
    testdata's unique non-null ids never exposes. Call sites therefore
    either (a) carry their other columns THROUGH the aggregation via
    ``carry_cols`` — zero join, NULL-id rows preserved as their own
    groups, duplicate ids distinct as long as the carried columns
    differ (rows identical on id AND every carry collapse to one) — or
    (b) enforce the non-null unique id precondition explicitly
    (:func:`require_unique_doc_ids`, the bm25 guard's shape). Keep
    ``carry_cols`` narrow (digests, flags): they become part of the
    one shuffle's grouping key, so a wide column here would shuffle
    the corpus body this formulation exists to avoid.

    Why a frame twin exists (r15, measured on the natural-vocabulary
    dup corpus): the fold form's interpreted HOF chain allocates a
    16-long array per WORD (md5 → conv → zip_with), and at 500k
    docs × ~57 distinct words the allocation churn turned the map
    stage superlinear — 102.7 s at zipfdup_sf10 and ~28× per decade,
    vs a codegen explode + hash-agg that stays whole-stage-generated.
    The same explode-vs-HOF call-site split as vocab/tfidf (r14): the
    fold stays for the narrow per-row uses measured fast on it; the
    frame form is for corpus-scale fingerprinting. The DuckDB oracle
    (_SIMHASH_CTE) has always been this formulation."""
    # r16 (guide §1.2 per-task work → driver work counts too): the
    # vote sums and the bit fold are built as SQL STRINGS parsed once
    # in the JVM instead of 16 Python-assembled expression trees —
    # byte-identical Catalyst expressions (pinned by the frame≡fold
    # test), but query CONSTRUCTION drops from ~0.38 s to ~0.04 s of
    # driver time per call (py4j round-trips, paid inside every bench
    # rep and every real job submission). The word hash is projected
    # ONCE as ``_h`` rather than restated inside each of the 16 sums,
    # which also shrinks the analyzed tree 16×.
    # ``_h`` is a reserved internal name (advice r16): a carry column
    # so named would be clobbered by the projection below.
    reserved = {"_w", "_h"}
    if not reserved.isdisjoint({id_col, *carry_cols}):
        raise ValueError(
            "simhash16_frame: '_w'/'_h' are reserved internal names"
        )
    toks = docs.select(
        id_col,
        *carry_cols,
        F.explode_outer(
            F.array_distinct(words_col(F.col(text_col)))
        ).alias("_w"),
    ).withColumn(
        "_h", F.expr("cast(conv(substring(md5(_w), 1, 4), 16, 10) as bigint)")
    )
    votes = toks.groupBy(id_col, *carry_cols).agg(
        *[
            F.expr(f"sum((shiftright(_h, {j}) & 1) * 2 - 1)").alias(f"_v{j}")
            for j in range(16)
        ]
    )
    fp_sql = (
        "CASE WHEN _v0 IS NULL THEN CAST(NULL AS BIGINT) ELSE "
        + " + ".join(
            f"CAST(CASE WHEN _v{j} > 0 THEN {2 ** j} ELSE 0 END AS BIGINT)"
            for j in range(16)
        )
        + " END"
    )
    return votes.select(
        id_col, *carry_cols, F.expr(fp_sql).alias("simhash16")
    )


def require_unique_doc_ids(
    docs: DataFrame, op: str, id_col: str = "doc_id"
) -> None:
    """Enforce the document-operator identity precondition: one row
    per non-null ``id_col``. The bm25 duplicate-key guard's shape
    (corpusstats.bm25_search_join) as a shared entry-point check for
    operators whose id-keyed joins/windows would otherwise silently
    drop NULL-id rows or merge duplicate-id rows (advice r15). One
    column-pruned aggregate pass over the id column only — call it at
    offline entry points, not inside per-query hot paths.

    r16: a frame that PASSED is marked on the DataFrame object and
    re-checks are skipped — a DataFrame is an immutable plan, so the
    precondition cannot start failing later; with ``_util.load``'s
    per-session frame memo this removes the guard's corpus scan from
    every repeat construction over the same table. Frames that raise
    are never marked (a fresh/fixed frame re-verifies)."""
    if id_col in docs.__dict__.get("_sg_unique_ids_ok", ()):
        return
    counts = docs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct(id_col).alias("ids"),
        F.max(F.col(id_col).isNull()).alias("has_null"),
    ).first()
    if counts["has_null"]:
        raise ValueError(
            f"{op}: NULL {id_col} rows present — id-keyed joins and "
            "windows would silently drop them; assign ids first"
        )
    if counts["rows"] != (counts["ids"] or 0):
        raise ValueError(
            f"{op}: {counts['rows']} rows but {counts['ids']} distinct "
            f"{id_col} — duplicate ids would merge votes/fan out "
            "id-keyed joins; run exact dedup or re-key first"
        )
    docs.__dict__["_sg_unique_ids_ok"] = docs.__dict__.get(
        "_sg_unique_ids_ok", ()
    ) + (id_col,)


def simhash64_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash64): 64-bit SimHash over the distinct-word set —
    the corpus-scale twin of :func:`simhash16_frame` (r15 verdict #3).
    The 16-bit space saturates around 10⁵ docs: with only 65k
    fingerprints, every 8-bit band bucket exceeds any sane cap and
    the registered near-miss pair join returns ZERO pairs (SCALE.md
    r15 tail). 64 bits keep band buckets sparse at any realistic
    corpus size; the registered 16-bit queries keep the reference
    semantics, this frame is the scale path.

    Same codegen shape: explode the distinct-word set, ONE
    partial-aggregated groupBy(id) with 64 vote sums, sign → bits.
    The hash bits come from two 32-bit md5 chunks (hex chars 1-8 and
    9-16) because ``conv`` of 16 hex chars overflows a signed long;
    bit j reads chunk j//32 at position j%32. Bit 63 is set via
    ``shiftleft(1L, 63)`` (the sum-of-powers form used for 16 bits
    would overflow), so the fingerprint is a signed long whose BIT
    PATTERN is the 64-bit hash — compare with XOR/bit_count, never
    arithmetically. NULL text → NULL fingerprint."""
    # r16: SQL-string build, same move as simhash16_frame — the 64
    # Python-assembled vote sums plus the 64-deep bitwiseOR fold cost
    # ~1.5 s of py4j driver time PER CONSTRUCTION (measured; ~65% of
    # the benched entry). The JVM parses the same expressions from
    # strings in ~0.1 s; both md5 chunk hashes are projected once.
    # Reserved internal names (advice r16): the projections below
    # would clobber an id column so named.
    if id_col in ("_w", "_hlo", "_hhi"):
        raise ValueError(
            "simhash64_frame: '_w'/'_hlo'/'_hhi' are reserved internal names"
        )
    toks = docs.select(
        id_col,
        F.explode_outer(
            F.array_distinct(words_col(F.col(text_col)))
        ).alias("_w"),
    ).withColumns(
        {
            "_hlo": F.expr(
                "cast(conv(substring(md5(_w), 1, 8), 16, 10) as bigint)"
            ),
            "_hhi": F.expr(
                "cast(conv(substring(md5(_w), 9, 8), 16, 10) as bigint)"
            ),
        }
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum((shiftright({'_hlo' if j < 32 else '_hhi'},"
                f" {j % 32}) & 1) * 2 - 1)"
            ).alias(f"_v{j}")
            for j in range(64)
        ]
    )
    fp_sql = (
        "CASE WHEN _v0 IS NULL THEN CAST(NULL AS BIGINT) ELSE "
        + " | ".join(
            f"(CASE WHEN _v{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), {j})"
            " ELSE CAST(0 AS BIGINT) END)"
            for j in range(64)
        )
        + " END"
    )
    return votes.select(id_col, F.expr(fp_sql).alias("simhash64"))


#: Hot-bucket cap for the 64-bit near-miss band join — same role as
#: MAX_SIMHASH_BUCKET for the 16-bit form, but over IDENTICAL-
#: fingerprint-collapsed representatives: a 16-bit slice bucket this
#: large means >500 DISTINCT fingerprints agree on one slice, a
#: templated-boilerplate pathology whose O(bucket²) pairs are
#: near-worthless; the cap keeps the join linear and is recorded in
#: the docstring contract rather than silently unbounded.
MAX_SIMHASH64_BUCKET = 500


def simhash64_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    assume_unique_ids: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, hamming): near-miss pairs on the 64-bit
    fingerprint, Hamming distance in [1, max_hamming] — the
    corpus-scale closer of the 16-bit saturation gap. Returns pairs
    of IDENTICAL-FINGERPRINT REPRESENTATIVES (min id per
    fingerprint): distance-0 mass is a linear groupBy concern exactly
    as in q_simhash_dedup_groups, and collapsing it FIRST is what
    keeps band buckets (and the output) linear on clone-heavy corpora
    — the MinHash exact-collapse-first playbook.

    Scale shape: pigeonhole band join on ``max_hamming + 1`` disjoint
    bit slices of the fingerprint — the dhash64 image-dedup machinery
    (operators/multimodal.py:phash_bands) reused verbatim on text
    fingerprints; two hashes within ``max_hamming`` bits agree on at
    least one slice, so candidate generation is an equi-join, never
    all-pairs. Per-pair verify is a map-side popcount; band-duplicate
    candidates collapse in a distinct. Buckets over
    MAX_SIMHASH64_BUCKET distinct fingerprints are dropped (recorded
    pathology cap, see the constant).

    Identity contract (review r16): pairs are id-keyed, so a NULL id
    could never appear in any pair (the ``<`` predicate is
    NULL-poisoned) and duplicate-id rows would vote-merge into a
    fingerprint matching neither text — the exact silent failure
    :func:`simhash16_frame`'s contract names. ENFORCED here by
    :func:`require_unique_doc_ids` (one id-column aggregate — cheap
    against the corpus-wide fingerprint pass); a caller that already
    guarantees the precondition (post-dedup pipelines) passes
    ``assume_unique_ids=True`` to skip the scan."""
    from ..operators.multimodal import phash_bands

    if not assume_unique_ids:
        require_unique_doc_ids(docs, "simhash64_neardup_pairs", id_col)
    fp = simhash64_frame(docs, text_col=text_col, id_col=id_col)
    reps = (
        fp.filter(F.col("simhash64").isNotNull())
        .groupBy("simhash64")
        .agg(F.min(id_col).alias(id_col))
        .withColumnRenamed("simhash64", "phash")
    )
    bands = phash_bands(reps, max_hamming, id_col=id_col).repartition(
        "band_idx", "band_val"
    )
    occ = F.count("*").over(Window.partitionBy("band_idx", "band_val"))
    bands = (
        bands.withColumn("_occ", occ)
        .filter(F.col("_occ") <= MAX_SIMHASH64_BUCKET)
        .drop("_occ")
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            "inner",
        )
        .filter(ham <= max_hamming)  # >=1 is structural: ids differ
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized
    lowercased text (content hash), plus a 16-bit SimHash over the
    distinct-word set for similarity-preserving fingerprints.
    r15: the SimHash rides the codegen frame instead of the
    interpreted fold — the fold's per-word array churn measured 12×
    slower at 500k docs (see simhash16_frame); at sf0.1 this form is
    0.67 vs 0.40 s against a 7.44 s baseline. r16 (advice r15): the
    content_md5 is CARRIED through the frame's aggregation rather
    than joined back on doc_id — one shuffle instead of
    shuffle+join, and NULL/duplicate doc_id rows keep the map-only
    fold's multiplicity. The grouping key includes a RAW-text digest
    (review r16): content_md5 hashes the NORMALIZED text while the
    SimHash votes over raw words, so grouping on content_md5 alone
    would vote-merge case/whitespace variants sharing an id into a
    fingerprint matching neither — with the raw digest in the key,
    only rows identical on (doc_id, raw text) — true duplicates —
    collapse, and the output stays value-identical to the fold."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    norm = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    keyed = docs.select(
        "doc_id",
        "text",
        F.md5(norm).alias("content_md5"),
        F.md5(F.coalesce(F.col("text"), F.lit("\x00"))).alias("_raw_md5"),
    )
    return simhash16_frame(
        keyed, carry_cols=("content_md5", "_raw_md5")
    ).select("doc_id", "content_md5", "simhash16")


def minhash_signature_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, s0..s7): MinHash signature over 3-word shingles —
    slot i = 4 hex chars [4i+1, 4i+4] of md5(shingle), minimized over
    the doc's shingle set. Lexicographic min over md5 hex is a valid
    uniform min-hash family and is engine-portable. Docs with fewer
    than SHINGLE_K words are dropped (no shingles, no signature).

    Map-only (array_min over a per-row transform) — the explode →
    8-way min groupBy formulation shuffles every shingle; this
    shuffles nothing. Frame-level entry so the incremental near-dup
    ingest (streaming.run_neardup_ingest) can sign arbitrary incoming
    batches with the exact family the batch LSH queries use."""
    # Emptiness test on the cheap word count, NOT on the shingle array:
    # a filter on the shingle expression gets pushed below an upstream
    # repartition and evaluates the whole shingling single-threaded on
    # the one-partition scan (and then again after the exchange). The
    # words array is projected before shingling so the interpreted
    # lambda binds an attribute, not a per-access re-split
    # (shingles_from_words docstring).
    sh = (
        docs.select("doc_id", words_col(F.col(text_col)).alias("_ws"))
        .filter(F.size(F.col("_ws")) >= SHINGLE_K)
        .select("doc_id", shingles_from_words(F.col("_ws")).alias("sh"))
    )
    # ONE md5 per shingle, split into 8 independent 16-bit chunk
    # hashes (slot i = hex chars [4i+1, 4i+4]) — the one-strong-hash
    # MinHash family. 8× less hashing than md5-per-(slot, shingle),
    # same LSH guarantees. The md5 array is materialized in its own
    # projection so the 8 slot mins reference it, not recompute it.
    hashed = sh.select("doc_id", F.transform(F.col("sh"), F.md5).alias("hs"))
    # slot mins as JVM-parsed expressions (r16): the Python lambda
    # form built 8 transform closures per construction (~0.2 s of
    # py4j); the SQL strings parse to the identical HOF expressions.
    return hashed.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(hs, h -> substring(h, {4 * i + 1}, 4)))"
            ).alias(f"s{i}")
            for i in range(N_MINHASH)
        ],
    )


def bands_from_signature(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) from a signature frame: each band
    is md5 over its slots — 2 rows per doc, map-only."""
    bands = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.md5(F.concat_ws("|", *[F.col(f"s{i}") for i in slots])).alias("band_hash"),
        )
        for bi, slots in enumerate(MINHASH_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("b")).select(
        "doc_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_hash").alias("band_hash"),
    )


# 6 of 8 equal slots. Must be > 0.5: one matched band already implies
# 4 of 8 slots equal, so any tau <= 0.5 would make the signature
# verification vacuous and keep every band collision.
MINHASH_DEDUP_TAU = 0.75


def banded_signature_frame(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash, s0..s7): band rows that CARRY the
    signature slots, so a candidate join can verify estimated Jaccard
    inline instead of joining back to a signature table twice."""
    bands = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.md5(
                F.concat_ws("|", *[F.col(f"s{i}") for i in slots])
            ).alias("band_hash"),
        )
        for bi, slots in enumerate(MINHASH_BANDS)
    ]
    slot_cols = [f"s{i}" for i in range(N_MINHASH)]
    return sig.select(
        "doc_id", *slot_cols, F.explode(F.array(*bands)).alias("b")
    ).select(
        "doc_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_hash").alias("band_hash"),
        *slot_cols,
    )


def est_jaccard_col(left_prefix: str = "", right_prefix: str = "_r_") -> Column:
    """Estimated Jaccard from two carried signatures: fraction of
    equal MinHash slots — the standard unbiased estimator."""
    eq = [
        F.when(
            F.col(f"{left_prefix}s{i}") == F.col(f"{right_prefix}s{i}"), 1
        ).otherwise(0)
        for i in range(N_MINHASH)
    ]
    total = eq[0]
    for e in eq[1:]:
        total = total + e
    return total / F.lit(N_MINHASH)


def minhash_dedup_frame(
    docs: DataFrame,
    tau: float = MINHASH_DEDUP_TAU,
    text_col: str = "text",
) -> DataFrame:
    """MinHash near-duplicate REMOVAL (the batch twin of
    streaming.run_neardup_ingest): exact dedup first (min doc_id per
    md5), then a document is dropped iff some SMALLER-id survivor
    shares a band and the signatures' estimated Jaccard meets ``tau``.

    The drop rule references the smaller-id doc whether or not that
    doc is itself retained ("min-id-wins over raw candidates", not
    greedy-retained chains) — deliberately: it is order-deterministic,
    batching-invariant (the streaming twin produces the identical
    corpus when batches arrive in doc_id order — pinned by
    tests/test_neardup_ingest.py), and free of the sequential
    dependency a greedy-retained rule would impose on a distributed
    plan.

    Scale shape: the exact collapse comes FIRST, so clone pileups
    never reach the band join (the same ordering that makes
    semantic_dedup_frame linear in clones); the band self-join is the
    O(n²)-free candidate path; signatures ride ON the band rows, so
    verification is inline arithmetic, not a join back; the final
    anti-join carries only the dropped-id list."""
    survivors = exact_dedup_frame(docs, text_col)
    sig = minhash_signature_frame(survivors, text_col)
    bands = banded_signature_frame(sig).repartition("band_idx", "band_hash")
    right = bands.select(
        F.col("doc_id").alias("_r_doc_id"),
        "band_idx",
        "band_hash",
        *[F.col(f"s{i}").alias(f"_r_s{i}") for i in range(N_MINHASH)],
    )
    dropped = (
        bands.join(right, ["band_idx", "band_hash"])
        .filter(F.col("_r_doc_id") < F.col("doc_id"))
        .filter(est_jaccard_col() >= F.lit(tau))
        .select("doc_id")
        .distinct()
    )
    return survivors.join(dropped, "doc_id", "left_anti")


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, band_hash) for the testdata corpus —
    signature + banding composed, pre-partitioned for the candidate
    self-join.

    The explicit exchange on the join keys matters: the map-only
    signature derivation has no shuffle of its own, so without it the
    candidate self-join would recompute the whole derivation on both
    sides; with it, both sides read one ReusedExchange and arrive
    pre-partitioned for the join."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    return bands_from_signature(minhash_signature_frame(docs)).repartition(
        "band_idx", "band_hash"
    )


MAX_MINHASH_BUCKET = 200


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates: pairs sharing ≥1 of 2
    bands (4 rows each). Candidate generation is an equi-join on
    (band_idx, band_hash) — the O(n²)-free scale path.

    Hot-bucket hygiene (same as the SimHash pair join): a band bucket
    larger than MAX_MINHASH_BUCKET is an exact/near-clone pileup whose
    pairs are exact-dedup's job; dropping it bounds the join to
    O(cap · corpus) instead of O(max-cluster²). No bucket reaches the
    cap on the testdata, so results are unchanged — the guard exists
    for the clone-heavy corpora where it is the difference between a
    linear and a quadratic job."""
    bands0 = _minhash_bands(spark, sf_dir)
    occ = F.count("*").over(Window.partitionBy("band_idx", "band_hash"))
    bands = bands0.withColumn("_occ", occ).filter(
        F.col("_occ") <= MAX_MINHASH_BUCKET
    ).drop("_occ")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
            "inner",
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (≥ 0.8) via inverted-index
    join on shingle: |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|.
    No crossJoin anywhere; stop-shingles (document frequency >
    MAX_SHINGLE_DF) are dropped before the self-join so fan-out is
    bounded by the cap, not by the most viral shingle."""
    # ONE explicit exchange on the join key, placed BELOW the DF
    # window: every consumer (both self-join sides and the size
    # branches) reads this ReusedExchange, so the shingle derivation
    # runs once and the full index crosses the wire once. The window +
    # filter re-run per consumer, but that is a sort-and-count of
    # 8-byte keys over an already-shuffled stage input — measurably
    # cheaper than a second full-index exchange above the filter
    # (and 2× cheaper than the derivation they replace running 4×).
    all_toks = _doc_shingles(spark, sf_dir).repartition("w")
    # Document frequency via a window on the same key the self-join
    # shuffles on — not a broadcast join against the rare-shingle set,
    # which is O(distinct shingles) and NOT broadcast-able at scale.
    df_w = F.count("*").over(Window.partitionBy("w"))
    toks = (
        all_toks.withColumn("_df", df_w)
        .filter(F.col("_df") <= MAX_SHINGLE_DF)
        .drop("_df")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = toks.alias("a")
    b = toks.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
            "inner",
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


SIMHASH_HAMMING_MAX = 3
# Hot-bucket cap for the near-miss pair join: a band bucket larger
# than this is dominated by identical-fingerprint clones, which the
# LINEAR grouping operator (q_simhash_dedup_groups) already handles —
# enumerating their pairs would be O(bucket²) for information the
# group representative carries in O(bucket).
MAX_SIMHASH_BUCKET = 100


def q_simhash_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash exact-fingerprint clustering: every document mapped to
    the minimum doc_id sharing its 16-bit fingerprint. LINEAR in the
    corpus (one shuffle on the fingerprint) no matter how concentrated
    the fingerprint distribution — on this templated corpus one
    fingerprint covers ~10% of all docs, so any pairwise formulation
    of the same information is inherently quadratic."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    fp = simhash16_frame(docs)  # codegen form — see its docstring
    rep = F.min("doc_id").over(Window.partitionBy("simhash16"))
    return fp.select("doc_id", "simhash16", rep.alias("rep_doc_id"))


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-MISS pairs: Hamming distance in [1, 3] — distance
    0 (identical fingerprints) is deliberately excluded; that mass is
    the linear q_simhash_dedup_groups' job, and including it makes the
    output itself quadratic on clone-heavy corpora.

    Candidates share one 8-bit half of the fingerprint (pigeonhole:
    d ≤ 1 per half guarantees a shared band; wider distances trade
    recall — the standard banding compromise). Buckets larger than
    MAX_SIMHASH_BUCKET are dropped before the self-join: they are
    identical-fingerprint pileups whose pairs are d=0, not near-misses.
    The verify is a per-pair popcount, map-side."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    fp = simhash16_frame(docs).withColumnRenamed("simhash16", "sh16")
    lo = (F.col("sh16") % 256).cast("int")
    hi = (F.col("sh16") / 256).cast("int")
    banded = fp.select(
        "doc_id",
        "sh16",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_idx"), lo.alias("band_bits")),
                F.struct(F.lit(1).alias("band_idx"), hi.alias("band_bits")),
            )
        ).alias("b"),
    ).select(
        "doc_id", "sh16", F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_bits").alias("band_bits"),
    ).repartition("band_idx", "band_bits")
    occ = F.count("*").over(Window.partitionBy("band_idx", "band_bits"))
    banded = banded.withColumn("_occ", occ).filter(
        F.col("_occ") <= MAX_SIMHASH_BUCKET
    ).drop("_occ")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a.sh16").bitwiseXOR(F.col("b.sh16")).cast("long")
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
            "inner",
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming").between(1, SIMHASH_HAMMING_MAX))
        .distinct()
    )


def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column plumbing made observable: treat text bytes as
    an opaque payload and compute typed metadata (byte length, content
    hash, 256-byte chunk count). The decode/feature-extract stage for
    real image/audio payloads lives in operators/multimodal.py."""
    docs = load(spark, sf_dir, "documents")
    n_bytes = F.octet_length("text")
    return docs.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        F.ceil(n_bytes / F.lit(256)).cast("long").alias("n_chunks"),
    )


CONTAMINATION_THRESHOLD = 0.1


def contamination_report(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination report: per-document 3-gram shingle
    overlap with a benchmark corpus — the training-data stage that
    keeps eval sets out of the training mix. Returns
    (doc_id, n_shingles, n_overlap, overlap_ratio, contaminated).

    Scale shape: the benchmark side is small relative to the corpus
    (eval suites, not web crawls), so its DISTINCT shingle-hash set
    broadcasts; the corpus side is a map (shingle + hash) plus ONE
    groupBy(doc_id) shuffle carrying 8-byte hashes. ``explode_outer``
    keeps shingle-less (<3-word) documents in the report as trivially
    clean rows instead of silently dropping them. Hashes are internal
    join keys only (collision odds ~n²/2⁶⁵), never oracle-compared —
    the test oracle overlaps raw shingle strings.

    Not driver-registered (gate pinned at 50); differential-tested
    against CONTAMINATION_ORACLE in tests/test_scrub.py."""
    d = docs.select("doc_id", words_col(F.col("text")).alias("_ws")).select(
        "doc_id",
        F.explode_outer(
            F.transform(
                shingles_from_words(F.col("_ws")), lambda s: F.xxhash64(s)
            )
        ).alias("h"),
    )
    bench = (
        benchmark.select(words_col(F.col("text")).alias("_ws"))
        .select(
            F.explode(
                F.transform(
                    shingles_from_words(F.col("_ws")), lambda s: F.xxhash64(s)
                )
            ).alias("h")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = d.join(F.broadcast(bench), "h", "left")
    out = joined.groupBy("doc_id").agg(
        F.count("h").alias("n_shingles"),
        F.count("_hit").alias("n_overlap"),
    )
    ratio = F.when(
        F.col("n_shingles") > 0,
        F.round(F.col("n_overlap") / F.col("n_shingles"), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        ratio.alias("overlap_ratio"),
        (ratio >= CONTAMINATION_THRESHOLD).alias("contaminated"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """The removal counterpart of ``contamination_report``: the corpus
    minus documents whose benchmark shingle overlap meets
    CONTAMINATION_THRESHOLD. Same broadcast + one-keyed-shuffle plan as
    the report plus a semi-join of the (small) clean-id set back onto
    the corpus — composes ahead of dedup/packing in a training
    pipeline."""
    clean_ids = (
        contamination_report(docs, benchmark)
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    return docs.join(clean_ids, "doc_id", "left_semi")


# PII patterns deliberately restricted to syntax RE2 (DuckDB) and Java
# (Spark) regex dialects treat identically: character classes, bounded
# repetition, \d, \b — no backreferences, no lookaround.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b", "[PHONE]"),
)


def redacted_text_col(text: Column) -> Column:
    """The PII_PATTERNS replacement chain as one expression — shared
    by the audit query and the composed corpus pipeline."""
    red = text
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return red


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub pass: emails, IPv4 addresses, and phone-shaped number
    runs replaced by typed placeholders, with per-category match counts
    (counted BEFORE replacement) for audit. Map-only — pure Catalyst
    regexp expressions, one narrow stage, no shuffle.

    Patterns apply in PII_PATTERNS order (email first: an address can
    contain digit runs a later pattern would otherwise mangle).
    Idempotent: placeholders match none of the patterns.

    Not driver-registered; differential-tested against REDACT_ORACLE
    in tests/test_scrub.py."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return docs.select(
        "doc_id",
        *counts,
        redacted_text_col(F.col(text_col)).alias(f"{text_col}_redacted"),
    )


QUERIES = {
    "q_exact_dedup_docs": q_exact_dedup_docs,
    "q_token_count": q_token_count,
    "q_text_stats": q_text_stats,
    "q_quality_score": q_quality_score,
    "q_lang_id": q_lang_id,
    "q_doc_fingerprint": q_doc_fingerprint,
    "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "q_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "q_simhash_dedup_groups": q_simhash_dedup_groups,
    "q_simhash_neardup_pairs": q_simhash_neardup_pairs,
}

# q_binary_meta stays implemented + differentially tested (tests/
# test_inventory.py::test_binary_meta_differential) but is NOT registered
# with the driver: its surface (byte length / md5 / chunk count over
# text-as-binary) is a strict subset of q_media_metadata + q_media_chunks
# over real binary payloads, and the driver's correctness gate records at
# most 50 queries per run — the 51st registered entry is silently dropped
# (observed in CORRECTNESS_r02/r03: exactly 50 rows in dict-insertion
# order, the last entry missing both rounds). Keeping the inventory at 50
# guarantees every registered query gets a driver row.

# Shared SimHash CTE (explode + 16-way bit vote + sign) — the oracle
# twin of simhash16_col's map-only fold.
_SIMHASH_CTE = """toks AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents),
        bits AS (
            SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT) AS h
            FROM toks),
        votes AS (
            SELECT doc_id,
                   {votes}
            FROM bits GROUP BY doc_id),
        sim AS (
            SELECT doc_id, {simhash} AS simhash16 FROM votes)""".format(
    votes=", ".join(f"sum(((h >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(16)),
    simhash=" + ".join(
        f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16)
    ),
)

_EN = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
_DE = ", ".join(f"'{w}'" for w in DE_STOPWORDS)
_FR = ", ".join(f"'{w}'" for w in FR_STOPWORDS)

_SHINGLES_CTE = """
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 for i in range(1, len(ws) - 1)]) AS shingles
           FROM words),
    toks AS (SELECT doc_id, unnest(shingles) AS w FROM sh)
"""

_SIG_SLOTS = ", ".join(
    f"min(substr(md5(w), {4 * i + 1}, 4)) AS s{i}" for i in range(N_MINHASH)
)
_BAND1 = " || '|' || ".join(f"s{i}" for i in MINHASH_BANDS[0])
_BAND2 = " || '|' || ".join(f"s{i}" for i in MINHASH_BANDS[1])

ORACLES = {
    "q_exact_dedup_docs": """
        SELECT * FROM documents
        WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
    """,
    "q_token_count": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
               CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS n_bpe_est
        FROM documents
    """,
    "q_text_stats": """
        SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY lang
    """,
    "q_quality_score": f"""
        SELECT doc_id,
               CAST(n_chars BETWEEN 100 AND 5000 AS INTEGER) AS len_ok,
               CAST(len(string_split(text, ' ')) BETWEEN 20 AND 1000 AS INTEGER) AS tok_ok,
               CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                       [{_EN}])) >= 2 AS INTEGER) AS stop_ok,
               CAST(regexp_replace(text, '[a-z ]', '', 'g') = '' AS INTEGER) AS alpha_ok,
               CAST(n_chars BETWEEN 100 AND 5000 AS INTEGER)
             + CAST(len(string_split(text, ' ')) BETWEEN 20 AND 1000 AS INTEGER)
             + CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                       [{_EN}])) >= 2 AS INTEGER)
             + CAST(regexp_replace(text, '[a-z ]', '', 'g') = '' AS INTEGER)
               AS quality_score
        FROM documents
    """,
    "q_lang_id": f"""
        WITH scored AS (
            SELECT doc_id,
                   len(list_intersect(list_distinct(string_split(text, ' ')),
                                      [{_EN}])) AS en_hits,
                   len(list_intersect(list_distinct(string_split(text, ' ')),
                                      [{_DE}])) AS de_hits,
                   len(list_intersect(list_distinct(string_split(text, ' ')),
                                      [{_FR}])) AS fr_hits
            FROM documents)
        SELECT doc_id, en_hits, de_hits, fr_hits,
               CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0
                    THEN 'en'
                    WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                    WHEN fr_hits > 0 THEN 'fr'
                    ELSE 'und' END AS lang_guess
        FROM scored
    """,
    "q_doc_fingerprint": f"""
        WITH {{simhash_cte}}
        SELECT d.doc_id,
               md5(lower(regexp_replace(d.text, '\\s+', ' ', 'g'))) AS content_md5,
               sim.simhash16
        FROM documents d JOIN sim ON d.doc_id = sim.doc_id
    """,
    "q_simhash_dedup_groups": """
        WITH {simhash_cte}
        SELECT doc_id, simhash16,
               min(doc_id) OVER (PARTITION BY simhash16) AS rep_doc_id
        FROM sim
    """,
    "q_simhash_neardup_pairs": f"""
        WITH {{simhash_cte}},
        banded0 AS (
            SELECT doc_id, simhash16, 0 AS band_idx,
                   simhash16 % 256 AS band_bits FROM sim
            UNION ALL
            SELECT doc_id, simhash16, 1 AS band_idx,
                   simhash16 // 256 AS band_bits FROM sim),
        banded AS (
            SELECT * FROM (
                SELECT *, count(*) OVER
                    (PARTITION BY band_idx, band_bits) AS occ
                FROM banded0)
            WHERE occ <= {MAX_SIMHASH_BUCKET})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash16, b.simhash16)) AS hamming
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash16, b.simhash16))
              BETWEEN 1 AND {SIMHASH_HAMMING_MAX}
    """,
    "q_minhash_lsh_pairs": f"""
        WITH {_SHINGLES_CTE},
        sig AS (SELECT doc_id, {_SIG_SLOTS} FROM toks GROUP BY doc_id),
        bands0 AS (SELECT doc_id, md5({_BAND1}) AS b1, md5({_BAND2}) AS b2 FROM sig),
        occ1 AS (SELECT b1, count(*) AS c FROM bands0 GROUP BY b1),
        occ2 AS (SELECT b2, count(*) AS c FROM bands0 GROUP BY b2),
        bands AS (
            SELECT d.doc_id,
                   CASE WHEN o1.c <= {MAX_MINHASH_BUCKET} THEN d.b1 END AS b1,
                   CASE WHEN o2.c <= {MAX_MINHASH_BUCKET} THEN d.b2 END AS b2
            FROM bands0 d
            JOIN occ1 o1 ON d.b1 = o1.b1
            JOIN occ2 o2 ON d.b2 = o2.b2)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.doc_id < b.doc_id
         AND ((a.b1 IS NOT NULL AND a.b1 = b.b1)
           OR (a.b2 IS NOT NULL AND a.b2 = b.b2))
    """,
    "q_ngram_jaccard_pairs": f"""
        WITH {_SHINGLES_CTE},
        ftoks AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS df
                FROM toks)
            WHERE df <= {MAX_SHINGLE_DF}),
        sz AS (SELECT doc_id, count(*) AS n FROM ftoks GROUP BY doc_id),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
            FROM ftoks a JOIN ftoks b ON a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(s / (x.n + y.n - s), 6) AS jaccard
        FROM shared
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE s / (x.n + y.n - s) >= {JACCARD_THRESHOLD}
    """,
}

# Oracle twin for the unregistered q_binary_meta — exercised by
# tests/test_inventory.py::test_binary_meta_differential, not the driver
# gate (see the QUERIES note above).
BINARY_META_ORACLE = """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks
    FROM documents
"""

# Oracle twin for contamination_report (unregistered; tests/
# test_scrub.py). Expects views `documents` (the corpus) and
# `benchmark` (the eval set), both (doc_id, text). Overlaps RAW shingle
# strings — the Spark side's xxhash64 keys are internal-only.
CONTAMINATION_ORACLE = f"""
    WITH dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    dsh AS (SELECT doc_id,
                   list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                  for i in range(1, len(ws) - 1)]) AS sh
            FROM dw),
    bw AS (SELECT string_split(text, ' ') AS ws FROM benchmark),
    bsh AS (SELECT DISTINCT
                   unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           for i in range(1, len(ws) - 1)]) AS w
            FROM bw),
    blist AS (SELECT list(w) AS bl FROM bsh),
    agg AS (
        -- COALESCE: an EMPTY benchmark aggregates to a NULL list,
        -- and len(list_intersect(sh, NULL)) is NULL where the Spark
        -- side counts 0 joined hits.
        SELECT doc_id, len(sh) AS n_shingles,
               COALESCE(len(list_intersect(sh, bl)), 0) AS n_overlap
        FROM dsh CROSS JOIN blist)
    SELECT doc_id, n_shingles, n_overlap,
           CASE WHEN n_shingles > 0
                THEN round(n_overlap / n_shingles, 6) ELSE 0.0
           END AS overlap_ratio,
           (CASE WHEN n_shingles > 0
                 THEN round(n_overlap / n_shingles, 6) ELSE 0.0
            END) >= {CONTAMINATION_THRESHOLD} AS contaminated
    FROM agg
"""

# Oracle twin for redact_pii (unregistered; tests/test_scrub.py) —
# built from the same PII_PATTERNS tuples so the two sides cannot
# drift. Counts are taken before replacement, replacements apply in
# tuple order, exactly like the Spark expressions.
_REDACTED_SQL = "text"
for _name, _pat, _repl in PII_PATTERNS:
    _REDACTED_SQL = f"regexp_replace({_REDACTED_SQL}, '{_pat}', '{_repl}', 'g')"
REDACT_ORACLE = (
    "SELECT doc_id, "
    + ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    + f", {_REDACTED_SQL} AS text_redacted FROM documents"
)


for _n in ("q_doc_fingerprint", "q_simhash_dedup_groups", "q_simhash_neardup_pairs"):
    ORACLES[_n] = ORACLES[_n].format(simhash_cte=_SIMHASH_CTE)
