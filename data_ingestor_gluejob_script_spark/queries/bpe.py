"""Byte-pair-encoding tokenization — the real subword tokenizer a
training pipeline runs between curation and packing (Sennrich et al.
2016; the GPT-2 rank-merge formulation for encoding).

Spec (deterministic, engine-independent — the pytest oracle re-derives
it in pure python):

- Pre-tokenization: split text on single spaces (the package-wide
  whitespace convention), drop empty words. NULL text → zero tokens.
- Training: words → character symbol sequences; repeatedly merge the
  adjacent symbol pair with the highest corpus count (frequency =
  word frequency, counted over the deduplicated word table), ties
  broken by lexicographically smallest pair. Stops after ``n_merges``
  merges or when no pair reaches ``min_pair_count``. No end-of-word
  marker: words are pre-split, so boundaries are already explicit.
- Encoding: per word, repeatedly merge the present pair with the
  LOWEST merge rank until none applies (ranks are unique, so this is
  deterministic).

Scale shape:

- The corpus-scale work — word frequency aggregation, encoding — is
  distributed. Word counting is one partial-aggregated shuffle whose
  output is the Heaps-law-bounded vocabulary.
- Merge LEARNING runs driver-side on that frequency table, like the
  IVF codebook and the PCA Gram matrix: the model is metadata-sized
  (a web-scale crawl's distinct-word table is ~10^8 rows vs 10^12
  corpus tokens) and the trainer's pair-count updates are inherently
  sequential across merges. ``max_words`` caps driver memory by
  frequency truncation (the standard practice: rare words contribute
  negligibly to pair counts, and the encoder handles them anyway —
  unseen words simply segment further).
- Encoding is Arrow-batched ``mapInPandas`` with the rank table in a
  broadcast and a per-batch distinct-word memo — each distinct word
  in a batch is encoded ONCE regardless of its frequency (Zipf makes
  this the dominant saving); no per-row Python beyond the batch body.
- The merge table round-trips through parquet (``save_merges`` /
  ``load_merges``), so a tokenizer trained elsewhere (or by a
  previous run) drops in as a model artifact — the same swap seam as
  the classifier weight table.

The reference has no tokenizer (gluejob.py is ingestion-only); this
extends the engine for the LLM-pipeline contract. Not
driver-registered (inventory pinned at 50); differential-tested in
tests/test_bpe.py, benched as ``x_bpe_encode``.
"""

from __future__ import annotations

import logging
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from ._util import load, spread

log = logging.getLogger(__name__)

# The merge-table model artifact's schema — single source for both
# trainers, save_merges/load_merges, and every consumer.
_MERGES_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.LongType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
    ]
)


def _merges_frame(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """Ordered [(left, right), ...] → the (rank, left, right) frame."""
    return local_frame(
        spark, [(i, a, b) for i, (a, b) in enumerate(merges)], _MERGES_SCHEMA
    )


# ---------------------------------------------------------------- train


def _merge_word(sym: tuple, pair: tuple) -> tuple:
    """One left-to-right greedy merge pass of ``pair`` over a symbol
    sequence ('aaa' + (a,a) → (aa, a), like subword-nmt/GPT-2)."""
    a, b = pair
    out = []
    i = 0
    n = len(sym)
    while i < n:
        if i < n - 1 and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _pairs_of(sym: tuple) -> Iterable[tuple]:
    return zip(sym, sym[1:])


def _train_merges(
    word_freqs: dict[str, int], n_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """Driver-side BPE trainer over a word-frequency dict, with
    incremental pair-count maintenance (only words containing the
    merged pair are re-examined per step — the subword-nmt update)."""
    syms = {w: tuple(w) for w in word_freqs}
    pair_counts: dict[tuple, int] = {}
    where: dict[tuple, set] = {}
    for w, f in word_freqs.items():
        for p in _pairs_of(syms[w]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            where.setdefault(p, set()).add(w)
    merges: list[tuple[str, str]] = []
    floor = max(min_pair_count, 1)
    for _ in range(n_merges):
        if not pair_counts:
            break
        best_count = max(pair_counts.values())
        if best_count < floor:
            break
        best = min(
            p for p, c in pair_counts.items() if c == best_count
        )
        merges.append(best)
        for w in list(where.get(best, ())):
            f = word_freqs[w]
            old = syms[w]
            # a pair can occur several times in one word ("aaaa" holds
            # (a,a) three times) — aggregate multiplicities first so
            # the subtract runs once per distinct pair
            old_pairs: dict[tuple, int] = {}
            for p in _pairs_of(old):
                old_pairs[p] = old_pairs.get(p, 0) + 1
            for p, m in old_pairs.items():
                c = pair_counts[p] - f * m
                if c > 0:
                    pair_counts[p] = c
                else:
                    del pair_counts[p]
                s = where[p]
                s.discard(w)
                if not s:
                    del where[p]
            new = _merge_word(old, best)
            syms[w] = new
            new_pairs: dict[tuple, int] = {}
            for p in _pairs_of(new):
                new_pairs[p] = new_pairs.get(p, 0) + 1
            for p, m in new_pairs.items():
                pair_counts[p] = pair_counts.get(p, 0) + f * m
                where.setdefault(p, set()).add(w)
    return merges


def word_freq_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over the corpus — one partial-aggregated shuffle,
    output Heaps-bounded. Empty words (adjacent spaces, empty/NULL
    text) are dropped per the module spec."""
    return (
        docs.select(
            F.explode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    max_words: int | None = 1 << 20,
) -> DataFrame:
    """Learn a BPE merge table from the corpus. Returns an ordered
    (rank, left, right) DataFrame (rank 0 = first merge) — the model
    artifact; persist it with ``save_merges`` and feed it to
    ``bpe_encode_flat``.

    The corpus-scale pass (word counting) is distributed; the merge
    loop runs driver-side on the frequency table (see module
    docstring for the scale argument). ``max_words`` keeps the
    driver-side table bounded via frequency truncation (ties broken
    by word for determinism); None collects the full vocabulary.
    """
    spark = docs.sparkSession
    wf = word_freq_frame(docs, text_col)
    if max_words is not None:
        # TakeOrdered: per-partition top-k + driver merge, no global sort
        wf = wf.orderBy(F.col("count").desc(), F.col("word")).limit(
            max_words
        )
    freqs = {r["word"]: r["count"] for r in wf.collect()}
    return _merges_frame(spark, _train_merges(freqs, n_merges, min_pair_count))


def bpe_train_distributed(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    checkpoint_every: int = 16,
    batch_merges: int = 8,
    candidate_pool: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """The fully-distributed twin of ``bpe_train`` for vocabularies
    too large to collect: the (word, freq, symbols) state stays a
    DataFrame; each ROUND is ONE weighted pair-count aggregation
    (explode adjacent pairs → partial-aggregated sum → top-pool
    collect) from which up to ``batch_merges`` COMPATIBLE merges are
    selected and applied together in one map-only pure-Catalyst fold
    pass. Produces the IDENTICAL merge table to
    ``bpe_train(max_words=None)`` (same counts, same lexicographic
    tie-break — parity-asserted in tests); note ``bpe_train``'s
    DEFAULT frequency-truncates at 2^20 words, so on a vocabulary
    larger than that the two differ unless the caller passes
    ``max_words=None`` — which is exactly the regime this trainer
    exists for.

    Compatible-merge batching (round-10 verdict item — one
    aggregation PER MERGE meant a 32k-merge vocabulary cost 32k Spark
    jobs): from the round's candidates sorted by (count desc, pair),
    a PREFIX is selected greedily, stopping at the first candidate
    that could diverge from the sequential trainer. The selected set
    S provably equals sequential's next |S| merges because selection
    stops when ANY of these fail:

    - *symbol disjointness*: the candidate's {left, right, merged}
      must not intersect any selected merge's {left, right, merged}.
      Applying S then cannot change the candidate's count (a merge
      only touches pairs containing its symbols), and — since
      selection is prefix-only — any pair that outranks the candidate
      and merely DECREASES under S was itself selected, not skipped.
    - *spawn dominance*: applying (x, y) spawns new pairs (w, x+y) /
      (x+y, z) whose counts are bounded by the OLD counts of existing
      pairs (w, x) / (y, z). If any such parent has count >= the
      candidate's, a spawn could tie-or-beat it (ties matter: the
      lexicographic tie-break could prefer the spawn), so the batch
      stops. Parents are scanned over the collected pool, which is
      sufficient because:
    - *pool completeness*: beyond the first pick, a candidate is only
      accepted while its count strictly exceeds the pool's smallest
      collected count (or the pool holds every pair), so every pair
      ranking at-or-above the candidate is visible.

    On natural-language corpora the hottest pairs share symbols
    ('e', 't', ...), so early rounds batch little and the budget
    tends toward one aggregation per merge; on the flat tail of a
    large vocabulary batches fill up. Worst case is ``n_merges``
    rounds — for a full 32k-merge vocabulary prefer ``bpe_train``
    (Heaps-bounded driver trainer) unless the vocabulary genuinely
    exceeds driver memory (a loud log line repeats this guidance).
    ``stats`` (optional dict) receives ``rounds`` and
    ``batch_sizes`` so callers and tests can audit the job budget.

    The fold trick: a left-to-right greedy single-pass merge is
    expressible as ``F.aggregate``: append each symbol unless the
    accumulator's LAST element is ``left`` and the symbol is
    ``right`` — the merged token ``left+right`` can never equal
    ``left`` (``right`` is non-empty), so a merged token is never
    re-merged within the pass, exactly the single-pass semantics.
    Batched merges nest their folds in selection order (equivalently
    any order — their symbols are disjoint) in ONE select. Lineage
    grows per round, so the state is ``localCheckpoint``-ed every
    ``checkpoint_every`` accumulated merges (at production scale, a
    real checkpoint dir)."""
    spark = docs.sparkSession
    if n_merges > 1024:
        log.warning(
            "bpe_train_distributed: %d merges may cost up to %d "
            "distributed aggregation rounds (compatible-merge "
            "batching reduces this only where hot pairs are "
            "symbol-disjoint). Unless the vocabulary exceeds driver "
            "memory, bpe_train (driver trainer, one distributed "
            "word-count pass) is the right tool.",
            n_merges,
            n_merges,
        )
    # Character decomposition via a zero-width split that can never
    # yield a trailing empty element: F.split(word, '') returns the
    # exact character array on Spark 4.x but a trailing '' on 3.x
    # (round-10 advice finding — the repo pins no Spark version, and
    # a phantom '' symbol would silently corrupt pair counts). The
    # negative lookahead '(?!$)' matches every inter-character
    # position except end-of-string on both lines.
    state = word_freq_frame(docs, text_col).select(
        "word", "count", F.split(F.col("word"), "(?!$)").alias("syms")
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    floor = max(min_pair_count, 1)
    pool = candidate_pool or max(32, 4 * max(batch_merges, 1))
    rounds = 0
    batch_sizes: list[int] = []
    since_ckpt = 0

    def make_fold(a, b, merged):
        def fold(acc, x):
            # try_element_at: NULL (not an ANSI error) on the
            # empty accumulator — NULL == a is NULL, so the
            # when() falls through to append, as wanted
            last = F.try_element_at(acc, F.lit(-1))
            return F.when(
                (last == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(merged)),
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return fold

    while len(merges) < n_merges:
        pair_counts = (
            state.select(
                F.col("count"),
                F.explode(
                    F.arrays_zip(
                        F.slice(
                            F.col("syms"), 1, F.size("syms") - 1
                        ).alias("a"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1)
                        .alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("count").alias("n"))
        )
        cand = (
            pair_counts.orderBy(
                F.col("n").desc(), F.col("a"), F.col("b")
            )
            .limit(pool)
            .collect()
        )
        rounds += 1
        if not cand or cand[0]["n"] < floor:
            break
        truncated = len(cand) == pool
        c_min = cand[-1]["n"]

        # -------- driver-side compatible-prefix selection (see
        # docstring for the parity argument; stop at FIRST rejection —
        # a skipped candidate would reorder the sequential trainer)
        selected: list[tuple[str, str]] = []
        touched: set[str] = set()
        lefts: set[str] = set()
        rights: set[str] = set()
        for i, r in enumerate(cand):
            a, b, c = r["a"], r["b"], r["n"]
            if (
                len(merges) + len(selected) >= n_merges
                or len(selected) >= max(batch_merges, 1)
                or c < floor
            ):
                break
            if selected:
                # pool completeness: every pair ranking at-or-above c
                # must be visible for the dominance scan
                if truncated and c <= c_min:
                    break
                # symbol disjointness
                if {a, b, a + b} & touched:
                    break
                # spawn dominance: an existing pair (w, x) / (y, z)
                # with count >= c, adjacent to a selected (x, y),
                # bounds a spawned pair that could tie-or-beat c.
                # Selected pairs can never trigger (their symbols are
                # mutually disjoint), so no need to exclude them.
                danger = False
                for q in cand:
                    if q["n"] < c:
                        break  # sorted: no more parents at-or-above c
                    if q["b"] in lefts or q["a"] in rights:
                        danger = True
                        break
                if danger:
                    break
            selected.append((a, b))
            lefts.add(a)
            rights.add(b)
            touched |= {a, b, a + b}

        if not selected:  # cannot happen (cand[0] passes), but guard
            break
        merges.extend(selected)
        batch_sizes.append(len(selected))

        # -------- apply the whole batch in ONE map-only pass: nested
        # folds in selection order (symbols disjoint ⇒ order-free)
        expr: Column = F.col("syms")
        for a, b in selected:
            expr = F.aggregate(
                expr,
                F.array().cast("array<string>"),
                make_fold(a, b, a + b),
            )
        state = state.select("word", "count", expr.alias("syms"))
        since_ckpt += len(selected)
        if since_ckpt >= checkpoint_every:
            state = state.localCheckpoint()
            since_ckpt = 0
    if stats is not None:
        stats["rounds"] = rounds
        stats["batch_sizes"] = batch_sizes
    return _merges_frame(spark, merges)


def save_merges(merges: DataFrame, path: str) -> None:
    """Persist the merge table (single file — it is model-sized)."""
    merges.coalesce(1).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> DataFrame:
    """Load a merge table written by ``save_merges`` (or any external
    trainer exporting the same (rank, left, right) schema)."""
    return spark.read.parquet(path)


# --------------------------------------------------------------- encode


def _rank_table(merges) -> dict[tuple, int]:
    """Merge table (DataFrame or [(left, right), ...] list) → the
    {(left, right): rank} dict the encoder broadcasts."""
    if isinstance(merges, DataFrame):
        rows = merges.select("rank", "left", "right").collect()
        return {(r["left"], r["right"]): r["rank"] for r in rows}
    return {tuple(p): i for i, p in enumerate(merges)}


def _encode_word(word: str, ranks: dict[tuple, int]) -> tuple:
    """GPT-2-style rank-merge loop: always merge the present pair with
    the lowest rank. Deterministic (ranks are unique)."""
    sym = list(word)
    while len(sym) >= 2:
        best = None
        best_rank = None
        for p in zip(sym, sym[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = p, r
        if best is None:
            break
        sym = list(_merge_word(tuple(sym), best))
    return tuple(sym)


def bpe_encode_flat(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, token): every document's BPE token sequence, flat,
    with ``pos`` the 0-based position across the document's whole
    subword stream. Arrow-batched ``mapInPandas``; the rank table is
    a broadcast, and each distinct word in a batch is encoded once
    (per-batch memo) — Zipf makes the memo hit rate ≈ the corpus
    token/type ratio. NULL/empty text yields zero rows (no symbols)."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(_rank_table(merges))
    src = docs.select(id_col, text_col)
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("pos", T.LongType(), False),
            T.StructField("token", T.StringType(), False),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = bc.value
        memo: dict[str, tuple] = {}
        for pdf in batches:
            ids, poss, toks = [], [], []
            for doc_id, text in zip(
                pdf[id_col].values, pdf[text_col].values
            ):
                if not isinstance(text, str) or not text:
                    continue
                p = 0
                for w in text.split(" "):
                    if not w:
                        continue
                    t = memo.get(w)
                    if t is None:
                        t = _encode_word(w, ranks)
                        memo[w] = t
                    for tok in t:
                        ids.append(doc_id)
                        poss.append(p)
                        toks.append(tok)
                        p += 1
            yield pd.DataFrame(
                {id_col: ids, "pos": poss, "token": toks}
            )

    return src.mapInPandas(encode, out_schema)


def bpe_token_counts(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bpe_tokens): the REAL subword count per document — what
    ``q_token_count``'s regex heuristic estimates. Same memoized
    Arrow-batch encode, but only lengths leave the batch body, so the
    output is one row per document (no token explosion)."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(_rank_table(merges))
    src = docs.select(id_col, text_col)
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("n_bpe_tokens", T.LongType(), False),
        ]
    )

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            ids, ns = [], []
            for doc_id, text in zip(
                pdf[id_col].values, pdf[text_col].values
            ):
                n = 0
                if isinstance(text, str) and text:
                    for w in text.split(" "):
                        if not w:
                            continue
                        c = memo.get(w)
                        if c is None:
                            c = len(_encode_word(w, ranks))
                            memo[w] = c
                        n += c
                ids.append(doc_id)
                ns.append(n)
            yield pd.DataFrame({id_col: ids, "n_bpe_tokens": ns})

    return src.mapInPandas(count, out_schema)


def bpe_pack_from_flat(
    flat: DataFrame,
    pack_tokens: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack an ALREADY-ENCODED flat (id, pos, token) stream into
    fixed-length packs — (pack_id, pack_pos, doc_id, token). This is
    the production entry point: the corpus is encoded exactly once,
    written to the token lake, and packing (including re-packing at a
    different ``pack_tokens``) reads the lake without ever touching
    the Python encoder again. Per-document counts derive from the
    stream itself (``max(pos) + 1`` — ``pos`` is the 0-based position
    across the document's whole subword stream, so its max is the
    count), then the shared distributed prefix sum
    (``operators.order.block_prefix_offsets`` — never a global window
    over documents) assigns global offsets, exactly as in
    ``tokenizer.pack_token_stream``.

    NULL-id token rows are excluded from the stream entirely (no
    global order exists for them — ``block_prefix_offsets`` filters
    their count row, and the id join here drops their token rows), so
    every pack stays exactly full except the last. Zero-token
    documents have no flat rows, hence no count row — they contribute
    0 to every offset either way."""
    from ..operators.order import block_prefix_offsets
    from .traindata import PACK_BLOCK, PACK_TOKENS

    if pack_tokens is None:
        pack_tokens = PACK_TOKENS
    counts = flat.groupBy(id_col).agg(
        (F.max("pos") + F.lit(1)).cast("long").alias("n_tokens")
    )
    pre = block_prefix_offsets(counts, id_col=id_col, block=PACK_BLOCK)
    pre = pre.select(id_col, "tokens_before")
    gpos = F.col("tokens_before") + F.col("pos")
    return flat.join(pre, id_col).select(
        F.floor(gpos / pack_tokens).cast("long").alias("pack_id"),
        (gpos % pack_tokens).cast("long").alias("pack_pos"),
        id_col,
        "token",
    )


def bpe_pack_token_stream(
    docs: DataFrame,
    merges,
    pack_tokens: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The subword twin of ``tokenizer.pack_token_stream``: the whole
    corpus as one contiguous BPE-token stream cut into fixed-length
    packs — (pack_id, pack_pos, doc_id, token). Same
    concatenate-then-chunk semantics as the whitespace packer, with
    the real subword counts.

    Encode-pass budget: the Python BPE encode is the dominant cost,
    so the corpus is encoded EXACTLY ONCE — the flat stream is
    eagerly ``localCheckpoint``-ed and both downstream consumers (the
    count derivation and the pack join in ``bpe_pack_from_flat``)
    read the checkpointed partitions; the packed plan contains no
    Python stage at all (pinned by tests/test_bpe.py's plan
    assertion). The round-10 shape checkpointed the counts frame
    instead, which still cost 2 encode passes (counts + flat). The
    storage cost is one token-stream-scale checkpoint; at production
    scale, write the flat encode to the token lake and call
    ``bpe_pack_from_flat`` on the lake read — same single-encode
    budget, durable artifact instead of executor storage."""
    flat = bpe_encode_flat(
        docs, merges, text_col, id_col
    ).localCheckpoint()
    return bpe_pack_from_flat(flat, pack_tokens, id_col)


def bpe_vocab_with_ids(
    docs: DataFrame,
    merges,
    v_max: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(token, token_id, n_docs, n_occurrences) over the SUBWORD
    vocabulary: dense 1-based ids in descending-frequency order (ties
    by token — a total order, so ids are deterministic across runs
    and partitionings), the BPE twin of ``tokenizer.vocab_with_ids``.
    Two partial-aggregated shuffles (per-doc distinct first, so
    ``count(*)`` IS document frequency), then the distributed
    global-row-number primitive — no single-reducer sort. ``v_max``
    truncates AFTER ranking (the standard vocabulary cap). The BPE
    vocabulary is bounded by |chars| + n_merges, so the ranked frame
    is model-sized by construction."""
    from ..operators.order import global_row_number

    flat = bpe_encode_flat(docs, merges, text_col, id_col)
    per_doc = flat.groupBy(id_col, "token").agg(
        F.count("*").alias("tf")
    )
    vocab = per_doc.groupBy("token").agg(
        F.count("*").alias("n_docs"),
        F.sum("tf").alias("n_occurrences"),
    )
    v = global_row_number(
        vocab,
        [F.col("n_occurrences").desc(), F.col("token")],
        out_col="token_id",
    )
    if v_max is not None:
        v = v.filter(F.col("token_id") <= v_max)
    return v.select("token", "token_id", "n_docs", "n_occurrences")


def bpe_encode_ids(
    docs: DataFrame,
    merges,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, token_id): the corpus as subword ID sequences — the
    training-ready form. One Arrow encode pass + a broadcast left
    join of the (model-sized) vocabulary; out-of-vocabulary subwords
    (possible when ``v_max`` truncated the vocab, or when encoding a
    NEW corpus against a trained artifact) map to ``tokenizer.OOV_ID``
    (0; real ids are 1-based)."""
    from .tokenizer import OOV_ID

    flat = bpe_encode_flat(docs, merges, text_col, id_col)
    return flat.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        id_col,
        "pos",
        F.coalesce(F.col("token_id"), F.lit(OOV_ID)).alias("token_id"),
    )


def x_bpe_encode(spark, sf_dir: str) -> DataFrame:
    """Bench entry: train a 200-merge BPE on the documents corpus and
    produce the real per-document subword counts (train + the memoized
    distributed encode, without the flat token explosion dominating
    the timing)."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    merges = bpe_train(docs, n_merges=200)
    return bpe_token_counts(docs, merges)
