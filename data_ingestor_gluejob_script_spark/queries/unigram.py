"""SentencePiece-style unigram-LM tokenizer (Kudo, ACL 2018): seed a
large candidate piece vocabulary from corpus substrings, fit piece
probabilities with EM over the segmentation lattice, prune to the
target vocabulary, and encode with Viterbi — the second real subword
scheme beside BPE (queries/bpe.py), sharing its corpus plumbing and
its scale split.

Reference parity note: the reference job (gluejob.py) is
ingestion-only and has no tokenizer; like bpe.py this is
LLM-pipeline extension surface.

Scale split (the bpe_train argument, verbatim): the corpus-scale
pass is ``word_freq_frame`` — one partial-aggregated shuffle whose
output is Heaps-bounded (vocabulary grows ~O(corpus^0.5)); training
then runs driver-side on the bounded (word, count) table, which is
how SentencePiece itself consumes pre-counted sentences
(--input_format=tsv). Encoding is Arrow-batched ``mapInPandas`` with
the piece table in a broadcast and a per-batch distinct-word memo —
Zipf makes the memo hit rate ≈ the corpus token/type ratio.

Algorithm notes (all mirrored by brute-force differentials in
tests/test_unigram.py):

* E-step per word: forward/backward over positions —
  ``a[j] = sum_i a[i]*p(w[i:j])`` — giving each candidate piece its
  POSTERIOR expected count across all segmentations, weighted by
  word frequency. The test twin enumerates every segmentation of
  short words explicitly and must agree to float tolerance.
* M-step: normalize expected counts to probabilities.
* Prune: keep the ``shrink`` fraction of pieces by probability
  (never below ``vocab_size``), ALWAYS retaining single characters
  so every word stays segmentable; repeat EM+prune until the target
  size, then one final EM polish.
* Viterbi encode: best path by total logprob; ties broken toward
  the LONGER last piece (then lexicographically smaller piece) so
  the DP is deterministic and the brute-force twin can assert the
  exact segmentation, not just its score.
* Characters unseen in training get a floor logprob
  (min(model) - 16 nats) at encode time, so unknown text degrades
  to per-character pieces instead of failing — SentencePiece's
  character-coverage fallback in spirit.

The model artifact is a (piece, logprob) DataFrame;
``save_model``/``load_model`` persist it as parquet, making an
externally-trained unigram model (real SentencePiece export) a
drop-in, same as bpe.save_merges/load_merges.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .bpe import word_freq_frame

MAX_PIECE_LEN = 8
_UNSEEN_PENALTY = 16.0


def _seed_vocab(
    freqs: dict[str, int], seed_size: int, max_piece_len: int
) -> dict[str, float]:
    """Initial piece probabilities: every substring of every word up
    to ``max_piece_len``, scored by frequency-weighted occurrence
    count, cut to the top ``seed_size`` multi-char pieces (ties by
    piece) + ALL single characters, normalized."""
    counts: dict[str, int] = {}
    for w, f in freqs.items():
        for i in range(len(w)):
            for j in range(i + 1, min(i + max_piece_len, len(w)) + 1):
                p = w[i:j]
                counts[p] = counts.get(p, 0) + f
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:seed_size]
    seed = dict(chars)
    seed.update(multi)
    total = sum(seed.values())
    return {p: c / total for p, c in seed.items()}


def _expected_counts(
    word: str, freq: int, probs: dict[str, float], max_len: int
) -> dict[str, float]:
    """Forward/backward posterior piece counts for one word (the
    E-step inner loop). Returns {} for a word with no lattice path
    (cannot happen while single chars stay in the vocab)."""
    n = len(word)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for j in range(1, n + 1):
        s = 0.0
        for i in range(max(0, j - max_len), j):
            p = probs.get(word[i:j])
            if p:
                s += alpha[i] * p
        alpha[j] = s
    z = alpha[n]
    if z <= 0.0:
        return {}
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for i in range(n - 1, -1, -1):
        s = 0.0
        for j in range(i + 1, min(i + max_len, n) + 1):
            p = probs.get(word[i:j])
            if p:
                s += p * beta[j]
        beta[i] = s
    out: dict[str, float] = {}
    for i in range(n):
        for j in range(i + 1, min(i + max_len, n) + 1):
            piece = word[i:j]
            p = probs.get(piece)
            if p:
                post = alpha[i] * p * beta[j] / z
                if post > 0.0:
                    out[piece] = out.get(piece, 0.0) + freq * post
    return out


def _em_round(
    freqs: dict[str, int], probs: dict[str, float], max_len: int
) -> dict[str, float]:
    expected: dict[str, float] = {}
    for w in sorted(freqs):
        for piece, c in _expected_counts(
            w, freqs[w], probs, max_len
        ).items():
            expected[piece] = expected.get(piece, 0.0) + c
    total = sum(expected.values())
    # pieces with zero posterior mass drop out naturally
    return {p: c / total for p, c in sorted(expected.items()) if c > 0}


def _train(
    freqs: dict[str, int],
    vocab_size: int,
    seed_size: int,
    em_iters: int,
    shrink: float,
    max_piece_len: int,
) -> dict[str, float]:
    probs = _seed_vocab(freqs, seed_size, max_piece_len)
    chars = {p for p in probs if len(p) == 1}
    while True:
        for _ in range(em_iters):
            probs = _em_round(freqs, probs, max_piece_len)
            # a char can lose all posterior mass to larger pieces;
            # pin it back at floor prob so coverage never breaks
            floor = min(probs.values()) * 1e-3
            for c in chars:
                probs.setdefault(c, floor)
        if len(probs) <= vocab_size:
            break
        keep = max(vocab_size, int(len(probs) * shrink))
        ranked = sorted(
            probs.items(), key=lambda pc: (-pc[1], pc[0])
        )
        kept = dict(ranked[:keep])
        for c in chars:  # alphabet is never pruned
            kept.setdefault(c, probs[c])
        if len(kept) == len(probs):
            break  # only chars left above the line; can't shrink more
        probs = kept
    total = sum(probs.values())
    return {p: v / total for p, v in probs.items()}


def unigram_train(
    docs: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    seed_size: int = 1 << 14,
    em_iters: int = 2,
    shrink: float = 0.75,
    max_piece_len: int = MAX_PIECE_LEN,
    max_words: int | None = 1 << 20,
) -> DataFrame:
    """Learn a unigram-LM piece model from the corpus. Returns the
    (piece, logprob) model DataFrame; persist with ``save_model``,
    feed to ``unigram_encode_flat``."""
    spark = docs.sparkSession
    wf = word_freq_frame(docs, text_col)
    if max_words is not None:
        wf = wf.orderBy(F.col("count").desc(), F.col("word")).limit(
            max_words
        )
    freqs = {r["word"]: r["count"] for r in wf.collect()}
    probs = _train(
        freqs, vocab_size, seed_size, em_iters, shrink, max_piece_len
    )
    rows = [
        (p, math.log(v)) for p, v in sorted(probs.items())
    ]
    return local_frame(spark, rows, "piece string, logprob double")


def save_model(model: DataFrame, path: str) -> None:
    """One parquet file — the model is vocabulary-sized."""
    model.coalesce(1).write.mode("overwrite").parquet(path)


def load_model(spark: SparkSession, path: str) -> DataFrame:
    """Drop-in seam for an externally-trained unigram model saved in
    the (piece, logprob) parquet shape."""
    return spark.read.parquet(path).select("piece", "logprob")


def _logprob_table(model) -> dict[str, float]:
    if isinstance(model, DataFrame):
        rows = model.select("piece", "logprob").collect()
        return {r["piece"]: float(r["logprob"]) for r in rows}
    return dict(model)


def _viterbi(word: str, lp: dict[str, float], max_len: int) -> tuple:
    """Best segmentation by total logprob. Tie-break: the DP keeps a
    candidate only when STRICTLY better, scanning the last-piece
    start i from 0 upward — equal-score paths therefore resolve
    toward the LONGEST last piece, deterministically (pinned by
    tests). Unknown characters score min(model) - 16."""
    n = len(word)
    floor = (min(lp.values()) if lp else 0.0) - _UNSEEN_PENALTY
    best = [(-math.inf, -1)] * (n + 1)
    best[0] = (0.0, -1)
    for j in range(1, n + 1):
        bs, bi = -math.inf, -1
        for i in range(max(0, j - max_len), j):
            if best[i][0] == -math.inf:
                continue
            piece = word[i:j]
            p = lp.get(piece)
            if p is None:
                if len(piece) > 1:
                    continue
                p = floor
            s = best[i][0] + p
            if s > bs:
                bs, bi = s, i
        best[j] = (bs, bi)
    out = []
    j = n
    while j > 0:
        i = best[j][1]
        out.append(word[i:j])
        j = i
    return tuple(reversed(out))


def unigram_encode_flat(
    docs: DataFrame,
    model,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """(id, pos, token): every document's Viterbi piece sequence,
    flat, ``pos`` 0-based across the document's whole stream —
    schema-identical to bpe_encode_flat so downstream packing/ids
    consumers take either tokenizer. NULL/empty text yields zero
    rows."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(_logprob_table(model))
    src = docs.select(id_col, text_col)
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("pos", T.LongType(), False),
            T.StructField("token", T.StringType(), False),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = bc.value
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
                        t = _viterbi(w, lp, max_piece_len)
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


def unigram_token_counts(
    docs: DataFrame,
    model,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """(id, n_unigram_tokens): per-document piece count — the
    length-only twin of unigram_encode_flat (no token explosion
    leaves the batch body)."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(_logprob_table(model))
    src = docs.select(id_col, text_col)
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("n_unigram_tokens", T.LongType(), False),
        ]
    )

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            ids, ns = [], []
            for doc_id, text in zip(
                pdf[id_col].values, pdf[text_col].values
            ):
                if not isinstance(text, str) or not text:
                    continue
                n = 0
                for w in text.split(" "):
                    if not w:
                        continue
                    c = memo.get(w)
                    if c is None:
                        c = len(_viterbi(w, lp, max_piece_len))
                        memo[w] = c
                    n += c
                ids.append(doc_id)
                ns.append(n)
            yield pd.DataFrame({id_col: ids, "n_unigram_tokens": ns})

    return src.mapInPandas(count, out_schema)


def x_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry: train a 400-piece unigram model on the corpus
    (distributed counts -> driver EM) and Viterbi-encode the corpus
    with it (memoized Arrow batches) — the unigram twin of
    x_bpe_encode."""
    from .textops import load

    docs = load(spark, sf_dir, "documents")
    model = unigram_train(
        docs, vocab_size=400, seed_size=4000, em_iters=2
    )
    return unigram_encode_flat(docs, model)
