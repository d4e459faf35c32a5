"""Differentials for the quality-aware dedup survivor selection and
the token-budget sampler (queries/traindata.py round-11 additions)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_ingestor_gluejob_script_spark.queries.traindata import (
    quality_survivor_frame,
    sample_to_token_budget,
)


def _groups_df(spark, mapping):
    return spark.createDataFrame(
        list(mapping.items()), "doc_id long, group_id long"
    )


def test_quality_survivor_argmax_and_ties(spark):
    # group 1: doc 2 has the best score -> survives over lower id 0
    # group 2: tie on score -> min doc_id (10) survives
    # doc 100 is in no group -> survives alone
    docs = spark.createDataFrame(
        [
            (0, "a", 1.0),
            (1, "b", 2.0),
            (2, "c", 9.0),
            (10, "d", 5.0),
            (11, "e", 5.0),
            (100, "f", 0.0),
        ],
        "doc_id long, text string, score double",
    )
    groups = _groups_df(spark, {0: 0, 1: 0, 2: 0, 10: 10, 11: 10})
    out = quality_survivor_frame(docs, groups, score=F.col("score"))
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [2, 10, 100]
    # full rows survive, not just ids
    assert set(out.columns) == {"doc_id", "text", "score"}


def test_quality_survivor_null_score_loses(spark):
    # NULL score ranks below any real score (struct min is NULLS
    # FIRST ascending, so an uncoalesced NULL in the negated field
    # would WIN — the exact bug this pins). A fully-unscorable group
    # still keeps exactly one survivor (min id).
    docs = spark.createDataFrame(
        [(0, None), (1, -5.0), (10, None), (11, None)],
        "doc_id long, score double",
    )
    groups = _groups_df(spark, {0: 0, 1: 0, 10: 10, 11: 10})
    out = quality_survivor_frame(docs, groups, score=F.col("score"))
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 10]


def test_quality_survivor_default_score_on_testdata(spark):
    from data_ingestor_gluejob_script_spark.operators.graph import (
        neardup_groups,
    )
    from data_ingestor_gluejob_script_spark.queries.textops import (
        q_simhash_neardup_pairs,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = q_simhash_neardup_pairs(spark, sf).select("doc_a", "doc_b")
    groups = neardup_groups(pairs, docs).select("doc_id", "group_id")
    out = quality_survivor_frame(docs, groups)
    # exactly one survivor per group, and survivors are real docs
    n_groups = groups.select("group_id").distinct().count()
    assert out.count() == n_groups
    assert out.join(docs, "doc_id", "left_anti").count() == 0


def _budget_oracle(rows, budget):
    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )
    kept, before = [], 0
    for doc_id, n in order:
        if before < budget:
            kept.append(doc_id)
        before += n
    return sorted(kept)


def test_token_budget_differential(spark):
    rows = [(i, f"{'w ' * (i % 7 + 1)}".strip()) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counts = [(i, i % 7 + 1) for i in range(50)]
    for budget in (1, 37, 80, 10_000):
        got = sorted(
            r["doc_id"]
            for r in sample_to_token_budget(docs, budget).collect()
        )
        assert got == _budget_oracle(counts, budget), budget


def test_token_budget_explicit_count_column_and_nulls(spark):
    docs = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 10), (None, 10)],
        "doc_id long, n_tok long",
    )
    got = sorted(
        r["doc_id"]
        for r in sample_to_token_budget(docs, 15, n_col="n_tok").collect()
    )
    # null-id excluded; boundary doc included (before=10 < 15)
    assert got == _budget_oracle([(i, 10) for i in range(3)], 15)


def test_token_budget_partitioning_invariant(spark):
    rows = [(i, "one two three four") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        r["doc_id"] for r in sample_to_token_budget(docs, 60).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in sample_to_token_budget(docs.repartition(7), 60).collect()
    )
    assert a == b == _budget_oracle([(i, 4) for i in range(40)], 60)


def test_simhash_frame_equals_fold_form(spark):
    """r15: the codegen explode+vote frame must produce the exact
    fingerprints of the interpreted fold (vote addition commutes;
    NULL text -> NULL fingerprint in both), on the natural-vocabulary
    dup corpus the frame form was built for plus NULL/short edges."""
    import pyspark.sql.functions as F

    from data_ingestor_gluejob_script_spark.queries.textops import (
        simhash16_col,
        simhash16_frame,
    )
    from tools.make_zipf_corpus import zipf_documents

    base = zipf_documents(
        spark, 400, vocab=2000, cluster_size=4, dup_pct=40
    ).select("doc_id", "text")
    edges = spark.createDataFrame(
        [(100000, None), (100001, "solo"), (100002, "a a a")],
        "doc_id long, text string",
    )
    docs = base.unionByName(edges)
    fold = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", simhash16_col(F.col("text")).alias("sh")
        ).collect()
    }
    frame = {
        r.doc_id: r.simhash16 for r in simhash16_frame(docs).collect()
    }
    assert fold == frame
    assert frame[100000] is None


def test_simhash_frame_carry_cols_preserve_identity_edges(spark):
    """Advice r15: a doc_id join-back on the frame silently drops
    NULL-id rows and merges duplicate-id votes. The carry_cols form
    must instead reproduce the map-only fold's multiplicity: NULL-id
    rows survive as their own groups and duplicate ids stay distinct
    when the carried digest differs."""
    import pyspark.sql.functions as F

    from data_ingestor_gluejob_script_spark.queries.textops import (
        simhash16_col,
        simhash16_frame,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (1, "delta epsilon zeta"),  # duplicate id, different text
            (None, "eta theta iota"),  # NULL id
            (None, "kappa mu nu"),
            (2, "xi omicron pi"),
        ],
        "doc_id long, text string",
    )
    keyed = docs.select(
        "doc_id", "text", F.md5(F.lower(F.col("text"))).alias("d")
    )
    got = {
        (r.doc_id, r.d): r.simhash16
        for r in simhash16_frame(keyed, carry_cols=("d",)).collect()
    }
    want = {
        (r.doc_id, r.d): r.sh
        for r in keyed.select(
            "doc_id", "d", simhash16_col(F.col("text")).alias("sh")
        ).collect()
    }
    assert got == want
    assert len(got) == 5  # nothing dropped, nothing merged


def _py_simhash64(text):
    """Independent pure-python oracle for simhash64_frame: same word
    convention as words_col (split on single spaces, distinct), two
    32-bit md5 hex chunks for the 64 hash bits, ±1 votes, sign→bit,
    signed-long bit pattern."""
    import hashlib

    if text is None:
        return None
    votes = [0] * 64
    for w in set(text.split(" ")):
        hx = hashlib.md5(w.encode()).hexdigest()
        h_lo, h_hi = int(hx[0:8], 16), int(hx[8:16], 16)
        for j in range(64):
            chunk = h_lo if j < 32 else h_hi
            votes[j] += 1 if (chunk >> (j % 32)) & 1 else -1
    fp = 0
    for j in range(64):
        if votes[j] > 0:
            fp |= 1 << j
    return fp - (1 << 64) if fp >= (1 << 63) else fp


@pytest.mark.parametrize(
    "fn, kwargs",
    [
        ("simhash16_frame", {"carry_cols": ("_h",)}),
        ("simhash64_frame", {"id_col": "_hlo"}),
    ],
)
def test_simhash_frame_rejects_reserved_names(spark, fn, kwargs):
    """The reserved-internal-name guards raise ValueError (not
    ``assert``, which ``python -O`` strips)."""
    from data_ingestor_gluejob_script_spark.queries import textops

    docs = spark.createDataFrame(
        [(1, 2, "alpha beta")], "doc_id long, `_h` long, text string"
    )
    if "id_col" in kwargs:
        docs = docs.withColumnRenamed("doc_id", kwargs["id_col"])
    with pytest.raises(ValueError, match="reserved internal names"):
        getattr(textops, fn)(docs, **kwargs)


def test_simhash64_frame_matches_python_oracle(spark):
    from data_ingestor_gluejob_script_spark.queries.textops import (
        simhash64_frame,
    )
    from tools.make_zipf_corpus import zipf_documents

    base = zipf_documents(
        spark, 300, vocab=1500, cluster_size=4, dup_pct=40
    ).select("doc_id", "text")
    edges = spark.createDataFrame(
        [(200000, None), (200001, "solo"), (200002, "a a  a")],
        "doc_id long, text string",
    )
    docs = base.unionByName(edges)
    rows = {r.doc_id: r.text for r in docs.collect()}
    got = {
        r.doc_id: r.simhash64 for r in simhash64_frame(docs).collect()
    }
    want = {i: _py_simhash64(t) for i, t in rows.items()}
    assert got == want
    assert got[200000] is None


def test_simhash64_neardup_pairs_match_bruteforce(spark):
    """Banded pigeonhole join vs brute-force all-pairs over the
    identical-fingerprint representatives: at max_hamming=3 the 4
    disjoint 16-bit slices guarantee FULL recall (pigeonhole), so the
    sets must be equal, not merely overlapping."""
    from data_ingestor_gluejob_script_spark.queries.textops import (
        simhash64_frame,
        simhash64_neardup_pairs,
    )
    from tools.make_zipf_corpus import zipf_documents

    docs = zipf_documents(
        spark, 400, vocab=800, cluster_size=5, dup_pct=60
    ).select("doc_id", "text")
    fps = {
        r.doc_id: r.simhash64
        for r in simhash64_frame(docs).collect()
        if r.simhash64 is not None
    }
    # representatives: min doc_id per fingerprint
    rep = {}
    for i, f in fps.items():
        if f not in rep or i < rep[f]:
            rep[f] = i
    reps = sorted((i, f) for f, i in rep.items())
    mask = (1 << 64) - 1
    want = set()
    for ai in range(len(reps)):
        for bi in range(ai + 1, len(reps)):
            (ia, fa), (ib, fb) = reps[ai], reps[bi]
            d = bin((fa ^ fb) & mask).count("1")
            if 1 <= d <= 3:
                want.add((min(ia, ib), max(ia, ib), d))
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash64_neardup_pairs(docs, max_hamming=3).collect()
    }
    assert got == want
    assert want, "fixture produced no near-miss pairs; weaken dup_pct"


def test_require_unique_doc_ids_guard(spark):
    import pytest

    from data_ingestor_gluejob_script_spark.queries.textops import (
        require_unique_doc_ids,
    )

    ok = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    require_unique_doc_ids(ok, "t")  # no raise
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        require_unique_doc_ids(dup, "t")
    withnull = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL doc_id"):
        require_unique_doc_ids(withnull, "t")
