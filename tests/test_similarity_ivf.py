"""IVF ANN operator: local differential check vs the DuckDB twin, a
bucketing invariant, and the plan shape that makes it the scale path.

q_ivf_topk is implemented but NOT driver-registered (the gate is
pinned at 50 — tests/test_inventory.py), so its oracle verification
lives here, mirroring the q_binary_meta precedent.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestor_gluejob_script_spark.queries.similarity import (  # noqa: E402
    IVF_NPROBE,
    IVF_TOPK_ORACLE,
    N_IVF_CELLS,
    TOP_K,
    _cell_scores,
    _ivf_centroid_row,
    _load_emb,
    dot,
    ivf_assign,
    ivf_cell,
    ivf_probe_cells,
    ivf_refine,
    ivf_search_join,
    q_ivf_topk,
)

import pyspark.sql.functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_topk_differential(spark):
    """Spark q_ivf_topk vs IVF_TOPK_ORACLE on the same parquet —
    row-for-row, value-for-value (both engines fold doubles in the
    same order, so the comparison is exact, not tolerance-based)."""
    got = q_ivf_topk(spark, SF_DIR)
    cols = got.columns
    spark_rows = sorted(
        tuple(str(r[c]) for c in sorted(cols)) for r in got.collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    cur = con.execute(IVF_TOPK_ORACLE)
    o_cols = [d[0] for d in cur.description]
    assert sorted(o_cols) == sorted(cols)
    order = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    oracle_rows = sorted(
        tuple(str(row[i]) for i in order) for row in cur.fetchall()
    )
    assert spark_rows == oracle_rows
    assert len(spark_rows) == TOP_K


def test_ivf_assignment_covers_corpus(spark):
    """Every vector lands in exactly one valid cell, and the probe set
    has exactly IVF_NPROBE distinct cells — the invariants that make
    cell a partitionBy() column at scale."""
    emb = _load_emb(spark, SF_DIR)
    with_cents = emb.crossJoin(F.broadcast(_ivf_centroid_row(emb)))
    assigned = with_cents.select(
        "vec_id", ivf_cell(F.col("emb"), F.col("cents")).alias("cell")
    )
    stats = assigned.agg(
        F.count("*").alias("n"),
        F.min("cell").alias("lo"),
        F.max("cell").alias("hi"),
        F.countDistinct("cell").alias("ncells"),
    ).collect()[0]
    assert stats.n == emb.count()
    assert 0 <= stats.lo and stats.hi < N_IVF_CELLS
    # Seeds are corpus vectors, so every cell holds at least its seed.
    assert stats.ncells == N_IVF_CELLS

    probe = with_cents.filter(F.col("vec_id") == 0).select(
        ivf_probe_cells(F.col("emb"), F.col("cents"), IVF_NPROBE).alias("p")
    ).collect()[0].p
    assert len(probe) == IVF_NPROBE == len(set(probe))
    # vec_id 0 is itself a seed centroid -> its own cell must rank
    # first (affinity to its own centroid is maximal: cos = 1 * |e|).
    assert (
        assigned.filter(F.col("vec_id") == 0).collect()[0].cell == probe[0]
    )


def test_ivf_search_join_matches_single_query(spark):
    """Batch form vs the differentially-verified single-query form:
    querying with corpus vector 0 must rank itself first (cosine 1.0)
    and then reproduce q_ivf_topk's leading neighbors exactly."""
    emb = _load_emb(spark, SF_DIR)
    codebook = _ivf_centroid_row(emb)
    queries = emb.filter(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    got = ivf_search_join(emb, queries, codebook, k=TOP_K).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 7, 42}
    for qid, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
            range(1, TOP_K + 1)
        )
        top = min(rows, key=lambda r: r.rank)
        assert top.vec_id == qid and top.cosine_sim == 1.0

    single = q_ivf_topk(spark, SF_DIR).collect()  # excludes vec_id 0
    batch_rest = [
        (r.vec_id, r.cosine_sim)
        for r in sorted(by_q[0], key=lambda r: r.rank)[1:]
    ]
    expected = [(r.vec_id, r.cosine_sim) for r in single[: TOP_K - 1]]
    assert batch_rest == expected


def test_ivf_refine_is_monotone_and_well_formed(spark):
    """Lloyd rounds never decrease the k-means objective
    J = mean over vectors of best dot(e, c/|c|): the assignment step
    maximizes each term over cells, and the per-cell arithmetic mean
    has exactly the direction maximizing the cell's summed dot — so J
    is monotone even with empty-cell carry-over."""
    emb = _load_emb(spark, SF_DIR)

    def objective(codebook) -> float:
        best = F.aggregate(
            _cell_scores(F.col("emb"), F.col("cents")),
            F.lit(float("-inf")),
            lambda acc, x: F.greatest(acc, x["s"]),
        )
        return (
            emb.crossJoin(F.broadcast(codebook))
            .agg(F.avg(best))
            .collect()[0][0]
        )

    j0 = objective(_ivf_centroid_row(emb))
    r1 = ivf_refine(emb, iters=1)
    j1 = objective(r1)
    j2 = objective(ivf_refine(emb, iters=2))
    assert j1 >= j0 - 1e-9
    assert j2 >= j1 - 1e-9
    assert j1 > j0  # seeds are raw corpus vectors; one round must help

    cents = r1.collect()[0].cents
    assert [c.cid for c in cents] == list(range(N_IVF_CELLS))
    # refined codebook still assigns every vector to a valid cell
    cells = ivf_assign(emb, r1).agg(
        F.min("cell"), F.max("cell"), F.count("*")
    ).collect()[0]
    assert cells[0] >= 0 and cells[1] < N_IVF_CELLS
    assert cells[2] == emb.count()


def test_ivf_plan_is_broadcast_map_side(spark):
    """The scale contract: no pairwise enumeration, no shuffle of the
    corpus. The only joins are broadcasts (codebook + 1-row query);
    top-k compiles to TakeOrderedAndProject, not a global sort."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_ivf_topk(spark, SF_DIR).explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p
    # The corpus side is never hash-repartitioned: the only exchanges
    # are broadcasts and the codebook's single-partition collect.
    assert "hashpartitioning" not in p


def test_ivf_cell_layout_prunes_probe_scans(spark, tmp_path):
    """Substantiates the docstring's scale claim: persisting the
    assigned corpus partitionBy("cell") turns a probe into a
    partition-pruned scan — the reader opens nprobe/K of the lake, and
    the plan carries the cell predicate as a PartitionFilter, not a
    post-scan filter."""
    emb = _load_emb(spark, SF_DIR)
    codebook = _ivf_centroid_row(emb)
    out = str(tmp_path / "ivf_lake")
    ivf_assign(emb, codebook).write.partitionBy("cell").parquet(out)

    lake = spark.read.parquet(out)
    probed = lake.filter(F.col("cell").isin(3, 7))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "cell" in p.split("PartitionFilters", 1)[1][:200]
    assert probed.count() == (
        ivf_assign(emb, codebook).filter(F.col("cell").isin(3, 7)).count()
    )
    # the layout really is one directory per cell
    dirs = {d.name for d in (tmp_path / "ivf_lake").iterdir() if d.is_dir()}
    assert dirs == {f"cell={c}" for c in range(N_IVF_CELLS)}


def test_ivf_search_join_never_shuffles_corpus_on_cell(spark):
    """The batch join's scale contract: cell has only K distinct
    values, so the corpus must NOT shuffle on it (100 TB through K
    reducers) — the query batch broadcasts instead, and the only hash
    exchange is the per-query top-k window on query_id."""
    emb = _load_emb(spark, SF_DIR)
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "emb")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_search_join(emb, queries, _ivf_centroid_row(emb)).explain(
            "formatted"
        )
    p = buf.getvalue()
    assert "hashpartitioning(cell" not in p
    assert "SortMergeJoin" not in p
    assert p.count("hashpartitioning(query_id") == 1


def test_ivf_assign_vectorized_matches_fold_at_large_k(spark):
    """Above VECTORIZED_ASSIGN_MIN_K, ivf_assign switches to the
    Arrow/numpy matmul path (the round-11 sf10 smoke found the
    Catalyst fold non-terminating at n=500k, K=5000). On vectors whose
    affinities are exactly representable the two paths must agree
    cell-for-cell; the output schema (vec_id, emb, cell) and the
    lowest-cid tie rule carry over."""
    import numpy as np

    from data_ingestor_gluejob_script_spark.queries.similarity import (
        VECTORIZED_ASSIGN_MIN_K,
        _ivf_centroid_row,
        ivf_assign,
        ivf_cell,
    )

    k = VECTORIZED_ASSIGN_MIN_K  # exactly at the vectorized threshold
    n, dim = 400, 8
    rng = np.random.RandomState(7)
    # small integer coordinates: dot products and norms are exact in
    # float64 on both paths, so the comparison is equality, not ulp
    vecs = rng.randint(-4, 5, size=(n, dim)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id long, emb array<float>"
    ).filter(  # a zero vector would make |c| = 0; keep seeds nonzero
        F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x) > 0
    )
    codebook = _ivf_centroid_row(emb, k=k)

    got = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, codebook).collect()
    }
    want = {
        r["vec_id"]: r["cell"]
        for r in emb.crossJoin(F.broadcast(codebook))
        .select(
            "vec_id",
            ivf_cell(F.col("emb"), F.col("cents")).alias("cell"),
        )
        .collect()
    }
    assert got == want
    assert len(got) == emb.count()
    assert min(got.values()) >= 0 and max(got.values()) < k


def test_neardup_sig_bits_sizing_and_extended_planes(spark):
    """Corpus-adaptive LSH width (round-11 sf10 smoke finding: fixed
    8 bits → n²/256 candidates → 81.8x at 200k vectors): the width
    stays at the oracle's 8 bits through every oracle/bench scale and
    escalates logarithmically past n > 64·2^8; extended hyperplanes
    must be genuinely new planes (the mod-7 family repeats with
    period 7 in j, so naively extending it would add zero entropy
    every 7th bit); and the Spark signature at an escalated width
    matches a pure-python recomputation bit for bit."""
    import numpy as np

    from data_ingestor_gluejob_script_spark.queries.similarity import (
        EMB_DIM,
        N_HYPERPLANES,
        _lsh_weights_ext,
        lsh_signature,
        neardup_sig_bits,
    )

    assert neardup_sig_bits(2_000) == 8       # bench scale: oracle width
    assert neardup_sig_bits(16_384) == 8      # boundary inclusive
    assert neardup_sig_bits(16_385) == 9      # first escalation
    assert neardup_sig_bits(200_000) == 12    # the sf10 corpus
    assert neardup_sig_bits(20_000_000) == 19

    # extended planes distinct from every earlier plane (j >= 8), and
    # the legacy period-7 duplicate stays confined to the oracle 8
    planes = [tuple(_lsh_weights_ext(j)) for j in range(16)]
    for j in range(N_HYPERPLANES, 16):
        for i in range(j):
            assert planes[j] != planes[i], (i, j)

    rng = np.random.RandomState(3)
    vecs = rng.randint(-5, 6, size=(50, EMB_DIM)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, emb array<float>",
    )
    bits = 12
    got = {
        r["vec_id"]: r["sig"]
        for r in df.select(
            "vec_id", lsh_signature(F.col("emb"), bits).alias("sig")
        ).collect()
    }
    for i in range(50):
        want = 0
        for j in range(bits):
            w = np.asarray(_lsh_weights_ext(j))
            if float(vecs[i] @ w) >= 0:
                want += 1 << j
        assert got[i] == want, i


@pytest.mark.parametrize("bad", [float("inf"), float("nan")])
def test_lit_vec_rejects_non_finite_weight(bad):
    """``_lit_vec`` renders weights as SQL literals; a non-finite one
    raises ValueError up front instead of failing in the SQL parser."""
    from data_ingestor_gluejob_script_spark.queries.similarity import _lit_vec

    with pytest.raises(ValueError, match="non-finite hyperplane weight"):
        _lit_vec([0.5, bad])
