"""Physical-plan regression guards: the optimizations that matter at
100 TB, asserted against .explain output so they can't silently rot.

Each check encodes a property argued in PLANS.md: filters reach the
parquet scan, projections prune the read schema, dimensions broadcast,
top-k avoids global sorts, keyed ops shuffle exactly once.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    qs = entry_mod.queries()

    def plan_of(name: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, SF).explain("formatted")
        return buf.getvalue()

    return plan_of


def test_projection_prunes_read_schema(plans):
    p = plans("q_scan_project")
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity" in p


def test_watermark_filter_pushed_to_scan(plans):
    assert "GreaterThanOrEqual(o_orderdate" in plans("q_filter_watermark")


def test_join_chain_pushes_dim_filter_and_broadcasts(plans):
    p = plans("q_join_3hop")
    assert "EqualTo(n_name,NATION_7)" in p  # dim filter reaches the scan
    assert p.count("BroadcastHashJoin") >= 2  # filtered dims broadcast


def test_topk_compiles_to_take_ordered(plans):
    # orderBy().limit() must not be a global sort.
    assert "TakeOrderedAndProject" in plans("q_topk_customers")


def test_semi_join_is_left_semi(plans):
    assert "LeftSemi" in plans("q_semi_join_1hop")


def test_upsert_dedup_shuffles_once_on_key(plans):
    assert plans("q_upsert_dedup").count("hashpartitioning(o_orderkey") == 1


def test_exact_dedup_joins_on_digest(plans):
    assert "LeftSemi" in plans("q_exact_dedup_docs")


def test_similarity_broadcasts_query_vector(plans):
    p = plans("q_similarity_topk")
    assert "BroadcastNestedLoopJoin" in p  # 1-row broadcast, map-side score
    assert "TakeOrderedAndProject" in p


def test_agg_pricing_partial_agg_and_pushdown(plans):
    p = plans("q_agg_pricing")
    assert "partial" in p  # map-side combine before the shuffle
    assert "LessThanOrEqual(l_shipdate" in p


def test_moving_avg_single_shuffle(plans):
    assert plans("q_moving_avg").count("hashpartitioning(user_id") == 1


def test_asof_join_single_key_shuffle(plans):
    # union + carry-forward: exactly one window shuffle on the bare
    # key (the other user_id exchange is the purchases pre-dedup on
    # (user_id, ts)); never a key+inequality range join.
    key_only = re.findall(
        r"hashpartitioning\(user_id#\d+L?, \d+\)", plans("q_asof_purchase")
    )
    assert len(key_only) == 1


def test_no_cartesian_products_anywhere(plans):
    # CartesianProduct = unbounded pair enumeration. The only allowed
    # nested-loop join is the broadcast of a 1-row query vector.
    for name in entry_mod.queries():
        assert "CartesianProduct" not in plans(name), name


@pytest.mark.slow
def test_extras_no_cartesian_products(spark):
    """Same pair-enumeration guard as the registered sweep, over the
    benched unregistered suite (queries/extras.py). Building a plan is
    driver-side only — except connected components, whose iterative
    rounds run real (label-sized) jobs."""
    import contextlib
    import io

    from data_ingestor_gluejob_script_spark.queries.extras import extras

    for name, fn in extras().items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF).explain("formatted")
        assert "CartesianProduct" not in buf.getvalue(), name


def test_seq_pack_prefix_sum_shape(plans):
    """The distributed prefix sum's contract: the ONLY global-order
    (single-partition) exchange carries the per-block offsets (#blocks
    rows), the per-doc window is partitioned by block, and the offsets
    come back via broadcast — never a global window over every doc."""
    p = plans("q_seq_pack")
    assert p.count("SinglePartition") == 1
    assert p.count("hashpartitioning(_blk") >= 1
    assert "BroadcastHashJoin" in p


def test_negative_samples_prefix_sum_shape(spark):
    """r7 verdict item #1: the dense doc index must NOT be a global
    Window.orderBy (single-reducer sort of the whole id set). Same
    contract as seq-pack: the only single-partition exchange carries
    per-block counts, per-doc ranking is partitioned by block, and the
    offsets come back via broadcast."""
    from data_ingestor_gluejob_script_spark.queries._util import load
    from data_ingestor_gluejob_script_spark.queries.corpusstats import (
        negative_samples_frame,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        negative_samples_frame(load(spark, SF, "documents"), k=4).explain(
            "formatted"
        )
    p = buf.getvalue()
    assert p.count("SinglePartition") == 1
    assert p.count("hashpartitioning(_blk") >= 1
    assert "BroadcastHashJoin" in p


# Every Window.orderBy without a partitionBy in the package must be
# justified here: a global-order window funnels its whole input through
# ONE task, so it is only acceptable over provably tiny frames. Adding
# a new one means consciously extending this list with the reason.
GLOBAL_WINDOW_ALLOWLIST = {
    # RRF ranking: runs over top-k RESULT frames (≤k rows by
    # contract), never a corpus — the corpus work happened inside the
    # component retrievers
    (
        "queries/retrieval.py",
        "w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())",
    ),
    # dense-index prefix sum: runs over per-block TOTALS (#blocks rows)
    ("queries/corpusstats.py", 'blk_running = Window.orderBy("_blk").rowsBetween('),
    # shared block prefix sum (seq-pack + BPE pack stream): the global
    # window runs over per-block TOTALS (#blocks rows), never the corpus
    (
        "operators/order.py",
        'blk_running = Window.orderBy("_blk").rowsBetween(',
    ),
    # IVF seed codebook: runs AFTER .limit(N_IVF_CELLS), K=8 rows
    (
        "queries/similarity.py",
        '(F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),',
    ),
    # global_row_number offsets: runs over per-partition COUNTS
    # (#partitions rows)
    (
        "operators/order.py",
        'pid_running = Window.orderBy("_pid").rowsBetween(',
    ),
}


def test_no_unlisted_global_order_windows_in_package():
    """Package-wide 'never again' guard (r7 verdict item #2): sweep the
    source for Window.orderBy occurrences; any not on the bounded-input
    allowlist fails the build before it can ship a single-reducer
    plan."""
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "data_ingestor_gluejob_script_spark"
    )
    hits = set()
    for py in pkg.rglob("*.py"):
        for line in py.read_text().splitlines():
            if "Window.orderBy" in line:
                hits.add((str(py.relative_to(pkg)), line.strip()))
    unlisted = hits - GLOBAL_WINDOW_ALLOWLIST
    assert not unlisted, f"unallowlisted global-order windows: {unlisted}"


# Every createDataFrame call in the package must be listed here, keyed
# by its module and its data argument. Python rows on the driver go
# through session.local_frame, one Arrow batch that plans as a
# LocalTableScan; createDataFrame over a Python list parallelizes
# pickled rows into a stats-less Python RDD that starts Python workers
# on every read and is never broadcast.
CREATE_DATAFRAME_ALLOWLIST = {
    # the Arrow hand-off itself: a pyarrow.Table, not Python rows
    ("session.py", "table"),
    # input is already an RDD (zipWithIndex line numbers)
    ("queries/classifier.py", "lines"),
    # no rows: a schema-only frame for an empty shard overlap
    ("shards.py", "[]"),
    # BM25 single-query frame: a LocalRelation changes the measured
    # search-join plan, so switching needs its own measurement
    ("queries/corpusstats.py", "[(0, ' '.join(query_terms))]"),
    # index-time avgdl: its crossJoin is a measured materialization
    # barrier, so switching needs its own measurement
    ("queries/corpusstats.py", "[(float(avg_dl),)]"),
}


def test_no_unlisted_create_dataframe_in_package():
    """Package-wide guard: sweep the source for createDataFrame calls;
    any not on the allowlist fails the build, so driver-built Python
    rows keep going through session.local_frame."""
    import ast
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "data_ingestor_gluejob_script_spark"
    )
    hits = set()
    for py in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                data = ast.unparse(node.args[0]) if node.args else ""
                hits.add((str(py.relative_to(pkg)), data))
    unlisted = hits - CREATE_DATAFRAME_ALLOWLIST
    assert not unlisted, f"createDataFrame outside local_frame: {unlisted}"
    assert CREATE_DATAFRAME_ALLOWLIST <= hits, "stale allowlist entries"


# One publish protocol: lake data is published through the lake-commit
# journal (journal.py), so a Hadoop-FS rename or delete anywhere else in
# the package needs an entry here, keyed by (module, top-level
# function, method), with the reason it is not a lake commit. The
# partition-overwrite write option is banned outright outside the
# journal: the writers stage and publish instead.
FS_MUTATION_ALLOWLIST = {
    # band-ledger rebuild swap: the ledger is derived data, and a
    # reader that finds it absent rebuilds it from the signature lake
    ("streaming.py", "_rebuild_band_ledger", "delete"),
    ("streaming.py", "_rebuild_band_ledger", "rename"),
    # vocab lake: each version is a new directory published by an
    # atomic rename-with-overwrite of the _CURRENT pointer; superseded
    # versions are pruned after it
    ("streaming.py", "run_vocab_ingest", "rename"),
    ("streaming.py", "run_vocab_ingest", "delete"),
}


def test_one_publish_protocol_in_package():
    """Package-wide guard: every filesystem rename/delete outside
    journal.py is on the allowlist, and no writer sets Spark's
    partition-overwrite mode."""
    import ast
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "data_ingestor_gluejob_script_spark"
    )
    hits, overwrite_mode = set(), []
    for py in pkg.rglob("*.py"):
        rel = str(py.relative_to(pkg))
        if rel == "journal.py":
            continue
        src = py.read_text()
        if "partitionOverwriteMode" in src:
            overwrite_mode.append(rel)
        for top in ast.parse(src).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("rename", "delete")
                ):
                    hits.add((rel, getattr(top, "name", ""), node.func.attr))
    assert not overwrite_mode, f"partition-overwrite mode in {overwrite_mode}"
    unlisted = hits - FS_MUTATION_ALLOWLIST
    assert not unlisted, f"rename/delete outside the journal: {unlisted}"
    assert FS_MUTATION_ALLOWLIST <= hits, "stale allowlist entries"


def test_revenue_star_join_pushes_region_filter_and_broadcasts(plans):
    p = plans("q_revenue_by_nation")
    assert "EqualTo(r_name,ASIA)" in p  # region filter reaches the scan
    assert p.count("BroadcastHashJoin") >= 3  # dims broadcast, facts shuffle


def test_dedup_self_joins_reuse_one_exchange_at_runtime(spark):
    """The self-join dedup family must compute its derivation ONCE:
    both join sides (and any stats branch) read a ReusedExchange of the
    explicit repartition-on-join-key. Canonicalization is fragile (an
    inferred isnotnull on one branch breaks it), so assert on the
    EXECUTED adaptive plan, where reuse actually materializes."""
    qs = entry_mod.queries()
    for name, min_reuse in [
        ("q_ngram_jaccard_pairs", 2),    # 2nd join side + size branches
        ("q_minhash_lsh_pairs", 1),      # 2nd band-join side
        ("q_embed_neardup_pairs", 1),    # 2nd bucket-join side
        ("q_simhash_neardup_pairs", 1),  # 2nd half-band join side
    ]:
        df = qs[name](spark, SF)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert final.count("ReusedExchange") >= min_reuse, name


def _frame_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_round9_curation_plan_shapes(spark):
    """The round-9 curation wave's load-bearing physical properties:
    no op may cartesian, the classifier's model join must broadcast
    with exactly one doc-keyed exchange, line dedup's keep decision
    must be the skew-safe LEFT SEMI, the minhash-dedup self-join must
    reuse the one band exchange at runtime, and the snapshot diff
    must be ONE full-outer join with nothing but digests shuffling."""
    from data_ingestor_gluejob_script_spark.operators.diff import (
        table_diff,
    )
    from data_ingestor_gluejob_script_spark.queries._util import load
    from data_ingestor_gluejob_script_spark.queries.classifier import (
        classifier_score_frame,
        standin_weights,
    )
    from data_ingestor_gluejob_script_spark.queries.docclean import (
        line_dedup_frame,
    )
    from data_ingestor_gluejob_script_spark.queries.extras import (
        multiline_docs,
    )
    from data_ingestor_gluejob_script_spark.queries.textops import (
        minhash_dedup_frame,
    )

    docs = load(spark, SF, "documents")

    p = _frame_plan(classifier_score_frame(docs, standin_weights(spark)))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # model table broadcast
    assert p.count("hashpartitioning(doc_id") == 1  # one corpus shuffle

    p = _frame_plan(line_dedup_frame(multiline_docs(docs)))
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p  # unique-triple keep decision

    p = _frame_plan(
        table_diff(
            load(spark, SF, "orders"),
            load(spark, SF, "orders"),
            ["o_orderkey"],
        )
    )
    assert "CartesianProduct" not in p
    # exactly one join node, and it's the full-outer ("(N)"-suffixed
    # tree line appears once; the details section repeats the name
    # without the paren)
    assert re.search(r"Join FullOuter \(\d+\)", p)
    assert len(re.findall(r"Join \w+ \(\d+\)|Join \(\d+\)", p)) == 1

    df = minhash_dedup_frame(docs)
    assert "CartesianProduct" not in _frame_plan(df)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # 2nd band-join side reads the one explicit band exchange
    assert final.count("ReusedExchange") >= 1


def test_round11_thirdwave_plan_shapes(spark):
    """The third wave's load-bearing physical properties: the two
    text-hygiene maps must be shuffle-free (zero exchanges — one a
    single MapInPandas, the other pure Catalyst with no Python at
    all), and the LM scorer must join on the 8-byte gram hash, keep
    its only window partitioned by doc_id, and never cartesian."""
    from data_ingestor_gluejob_script_spark.queries._util import load
    from data_ingestor_gluejob_script_spark.queries.docclean import (
        c4_line_filter_frame,
    )
    from data_ingestor_gluejob_script_spark.queries.lm import (
        stupid_backoff_logprob_frame,
    )
    from data_ingestor_gluejob_script_spark.queries.textnorm import (
        normalize_text_frame,
    )

    docs = load(spark, SF, "documents")

    p = _frame_plan(normalize_text_frame(docs))
    assert "Exchange" not in p  # embarrassingly parallel map
    assert "MapInPandas" in p  # Arrow-batched, not row-at-a-time

    p = _frame_plan(c4_line_filter_frame(docs))
    assert "Exchange" not in p
    assert "Python" not in p and "MapInPandas" not in p  # pure Catalyst

    p = _frame_plan(stupid_backoff_logprob_frame(docs))
    assert "CartesianProduct" not in p
    assert "xxhash64" in p  # lookup join keyed on the 8-byte hash
    # exactly one window node, per-document (lag over doc_id), never a
    # global sort
    assert len(re.findall(r"Window \(\d+\)", p)) == 1
    assert "windowspecdefinition(doc_id" in p


# ------------- explode-over-bound-interpreted-HOF tripwire (r15) -------------
# The r14 bisect pinned a 12-15x per-row cliff: explode() over an array
# column BOUND via withColumn to an interpreted-HOF expression
# (transform/zip_with/filter/aggregate/...) re-evaluates the HOF chain
# under Generate per OUTPUT row (bm25 sf0.1: 37-47 s through the bound
# form vs 2.5-3.4 s with the expression inlined into explode). Fold
# consumers (F.aggregate / size / element_at over the bound column) are
# measured safe — the cliff is explode specifically. This sweep fails
# any new source site before it can ship the cliff; extending the
# allowlist means re-measuring the site the way SCALE.md r14 did.

_HOF_FNS = {
    "transform", "filter", "zip_with", "aggregate", "exists", "forall",
    "map_filter", "map_zip_with", "transform_keys", "transform_values",
}
_EXPLODE_FNS = {"explode", "explode_outer", "posexplode", "posexplode_outer"}

EXPLODED_BOUND_HOF_ALLOWLIST: set[tuple[str, str]] = set()


def _exploded_bound_hof_cols(src: str) -> set[str]:
    """Column names that are (a) bound via withColumn to an expression
    containing an interpreted HOF and (b) later fed to explode* in the
    same module."""
    import ast

    tree = ast.parse(src)

    def contains_hof(node) -> bool:
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in _HOF_FNS
            for n in ast.walk(node)
        )

    bound: set[str] = set()
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "withColumn"
            and len(n.args) == 2
            and isinstance(n.args[0], ast.Constant)
            and contains_hof(n.args[1])
        ):
            bound.add(n.args[0].value)
    if not bound:
        return set()

    def colname_of(arg) -> str | None:
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        if (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Attribute)
            and arg.func.attr == "col"
            and arg.args
            and isinstance(arg.args[0], ast.Constant)
        ):
            return arg.args[0].value
        return None

    hits: set[str] = set()
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in _EXPLODE_FNS
            and n.args
        ):
            name = colname_of(n.args[0])
            if name in bound:
                hits.add(name)
    return hits


def test_detector_flags_the_reverted_bm25_helper_form():
    """Red on the exact shape the r14 bisect measured at 12-15x: the
    run-length entries bound to a column, then exploded."""
    bad = (
        "base = base.withColumn('_entries', F.zip_with(\n"
        "    F.col('_st'), F.col('_en'),\n"
        "    lambda s, e: F.struct(s.alias('a'), e.alias('b'))))\n"
        "ctf = base.select(F.explode(F.col('_entries')).alias('_e'))\n"
    )
    assert _exploded_bound_hof_cols(bad) == {"_entries"}
    # the safe inline form (expression passed straight to explode)
    good = (
        "entries = F.zip_with(F.col('_st'), F.col('_en'), "
        "lambda s, e: s + e)\n"
        "ctf = base.select(F.explode(entries).alias('_e'))\n"
    )
    assert _exploded_bound_hof_cols(good) == set()
    # fold consumers over a bound HOF column are the measured-safe use
    fold = (
        "base = base.withColumn('_st', F.filter(F.col('xs'), "
        "lambda i: i > 0))\n"
        "out = base.select(F.aggregate(F.col('_st'), F.lit(0), "
        "lambda a, b: a + b))\n"
    )
    assert _exploded_bound_hof_cols(fold) == set()


def test_no_unlisted_explode_over_bound_hof_in_package():
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "data_ingestor_gluejob_script_spark"
    )
    unlisted = set()
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        for col in _exploded_bound_hof_cols(py.read_text()):
            if (rel, col) not in EXPLODED_BOUND_HOF_ALLOWLIST:
                unlisted.add((rel, col))
    assert not unlisted, (
        f"explode over withColumn-bound interpreted-HOF columns "
        f"(the measured 12-15x Generate cliff — SCALE.md r14): {unlisted}"
    )


def test_bm25_dictionary_path_kills_query_time_df_aggregation(spark, tmp_path):
    """r15 plan pin for the BM25 scale knobs: every variant keeps the
    ONE deliberate hashpartitioning(doc_id) exchange, and the
    dictionary path (precomputed df_table) carries NO corpus-stream
    token aggregation at query time — its only token-keyed exchange is
    the query-side distinct (constant-size), vs the default plan's
    additional df groupBy over the restricted corpus stream."""
    from data_ingestor_gluejob_script_spark.queries._util import load
    from data_ingestor_gluejob_script_spark.queries.corpusstats import (
        bm25_search_join,
        vocab_frame,
    )
    from pyspark.sql import functions as F

    docs = load(spark, SF, "documents").select("doc_id", "text")
    qs = docs.filter(F.col("doc_id") < 8).selectExpr(
        "doc_id AS query_id", "text"
    )
    dft_path = str(tmp_path / "df_table")
    vocab_frame(docs).select(
        "token", F.col("n_docs").alias("df")
    ).write.parquet(dft_path)
    dft = spark.read.parquet(dft_path)

    def counts(**kw):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            bm25_search_join(docs, qs, k=5, **kw).explain("formatted")
        p = buf.getvalue()
        return (
            len(re.findall(r"hashpartitioning\(doc_id", p)),
            len(re.findall(r"hashpartitioning\(token", p)),
            p.count("df_table"),
        )

    d_doc, d_tok, d_dft = counts()
    t_doc, t_tok, t_dft = counts(max_df_frac=0.1)
    k_doc, k_tok, k_dft = counts(df_table=dft)
    kp_doc, kp_tok, kp_dft = counts(df_table=dft, max_df_frac=0.1)

    # the deliberate doc_id clustering exchange exists in every plan
    assert min(d_doc, t_doc, k_doc, kp_doc) >= 1
    # dictionary scans ride the plan exactly once, only when passed
    assert d_dft == t_dft == 0 and k_dft >= 1 and kp_dft >= 1
    # dictionary kills the query-time df aggregation: strictly fewer
    # token-keyed exchanges than the default, and both dict variants
    # bottom out at the same query-side-only count
    assert k_tok < d_tok and kp_tok < d_tok
    assert k_tok == kp_tok
    # full index-time stats: the avgdl CORPUS AGGREGATION disappears
    # (one fewer scan of the documents table — the broadcast side is a
    # 1-row local frame), while the crossJoin BARRIER itself stays —
    # the literal form measured 1.5x slower at the 5M-doc decade
    # (score projection collapsing into the interpreted-HOF map
    # stage; see bm25_search_join's inline note)
    def full_plan(**kw):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            bm25_search_join(docs, qs, k=5, df_table=dft, **kw).explain(
                "formatted"
            )
        return buf.getvalue()

    dict_p = full_plan()
    stats_p = full_plan(n_docs=500, avg_dl=66.0)
    assert "BroadcastNestedLoopJoin" in stats_p  # the barrier stays
    assert stats_p.count("documents.parquet") < dict_p.count(
        "documents.parquet"
    )
