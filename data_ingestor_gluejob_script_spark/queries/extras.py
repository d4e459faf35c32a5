"""Benchmark registry for the UNREGISTERED operator suite.

The 50-query inventory in ``__spark_entry__.queries()`` is frozen
(tests/test_inventory.py); everything else that matters at scale —
corpus statistics, the quantize-then-rescore ANN family, Z-order
layout, connected components, the composed curation pipeline — was
until round 7 only timed ad-hoc in PLANS.md. ``extras()`` gives those
operators the same bench treatment as the registered inventory:
``bench.py`` times every entry per round into the ``extras`` block of
BENCH_DETAIL.json / the summary line, so a regression in unregistered
code shows up in the artifact, not just in a stale PLANS.md note.

Entries are (spark, sf_dir) -> DataFrame, same contract as
``queries()``; correctness for each lives in the pytest differentials
(test_corpusstats / test_similarity_ivf / test_quantize / test_graph /
test_corpus_pipeline / test_layout / test_skew) — this module is
about TIME, not results.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.diff import table_diff_summary
from ..operators.embed import semantic_dedup_docs
from ..operators.multimodal import image_dedup_frame
from ..operators.pca import fit_pca, project_pca
from ..operators.graph import connected_components, neardup_groups
from .audit import (
    accepted_values,
    audit_report,
    in_range,
    matches_regex,
    not_null,
    referential_check,
    unique_key,
)
from ..operators.layout import zorder_layout
from ..operators.skew import skew_report
from ._util import load, spread
from .bloom import bloom_decontaminate
from .bpe import x_bpe_encode
from .classifier import classifier_score_frame, standin_weights
from .docclean import (
    c4_line_filter_frame,
    dedup_spans_frame,
    gopher_quality_frame,
    gopher_repetition_frame,
    line_dedup_frame,
)
from .lm import stupid_backoff_logprob_frame
from .textnorm import normalize_text_frame
from .corpusstats import (
    bm25_search_join,
    bm25_topk_frame,
    cap_per_source_frame,
    unigram_logprob_frame,
    chunk_documents_frame,
    corpus_summary,
    duplicate_span_report,
    negative_samples_frame,
    repetition_frame,
    temperature_mixture_frame,
    tfidf_topk_frame,
    vocab_frame,
    weighted_sample_frame,
)
from .multimodal import _payloads as _media_payloads
from .retrieval import hybrid_search
from .similarity import (
    QUERY_VEC_ID,
    _load_emb,
    ivf_refine,
    knn_graph_frame,
    q_ivf_topk,
    quantized_rescore_topk,
    quantized_topk,
    semantic_dedup_frame,
)
from .pq import ivfpq_topk, pq_codebooks, pq_encode, pq_rescore_topk
from .textops import (
    contamination_report,
    minhash_dedup_frame,
    q_simhash_neardup_pairs,
    simhash64_neardup_pairs,
)
from .tokenizer import pack_token_stream, q_encode_corpus, vocab_with_ids
from .urlops import domain_stats_frame, url_dedup_frame
from .quality import compression_signals_frame
from .fuzzyjoin import fuzzy_join
from .htmlextract import html_extract_frame
from .profile import iqr_outliers, profile_frame
from .unigram import x_unigram_encode
from .webpipeline import curate_web_crawl
from ..sources.warc import read_warc
from ..sources.webdataset import build_tar, read_webdataset_samples
from .traindata import (
    attrition_report,
    group_aware_split_frame,
    pack_slices_frame,
    prepare_training_corpus,
    quality_survivor_frame,
    sample_to_token_budget,
    seq_pack_frame,
    split_leakage_report,
)
from ..shards import write_training_shards
from ..session import local_frame


def _shard_export_dir() -> str:
    """Fresh isolated output dir per x_shard_export invocation,
    removed at interpreter exit (the manifest frame returned to the
    bench is consumed before then)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="spark_graft_shard_export_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


_CDC_LAKES: dict[str, str] = {}


def _cdc_orders_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata orders table reshaped to the lake's stringly-typed
    CDC contract (id/status/payload + created_at/updated_at)."""
    # o_orderdate has shipped as both DATE and TIMESTAMP across
    # testdata generations — normalize through a timestamp cast
    ts = F.date_format(
        F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd HH:mm:ss"
    )
    return load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("string").alias("total"),
        F.col("o_orderpriority").alias("priority"),
        ts.alias("created_at"),
        ts.alias("updated_at"),
    )


def x_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC steady state (r8 verdict item #6): apply one mixed I/U/D
    change batch to a PREPOPULATED lake built from the sf orders table
    and report (rows upserted, rows deleted, partitions touched) as a
    1-row frame. The lake is built once per process (first rep pays
    it; best-of-reps times the steady-state apply, which is the number
    that matters — partition-rewrite amplification per batch).

    The change batch clusters in the most recent order years, the
    realistic CDC shape: updates/inserts/deletes land only in the
    created_at >= 1997 partitions — 56 of the current testdata lake's
    80 monthly partitions (the regenerated orders table spans
    1995-01..2001-08; an earlier generation made this ~12/80) — so
    the timing exposes whether the apply stays partition-scoped or
    rewrites the world. r17 I/O profile
    (scale_data/cdc_io_profile_r17.json): the steady-state apply
    rewrites EXACTLY the 56 touched partitions (none besides), and
    bytes written per batch ≈ the touched fraction of the lake
    (2.8 MB of 4.2 MB ≈ 56/80) — the write-amplification floor of
    partition-grained dynamic overwrite; going below it means
    file-level merge-on-read, i.e. a table-format change, not a plan
    fix.
    """
    import atexit
    import shutil
    import tempfile

    from ..pipeline import apply_cdc_batch, write_partitioned_upsert
    from ..registry import TableSpec

    spec = TableSpec(
        "bench_cdc_orders",
        ("id", "status", "total", "priority", "created_at", "updated_at"),
    )
    base = _cdc_orders_frame(spark, sf_dir)
    lake = _CDC_LAKES.get(sf_dir)
    if lake is None:
        lake = tempfile.mkdtemp(prefix="spark_graft_cdc_lake_")
        atexit.register(shutil.rmtree, lake, ignore_errors=True)
        write_partitioned_upsert(spark, base, spec, lake)
        _CDC_LAKES[sf_dir] = lake
    recent = base.filter(F.col("created_at") >= "1997-01-01")
    key = F.col("id").cast("long")
    upd = (
        recent.filter(key % 50 == 0)
        .withColumn("status", F.lit("X"))
        .withColumn("updated_at", F.lit("1998-12-01 00:00:00"))
        .withColumn("_op", F.lit("U"))
    )
    ins = (
        recent.filter(key % 200 == 1)
        .withColumn("id", F.concat(F.lit("n"), F.col("id")))
        .withColumn("_op", F.lit("I"))
    )
    dele = recent.filter(key % 200 == 2).withColumn("_op", F.lit("D"))
    changes = upd.unionByName(ins).unionByName(dele)
    n_up, n_del = apply_cdc_batch(spark, changes, spec, lake)
    n_parts = (
        changes.select(F.substring("created_at", 1, 7)).distinct().count()
    )
    return local_frame(
        spark,
        [(n_up, n_del, n_parts)],
        "n_upserted long, n_deleted long, n_partitions_touched long",
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(spark, load(spark, sf_dir, "documents"))


def _doc_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with a synthesized crawl URL: every 3 consecutive
    doc_ids are syntactic variants of ONE page (mixed case, explicit
    default port, fragment, tracking params), across a domain mix
    that exercises the second-level-suffix table. Pure map — the URL
    string is derived Catalyst-side, so the bench times the parser
    and the dedup/stats shuffles, not data generation."""
    docs = _docs(spark, sf_dir)
    page = F.floor(F.col("doc_id") / 3)
    tld = F.element_at(
        F.array(F.lit(".com"), F.lit(".co.uk"), F.lit(".org")),
        (page % 3 + 1).cast("int"),
    )
    host = F.concat(F.lit("www.site"), (page % 40), tld)
    seg = F.element_at(
        F.array(F.lit("en"), F.lit("es"), F.lit("de"), F.lit("zh")),
        (page % 4 + 1).cast("int"),
    )
    base_path = F.concat(F.lit("/"), seg, F.lit("/page/"), page)
    variant = F.col("doc_id") % 3
    url = (
        F.when(variant == 0, F.concat(F.lit("https://"), host, base_path))
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(host), F.lit(":443"), base_path,
                F.lit("?utm_source=bench&utm_medium=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, base_path,
                F.lit("?gclid=123&ref=feed#frag"),
            )
        )
    )
    return docs.withColumn("url", url)


def multiline_docs(docs: DataFrame, words_per_line: int = 10) -> DataFrame:
    """Reshape the single-line testdata documents into multi-line form
    (10-word lines joined by \\n) so corpus line dedup has real lines
    to work on. Pure map (split + slice + concat_ws) — no shuffle, and
    the repetitive generator vocabulary guarantees cross-document
    duplicate lines. The python-side oracle reshape in
    tests/test_docclean.py mirrors this chunking exactly (parity
    pinned by test_multiline_reshape_parity)."""
    ws = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(ws) / F.lit(words_per_line)).cast("int")
    idx = F.sequence(F.lit(0), n_lines - F.lit(1))
    lines = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(ws, i * words_per_line + 1, words_per_line)
        ),
    )
    return docs.select(
        "doc_id", F.concat_ws("\n", lines).alias("text")
    )


def _html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents wrapped into synthetic HTML pages, Catalyst-side:
    title + style + paragraph breaks every 8 words + a script island
    + a nav link, so the extractor's every strip rule fires. The
    bench times the mapInPandas extraction, not data generation."""
    docs = _docs(spark, sf_dir)
    # periods close each 8-word paragraph so the extracted lines are
    # sentence-shaped (the C4 terminal-punctuation rule downstream in
    # x_web_pipeline has survivors to keep)
    body = F.regexp_replace(
        F.col("text"),
        "((?:\\w+ ){7}\\w+) ",
        "$1.</p><p>",
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id"),
        F.lit("</title><style>p{margin:0}</style></head><body><p>"),
        body,
        F.lit(".</p><script>var t=1;</script>"),
        F.lit("<a href='/next'>next</a></body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


_WARC_FIXTURES: dict[str, str] = {}


def _warc_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Synthetic crawl fixture: the documents table serialized to
    WARC files (http-response records, Content-Length framing built
    Catalyst-side with octet_length) via the distributed text sink.
    Built once per process per sf — first rep pays the write,
    best-of-reps times the parse (the x_cdc_apply lake pattern).
    File count scales with the corpus above 50k docs (~6250
    records/file) because that is the format's real-world invariant:
    crawls bound FILE SIZE and grow file COUNT (Common Crawl: ~90k
    files of ~1 GB), so the file-per-task parallelism story must not
    degenerate into 8 multi-GB files at sf100."""
    import atexit
    import shutil
    import tempfile

    d = _WARC_FIXTURES.get(sf_dir)
    if d is not None:
        return d
    d = tempfile.mkdtemp(prefix="spark_graft_warc_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    docs = _html_docs(spark, sf_dir)
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
        F.lit("Content-Length: "),
        F.octet_length("html"),
        F.lit("\r\n\r\n"),
        F.col("html"),
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: "),
        F.concat(F.lit("<urn:doc:"), F.col("doc_id"), F.lit(">")),
        F.lit("\r\nWARC-Target-URI: http://bench.example/"),
        F.col("doc_id"),
        F.lit("\r\nContent-Type: application/http;msgtype=response"),
        F.lit("\r\nContent-Length: "),
        F.octet_length(http),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n"),  # text sink's trailing LF completes the pair
    )
    n_files = max(8, -(-docs.count() // 6250))
    docs.select(rec.alias("value")).repartition(n_files).write.mode(
        "overwrite"
    ).text(d)
    _WARC_FIXTURES[sf_dir] = d
    return d


_WDS_FIXTURES: dict[str, str] = {}


def _wds_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Synthetic WebDataset corpus: the multimodal payload table
    written as tar shards (one shard per task — the layout's real
    invariant: bounded shard size, growing shard count), each sample
    a (jpg, txt) member pair. Built once per process per sf, same
    caching contract as _warc_fixture_dir. The shard write is a
    side-effecting mapInPandas (each task serializes ITS partition
    with build_tar and writes one local shard file) — tar is a binary
    container the row-oriented text sink cannot emit."""
    import atexit
    import os
    import shutil
    import tempfile

    d = _WDS_FIXTURES.get(sf_dir)
    if d is not None:
        return d
    d = tempfile.mkdtemp(prefix="spark_graft_wds_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    rows = _media_payloads(spark, sf_dir).select("doc_id", "payload")
    n_files = max(8, -(-rows.count() // 4000))

    def write_shard(batches):
        import pandas as pd
        from pyspark import TaskContext

        samples = []
        for batch in batches:
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                samples.append(
                    {
                        "key": f"{int(doc_id):09d}",
                        "members": {
                            "jpg": bytes(payload),
                            "txt": f"caption {int(doc_id)}".encode(),
                        },
                    }
                )
        pid = TaskContext.get().partitionId()
        path = os.path.join(d, f"shard-{pid:05d}.tar")
        with open(path, "wb") as f:
            f.write(build_tar(samples))
        yield pd.DataFrame({"shard": [path], "n": [len(samples)]})

    rows.repartition(n_files).mapInPandas(
        write_shard, "shard string, n long"
    ).collect()
    _WDS_FIXTURES[sf_dir] = d
    return d


def _linkage_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Record-linkage bench shape: part names made unique with a key
    suffix (the raw names repeat by design, which would make the
    answer set quadratic in copies), vs a dirty twin with one
    key-derived character deleted. Both sides are pure maps."""
    base = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.concat_ws("-", "p_name", "p_partkey").alias("s"),
    )
    # delete the character at 1-based position pmod(id, len)+1
    dirty = base.select(
        "id",
        F.concat(
            F.expr("substring(s, 1, CAST(pmod(id, length(s)) AS INT))"),
            F.expr(
                "substring(s, CAST(pmod(id, length(s)) AS INT) + 2, "
                "length(s))"
            ),
        ).alias("s"),
    )
    return base, dirty


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _load_emb normalizes the stored column to the (vec_id, emb)
    # double-vector shape every similarity frame expects.
    return spread(spark, _load_emb(spark, sf_dir))


def _bench_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic stand-in benchmark corpus for decontamination:
    # every 25th document — guaranteed overlap, dimension-sized.
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("text")
    )


def extras() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name -> (spark, sf_dir) -> DataFrame, for bench.py --extras."""
    return {
        "x_vocab": lambda s, d: vocab_frame(_docs(s, d)),
        # near-dup REMOVAL end-to-end (exact collapse + band join +
        # inline signature verify + anti-join), vs the pair-listing
        # q_minhash_lsh_pairs already in the core set
        "x_minhash_dedup": lambda s, d: minhash_dedup_frame(_docs(s, d)),
        # 64-bit SimHash near-miss pairs (r16): the corpus-scale twin
        # of the registered 16-bit op, whose fingerprint space
        # saturates past ~1e5 docs (SCALE.md r15 tail); pigeonhole
        # band join over 4 disjoint 16-bit slices, exact-collapse
        # representatives first. Differential: test_curation_ops.
        "x_simhash64_pairs": lambda s, d: simhash64_neardup_pairs(
            _docs(s, d)
        ),
        # C4 corpus-level line dedup over the 10-word-line reshape
        "x_line_dedup": lambda s, d: line_dedup_frame(
            multiline_docs(_docs(s, d))
        ),
        "x_gopher_repetition": lambda s, d: gopher_repetition_frame(
            multiline_docs(_docs(s, d))
        ),
        # exact-substring dedup at 8-gram granularity (removal form)
        "x_dedup_spans": lambda s, d: dedup_spans_frame(_docs(s, d)),
        "x_temperature_mixture": lambda s, d: temperature_mixture_frame(
            _docs(s, d), alpha=0.6, total_frac=0.5
        ),
        "x_repetition": lambda s, d: repetition_frame(_docs(s, d)),
        "x_unigram_logprob": lambda s, d: unigram_logprob_frame(_docs(s, d)),
        # query terms: generator-vocabulary words present at every SF
        "x_bm25_topk": lambda s, d: bm25_topk_frame(
            _docs(s, d), ["scan", "window", "column"], k=10
        ),
        # lexical + dense hybrid (RRF fusion of BM25 and cosine top-k)
        "x_hybrid_search": lambda s, d: hybrid_search(
            _docs(s, d), _emb(s, d), ["scan", "window", "column"], k=10
        ),
        # retrieval-based decontamination shape: benchmark-sized query
        # set (every 500th doc) searched against the corpus in one pass
        "x_bm25_search": lambda s, d: bm25_search_join(
            _docs(s, d),
            load(s, d, "documents")
            .filter(F.col("doc_id") % 500 == 0)
            .selectExpr("doc_id AS query_id", "text"),
            k=5,
        ),
        # fixed-batch twin of x_bm25_search (round-12 verdict #4): a
        # CONSTANT 64-query batch (doc_id < 64 — dense from 0 at every
        # SF, and replica 0 of the scale recipe keeps those texts
        # verbatim), so this entry's decade ratio isolates corpus
        # growth; the %500 entry's batch grows with the corpus and
        # conflates query count with corpus size.
        "x_bm25_search_fixedq": lambda s, d: bm25_search_join(
            _docs(s, d),
            load(s, d, "documents")
            .filter(F.col("doc_id") < 64)
            .selectExpr("doc_id AS query_id", "text"),
            k=5,
        ),
        # r15: the max-df (common-term) pruned twin — two corpus
        # passes, but the doc_id exchange carries only selective-term
        # posting rows; on the 31-word testdata vocabulary every term
        # is common so this measures the pruned plan's WORST case
        # (nearly everything cut, pass-2 stream near-empty). The
        # natural-vocabulary decades are in SCALE.md "Round-15: BM25
        # on a natural vocabulary".
        "x_bm25_search_pruned": lambda s, d: bm25_search_join(
            _docs(s, d),
            load(s, d, "documents")
            .filter(F.col("doc_id") < 64)
            .selectExpr("doc_id AS query_id", "text"),
            k=5,
            max_df_frac=0.1,
        ),
        "x_tfidf_topk": lambda s, d: tfidf_topk_frame(_docs(s, d)),
        "x_dup_span_report": lambda s, d: duplicate_span_report(_docs(s, d)),
        "x_chunk_documents": lambda s, d: chunk_documents_frame(_docs(s, d)),
        "x_cap_per_source": lambda s, d: cap_per_source_frame(
            _docs(s, d), cap=50
        ),
        "x_weighted_sample": lambda s, d: weighted_sample_frame(
            _docs(s, d), {"src7": 1.0}, default=0.35
        ),
        "x_negative_samples": lambda s, d: negative_samples_frame(_docs(s, d)),
        "x_corpus_summary": lambda s, d: corpus_summary(_docs(s, d)),
        "x_pack_slices": lambda s, d: pack_slices_frame(
            seq_pack_frame(_docs(s, d))
        ),
        "x_attrition_report": lambda s, d: attrition_report(_docs(s, d)),
        "x_training_pipeline": lambda s, d: prepare_training_corpus(
            _docs(s, d), benchmark=_bench_docs(s, d), max_repetition=0.1
        ),
        "x_contamination_report": lambda s, d: contamination_report(
            _docs(s, d), _bench_docs(s, d)
        ),
        "x_bloom_decontaminate": lambda s, d: bloom_decontaminate(
            _docs(s, d), _bench_docs(s, d)
        ),
        "x_quality_classifier": lambda s, d: classifier_score_frame(
            _docs(s, d), standin_weights(s)
        ),
        # leakage-PROOF splits: near-dup groups move between splits
        # as one unit (the preventive twin of x_split_leakage). The
        # component map goes in as is: documents it omits are
        # singletons, which key on their own doc_id
        "x_group_split": lambda s, d: group_aware_split_frame(
            load(s, d, "documents"),
            connected_components(
                q_simhash_neardup_pairs(s, d).select("doc_a", "doc_b")
            ).toDF("doc_id", "group_id"),
        ),
        "x_split_leakage": lambda s, d: split_leakage_report(
            q_simhash_neardup_pairs(s, d).select("doc_a", "doc_b"),
            load(s, d, "documents"),
        ),
        "x_neardup_groups": lambda s, d: neardup_groups(
            q_simhash_neardup_pairs(s, d).select("doc_a", "doc_b"),
            load(s, d, "documents"),
        ),
        "x_zorder_layout": lambda s, d: zorder_layout(
            load(s, d, "lineitem"), ["l_orderkey", "l_partkey"]
        ),
        "x_skew_report": lambda s, d: skew_report(
            load(s, d, "lineitem"), "l_orderkey"
        ),
        # perceptual (dHash) image near-dup removal over the synthetic
        # payload column — payloads never shuffle, 8-byte hashes do
        "x_image_dedup": lambda s, d: image_dedup_frame(
            _media_payloads(s, d)
        ),
        # fit (one corpus scan -> d x d driver eigh) + whitened
        # projection (map-only) — the pre-clustering reduction stage
        "x_pca_project": lambda s, d: (
            lambda e: project_pca(e, fit_pca(e, 16), whiten=True)
        )(_emb(s, d)),
        "x_ivf_topk": q_ivf_topk,
        "x_ivf_refine": lambda s, d: ivf_refine(_emb(s, d)),
        "x_semantic_dedup": lambda s, d: semantic_dedup_frame(_emb(s, d)),
        "x_semantic_dedup_docs": lambda s, d: semantic_dedup_docs(_docs(s, d)),
        # real write: shards + manifest land in a PER-RUN temp dir
        # (atexit-cleaned), the returned manifest frame is what the
        # bench's noop sink consumes. A fixed shared path would let two
        # concurrent bench runs overwrite each other mid-read and leak
        # artifacts into /tmp (r8 advice finding).
        "x_shard_export": lambda s, d: write_training_shards(
            seq_pack_frame(_docs(s, d)),
            _shard_export_dir(),
            shard_key="pack_id",
            max_records_per_file=5000,
            token_col="n_tokens",
        ),
        # same export through the gzipped JSON-lines interchange path
        "x_shard_export_jsonl": lambda s, d: write_training_shards(
            seq_pack_frame(_docs(s, d)),
            _shard_export_dir(),
            shard_key="pack_id",
            max_records_per_file=5000,
            token_col="n_tokens",
            fmt="jsonl",
        ),
        "x_cdc_apply": x_cdc_apply,
        # snapshot diff of lineitem vs a mutated twin (1/7 removed,
        # 1/5 re-priced) — the post-backfill validation pass
        "x_table_diff": lambda s, d: (
            lambda li: table_diff_summary(
                li,
                li.filter(F.col("l_linenumber") % 7 != 0).withColumn(
                    "l_extendedprice",
                    F.when(
                        F.col("l_orderkey") % 5 == 0,
                        F.col("l_extendedprice") + 1,
                    ).otherwise(F.col("l_extendedprice")),
                ),
                ["l_orderkey", "l_linenumber"],
            )
        )(load(s, d, "lineitem")),
        "x_quality_audit": lambda s, d: audit_report(
            load(s, d, "orders"),
            [
                not_null("o_custkey"),
                in_range("o_totalprice", 0.0, 1_000_000.0),
                accepted_values("o_orderstatus", ["O", "F", "P"]),
                matches_regex("o_orderpriority", "^[1-5]-"),
                unique_key("o_orderkey"),
            ],
            referential=[
                referential_check(
                    load(s, d, "orders"),
                    "o_custkey",
                    load(s, d, "customer"),
                    "c_custkey",
                )
            ],
        ),
        "x_quantized_topk": lambda s, d: quantized_topk(
            _emb(s, d), QUERY_VEC_ID, 5
        ),
        "x_quantized_rescore": lambda s, d: quantized_rescore_topk(
            _emb(s, d), QUERY_VEC_ID, 5
        ),
        "x_pq_encode": lambda s, d: (
            lambda e: pq_encode(e, pq_codebooks(e))
        )(_emb(s, d)),
        "x_pq_rescore": lambda s, d: pq_rescore_topk(_emb(s, d)),
        "x_ivfpq_topk": lambda s, d: ivfpq_topk(_emb(s, d)),
        "x_vocab_ids": lambda s, d: vocab_with_ids(_docs(s, d)),
        "x_encode_corpus": q_encode_corpus,
        # real subword tokenization: 200-merge BPE trained on the
        # corpus (distributed word counts -> driver merge loop on the
        # Heaps-bounded table) + memoized Arrow-batch encode
        "x_bpe_encode": x_bpe_encode,
        "x_pack_token_stream": lambda s, d: (
            lambda docs: pack_token_stream(docs, vocab_with_ids(docs))
        )(_docs(s, d)),
        # web-curation toolkit: URL-exact dedup over 3 syntactic
        # variants per page (case, default port, fragment, tracking
        # params) -> ~1/3 survive; then per-domain mix stats
        "x_url_dedup": lambda s, d: url_dedup_frame(_doc_urls(s, d)),
        "x_domain_stats": lambda s, d: domain_stats_frame(_doc_urls(s, d)),
        # information-theoretic quality signals (zlib ratio + char
        # entropy) — Arrow-batched map, no shuffle
        "x_quality_signals": lambda s, d: compression_signals_frame(
            _docs(s, d)
        ),
        # near-dup removal keeping the BEST group member (argmax
        # lexical quality) instead of min doc_id
        "x_quality_survivor": lambda s, d: quality_survivor_frame(
            load(s, d, "documents"),
            neardup_groups(
                q_simhash_neardup_pairs(s, d).select("doc_a", "doc_b"),
                load(s, d, "documents"),
            ).select("doc_id", "group_id"),
        ),
        # deterministic subsample to a fixed token budget (hash order
        # + distributed prefix sum)
        "x_token_budget": lambda s, d: sample_to_token_budget(
            _docs(s, d), budget_tokens=100_000
        ),
        # Unicode normalization (NFC + control/zero-width strip +
        # whitespace canonicalization + mojibake signal) — one
        # Arrow-batched map, no shuffle
        "x_normalize_text": lambda s, d: normalize_text_frame(_docs(s, d)),
        # C4 line/page rules — pure-Catalyst HOF filter, shuffle-free
        "x_c4_clean": lambda s, d: c4_line_filter_frame(_docs(s, d)),
        # trigram Stupid Backoff LM, self-scored: counts (one gram-
        # keyed shuffle) + melt-join-pivot scoring pass
        "x_sb_logprob": lambda s, d: stupid_backoff_logprob_frame(
            _docs(s, d)
        ),
        # edit-distance record linkage (hashed deletion
        # neighborhoods): clean keyed part names vs a one-deletion
        # dirty twin. Variant signatures carry len-d of the key's
        # len chars, so neither a saturating gram vocabulary (the
        # q-gram first cut, quadratic at sf10) nor the shared
        # low-entropy name-half (the PassJoin second cut, quadratic
        # at sf1) can inflate buckets — see fuzzyjoin.py docstring.
        "x_fuzzy_join": lambda s, d: (
            lambda sides: fuzzy_join(
                sides[0], sides[1], "id", "s", max_dist=1
            )
        )(_linkage_sides(s, d)),
        # HTML -> text extraction over synthesized pages — Arrow-
        # batched map, no shuffle
        "x_html_extract": lambda s, d: html_extract_frame(
            _html_docs(s, d)
        ),
        # WARC container parse (8-file synthetic crawl; file = the
        # parallelism unit, fixture built once per process)
        "x_warc_parse": lambda s, d: read_warc(
            s, _warc_fixture_dir(s, d)
        ).select(
            "record_id", "target_uri", "http_status",
            F.octet_length("payload").alias("payload_bytes"),
        ),
        # every lineitem column profiled in ONE scan + one 1-row agg
        # (count/nulls/HLL-distinct/min/max/moments/GK quartiles)
        "x_profile": lambda s, d: profile_frame(
            load(s, d, "lineitem")
        ),
        # Tukey-fence outlier flags: one quantile pass -> 1-row
        # broadcast, flagging is a map (corpus never shuffles)
        "x_iqr_outliers": lambda s, d: iqr_outliers(
            load(s, d, "lineitem"), "l_extendedprice"
        ).select(
            "l_orderkey", "l_linenumber", "l_extendedprice",
            "fence_lo", "fence_hi", "is_outlier",
        ),
        # SentencePiece-style unigram LM: distributed word counts ->
        # driver EM -> memoized Arrow-batch Viterbi encode (the
        # second subword scheme beside x_bpe_encode)
        "x_unigram_encode": x_unigram_encode,
        # the whole crawl-side ingest in one entry: WARC -> extract ->
        # normalize -> C4 -> exact dedup -> token count (one
        # metadata-sized shuffle; everything upstream is map-only)
        "x_web_pipeline": lambda s, d: curate_web_crawl(
            s, _warc_fixture_dir(s, d), min_line_words=3,
            min_kept_lines=1,
        ),
        # WebDataset sharded-tar parse (the image-side x_warc_parse):
        # sample grouping rides tar contiguity — zero shuffle
        "x_webdataset_parse": lambda s, d: read_webdataset_samples(
            s, _wds_fixture_dir(s, d)
        ).select(
            "key",
            F.size(F.map_keys("members")).alias("n_fields"),
            F.octet_length(F.col("members")["jpg"]).alias("jpg_bytes"),
        ),
        # k-NN graph: LINEAR-OUTPUT twin of q_embed_neardup_pairs
        # (n·k rows by construction; banded candidates, compact band
        # shuffle, one partitioned window)
        "x_knn_graph": lambda s, d: knn_graph_frame(_emb(s, d), k=10),
        # Gopher QUALITY rule battery — pure Catalyst, shuffle-free
        # (the non-repetition half beside x_gopher_repetition)
        "x_gopher_quality": lambda s, d: gopher_quality_frame(
            _docs(s, d)
        ),
    }
