"""Web-data curation: URL parsing, normalization, dedup, and
domain-level balancing/filtering.

Web-crawl corpora (C4, RefinedWeb, Dolma) are keyed by URL: the first
curation stages are URL normalization (so syntactic variants of one
page collapse), URL-exact dedup, per-domain statistics and caps (one
mega-domain must not dominate the training mix), and domain
block/allow lists. The reference engine has no web-specific surface
(its corpus is table-shaped — gluejob.py:306-327 enumerates ERP
tables), so this module is pure extension surface, designed the same
way as the rest of the corpus toolkit:

- Parsing is Catalyst-only: ``parse_url`` (JVM expression over
  java.net.URI) plus regexps — no Python in the hot path, so the
  whole normalize pass is a map inside whole-stage codegen.
- Tracking-parameter removal is a higher-order ``filter`` over the
  split query string whose lambda references ONLY its own variable
  (the PLANS.md HOF contract: interpreted lambdas re-evaluate
  captured expression trees per element).
- Dedup is the digest-groupBy + LEFT SEMI shape from
  ``textops.exact_dedup_frame``: the shuffle carries normalized URLs
  (bytes of a URL, not of a document), min-id precedence keeps the
  survivor set batching- and partitioning-invariant.
- Registered-domain extraction uses an explicit second-level-suffix
  table (``SECOND_LEVEL_SUFFIXES``). A production deployment swaps in
  the full Mozilla Public Suffix List the same way the classifier
  swaps in real fastText weights — the lookup stays a literal
  ``isin`` / broadcast join either way; the heuristic is documented,
  not hidden.

Scale shape at 100 TB: parse/normalize/registered-domain are
shuffle-free maps; ``url_dedup_frame`` is one keyed shuffle of URL
strings; ``domain_stats_frame`` is one partial-aggregated shuffle of
domain keys (Zipf-headed, combines map-side); the block/allow filter
broadcasts the (small) domain list. Nothing touches document payloads
except the final semi-join row selection.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, functions as F

from ..session import local_frame
from .corpusstats import cap_per_source_frame

# Query parameters that identify a tracking campaign, not a resource.
# Removing them is what makes syntactic URL variants of the same page
# collapse under exact dedup. Anchored at '^name=' so e.g. 'refresh=1'
# or 'href=...' survive.
TRACKING_PARAM_RE = r"^(utm_[a-z0-9]+|gclid|fbclid|msclkid|dclid|igshid|mc_cid|mc_eid|ref)="

# Multi-label public suffixes under which the registered domain is the
# THIRD label from the right (www.bbc.co.uk -> bbc.co.uk). Deliberately
# a short built-in table of the common cases; the full Public Suffix
# List drops in as a bigger literal list (or a broadcast join) without
# changing the plan shape.
SECOND_LEVEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.nz", "org.nz", "net.nz", "ac.nz", "govt.nz",
    "co.in", "net.in", "org.in", "ac.in", "gov.in",
    "co.za", "org.za", "web.za",
    "com.br", "net.br", "org.br", "gov.br",
    "com.mx", "org.mx", "gob.mx",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.sg", "com.tr", "com.ar", "com.co", "com.my", "com.hk",
    "com.tw", "co.kr", "or.kr", "co.th", "co.id",
]

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def _clean_query(query: Column) -> Column:
    """Query string with tracking parameters removed.

    ``filter`` over the '&'-split keeps parameter ORDER (reordering
    would be a different normalization policy and would break
    round-tripping); empty segments ('a=1&&b=2') are dropped. NULL in
    -> NULL out; a query that becomes empty -> empty string (the
    caller drops the '?').
    """
    kept = F.filter(
        F.split(query, "&"),
        lambda kv: (kv != "") & ~F.lower(kv).rlike(TRACKING_PARAM_RE),
    )
    return F.when(query.isNull(), F.lit(None).cast("string")).otherwise(
        F.array_join(kept, "&")
    )


def _registered_domain(host: Column) -> Column:
    """Registered (pay-level) domain of a lowercased host.

    IPv4 literals, single-label hosts (localhost) and two-label hosts
    pass through unchanged; otherwise the last two labels are kept,
    or three when the two-label tail is a known second-level public
    suffix. All array ops are codegen'd element_at/slice — no UDF.
    """
    labels = F.split(host, r"\.")
    n = F.size(labels)
    tail2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    tail3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    is_ipv4 = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    return (
        F.when(host.isNull() | is_ipv4 | (n <= 2), host)
        .when(tail2.isin(SECOND_LEVEL_SUFFIXES) & (n >= 3), tail3)
        .otherwise(tail2)
    )


def parse_urls_frame(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Parse + normalize a URL column entirely in Catalyst.

    Adds: ``scheme`` (lowercased), ``host`` (lowercased, no port),
    ``registered_domain``, ``path`` (raw; '' -> '/'), and
    ``url_norm`` — the canonical form used as the dedup key:

    - scheme and host lowercased,
    - default ports (http:80, https:443, ftp:21) stripped, other
      ports kept,
    - fragment dropped,
    - tracking parameters removed (``TRACKING_PARAM_RE``), remaining
      parameters in original order, '?' dropped if none survive,
    - empty path -> '/'.

    Unparseable URLs (``parse_url`` -> NULL host) keep NULL in every
    derived column including ``url_norm`` — downstream dedup must not
    collapse all malformed rows into one survivor, and a NULL key
    naturally joins nothing. Shuffle-free map.
    """
    url = F.col(url_col)
    scheme = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    raw_host = F.try_parse_url(url, F.lit("HOST"))
    host = F.lower(raw_host)
    authority = F.try_parse_url(url, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    raw_path = F.try_parse_url(url, F.lit("PATH"))
    path = F.when(
        raw_path.isNull() | (raw_path == ""), F.lit("/")
    ).otherwise(raw_path)
    query = _clean_query(F.try_parse_url(url, F.lit("QUERY")))

    default_port = F.coalesce(
        *[
            F.when(scheme == s, F.lit(p))
            for s, p in _DEFAULT_PORTS.items()
        ],
        F.lit(""),
    )
    port_part = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    query_part = F.when(
        query.isNull() | (query == ""), F.lit("")
    ).otherwise(F.concat(F.lit("?"), query))

    url_norm = F.when(
        host.isNull() | scheme.isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
    )
    parsed_host = F.when(raw_host.isNull(), F.lit(None).cast("string")).otherwise(host)
    return (
        df.withColumn("scheme", scheme)
        .withColumn("host", parsed_host)
        .withColumn("registered_domain", _registered_domain(parsed_host))
        .withColumn("path", F.when(raw_host.isNull(), F.lit(None).cast("string")).otherwise(path))
        .withColumn("url_norm", url_norm)
    )


def url_dedup_frame(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-exact dedup after normalization: one survivor (min id) per
    ``url_norm``. Rows whose URL fails to parse (NULL ``url_norm``)
    are ALL kept — malformed keys carry no evidence two rows are the
    same page.

    Same plan as ``textops.exact_dedup_frame``: groupBy-min on the
    key + LEFT SEMI on (key, id); the shuffle carries normalized URL
    strings, and payload columns ride only through the semi join's
    probe side. Malformed rows keep through the SAME join under a
    per-row sentinel key ('\\x00' + id — unambiguous, no url_norm
    starts with a control byte), not a separate union branch: a
    filter+union shape would scan the parsed corpus a third time and
    funnel nothing through AQE's exchange reuse. Adds the parse
    columns to the output (the caller just paid for them; dropping
    them would force a re-parse downstream).
    """
    parsed = parse_urls_frame(df, url_col).withColumn(
        "_k",
        F.coalesce(
            F.col("url_norm"),
            F.concat(F.lit("\x00"), F.col(id_col).cast("string")),
        ),
    )
    keep = parsed.groupBy("_k").agg(F.min(id_col).alias(id_col))
    return parsed.join(keep, ["_k", id_col], "left_semi").drop("_k")


def domain_stats_frame(
    df: DataFrame, url_col: str = "url", chars_col: str | None = "n_chars"
) -> DataFrame:
    """Per-registered-domain corpus statistics: document count, char
    volume, and each domain's share of both — the mix report that
    drives per-domain caps and temperature reweighting.

    One partial-aggregated shuffle on the domain key (web domains are
    Zipf-headed, so the map-side combine absorbs the hot head); the
    grand totals come from a second aggregation over the DOMAIN table
    (domain-count-sized, not corpus-sized) broadcast back as a 1-row
    frame.
    """
    parsed = parse_urls_frame(df, url_col)
    chars = (
        F.sum(F.col(chars_col))
        if chars_col in parsed.columns
        else F.sum(F.lit(0))
    )
    per_dom = parsed.groupBy("registered_domain").agg(
        F.count("*").alias("n_docs"),
        chars.cast("long").alias("n_chars"),
    )
    totals = F.broadcast(
        per_dom.agg(
            F.sum("n_docs").alias("_tot_docs"),
            F.sum("n_chars").alias("_tot_chars"),
        )
    )
    return (
        per_dom.crossJoin(totals)
        .select(
            "registered_domain",
            "n_docs",
            "n_chars",
            F.round(F.col("n_docs") / F.col("_tot_docs"), 6).alias("doc_share"),
            F.round(
                F.when(F.col("_tot_chars") > 0, F.col("n_chars") / F.col("_tot_chars"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("char_share"),
        )
    )


def domain_filter_frame(
    df: DataFrame,
    domains: Iterable[str],
    mode: str = "block",
    url_col: str = "url",
) -> DataFrame:
    """Block- or allow-list filtering on the registered domain.

    ``mode='block'`` drops rows whose registered domain is listed
    (broadcast LEFT ANTI); ``mode='allow'`` keeps only listed domains
    (broadcast LEFT SEMI). The list is domain-count-sized -> always
    the broadcast side; the corpus never shuffles. Matching is on the
    registered domain, so blocking 'spam.com' covers every subdomain
    — the same granularity block lists are published at (UT1,
    Dolma's filters). Unparseable URLs are dropped in allow mode
    (they can't prove membership) and kept in block mode (they can't
    prove a match).
    """
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    spark = df.sparkSession
    dom = F.broadcast(
        local_frame(
            spark, [(d.lower(),) for d in domains], "registered_domain string"
        ).distinct()
    )
    parsed = parse_urls_frame(df, url_col)
    how = "left_anti" if mode == "block" else "left_semi"
    return parsed.join(dom, "registered_domain", how)


def cap_per_domain_frame(
    df: DataFrame, cap: int, url_col: str = "url"
) -> DataFrame:
    """Keep at most ``cap`` documents per registered domain, chosen
    deterministically by md5(doc_id) — ``cap_per_source_frame`` keyed
    on the parsed domain (the input must carry ``doc_id``, like every
    corpus frame here). One window shuffle on the domain key; output
    bounded by cap x n_domains regardless of how hot the head domain
    is."""
    parsed = parse_urls_frame(df, url_col)
    return cap_per_source_frame(parsed, cap, key="registered_domain")
