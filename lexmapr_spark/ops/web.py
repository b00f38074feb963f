"""Web-corpus URL curation: host extraction and domain-blocklist
filtering (the C4/RefinedWeb-style "bad URL" gate that precedes text
filters in a production pretraining pipeline).

All JVM expressions. The host comes from a regexp (not ``parse_url``)
so the DuckDB oracle computes the identical bytes; blocklist matching
uses registrable-domain *suffix* semantics (``ads.example.com``
matches a blocked ``example.com``) via a bounded suffix explode +
broadcast join — the scalable shape: the corpus side explodes at most
``len(host labels)`` (~4-6) rows per page and streams through a
BroadcastHashJoin, never shuffling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexmapr_spark.ops.util import fan_out

# scheme://host[:port]/...  (lowercased; port and userinfo stripped)
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"


def host_col(url: Column | str) -> Column:
    """Lowercased host of a URL ('' when the URL has no scheme/host)."""
    url = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def host_suffixes_col(host: Column) -> Column:
    """All dot-suffixes of a host: ``a.b.com -> [a.b.com, b.com, com]``.

    Bounded fan-out (number of labels), pure JVM sequence+transform.
    """
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.filter(
        F.transform(F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                    lambda i: F.array_join(F.slice(labels, i, n), ".")),
        lambda s: s != "")


def blocked_host_cond(host: Column, domains) -> Column:
    """True iff ``host`` equals a blocked domain or is a subdomain of
    one — the predicate behind :func:`filter_blocked_hosts`.

    Null-safety invariant: for a null/invalid URL ``host_col`` yields
    null, but ``host_suffixes_col`` still evaluates to a NON-null
    empty array (its sequence/filter operate on non-null literals),
    so ``arrays_overlap`` returns false — null-host rows are never
    blocked and ``~cond`` keeps them without any coalesce.
    """
    blocked_lit = F.array(*[F.lit(d.lower()) for d in sorted(set(domains))])
    return F.arrays_overlap(host_suffixes_col(host), blocked_lit)


def filter_blocked_hosts(docs: DataFrame, blocklist,
                         url_col: str = "url") -> DataFrame:
    """Drop documents whose URL host equals a blocked domain or is a
    subdomain of one. Returns the kept rows with a ``host`` column
    attached (downstream per-domain caps reuse it without re-parsing).
    Null URLs can never match a blocklist, so they are KEPT by both
    paths (the literal path guards against three-valued-logic drops).

    ``blocklist`` is either

    * a ``list[str]`` of domains — inlined as an array literal, so the
      gate is ONE ``arrays_overlap`` inside whole-stage codegen: zero
      shuffle, zero joins (right for curated lists up to ~10k rows);
    * a 1-column (``domain``) DataFrame — the corpus explodes its
      ≤ #host-labels suffixes through a BroadcastHashJoin against the
      list (big side never shuffles for the join), and the resulting
      hit-url set anti-joins back; its build strategy is left to
      Catalyst/AQE, which broadcasts when the hit count is small.
    """
    docs = fan_out(docs).withColumn("host", host_col(url_col))
    suffixes = host_suffixes_col(F.col("host"))
    if isinstance(blocklist, (list, tuple, set, frozenset)):
        return docs.where(~blocked_host_cond(F.col("host"), blocklist))
    blocked = blocklist.select(
        F.lower(F.col("domain")).alias("suffix")).distinct()
    hits = (docs
            .select(url_col, F.explode(suffixes).alias("suffix"))
            .join(F.broadcast(blocked), "suffix")
            .select(url_col).distinct())
    return docs.join(hits, url_col, "left_anti")


def host_rollup(docs: DataFrame, url_col: str = "url",
                text_col: str = "text", quality_threshold: float = 0.5,
                lang: str = "en") -> DataFrame:
    """Per-host curation dashboard: the table an operator reads before
    deciding which domains to cap, block, or re-crawl — doc counts,
    byte/token volume, duplicate-text rate, and how much of the host
    passes the standard quality / language gates.

    Scale shape: ONE projection (host + per-row integral features,
    all JVM expressions) followed by ONE ``groupBy(host)`` of
    map-side-combinable aggregates — a head host with 10^8 pages
    partial-aggregates before its exchange (no window anywhere). The
    per-host ratios are single divisions of integral aggregates —
    counts, not float accumulations — so every output cell reproduces
    bit-for-bit in any engine (the quality/lang gates reuse
    ``textstats``' per-row expressions, which are oracle-pinned).
    """
    from lexmapr_spark.ops.dedup import tokens_col
    from lexmapr_spark.ops.textstats import _lang_pred_col, _quality_cols

    docs = fan_out(docs)
    quality = F.round(_quality_cols(text_col)["quality"], 6)
    feat = docs.select(
        host_col(url_col).alias("host"),
        F.octet_length(F.col(text_col)).alias("nb"),
        F.size(tokens_col(text_col)).alias("nt"),
        F.md5(F.col(text_col)).alias("th"),
        (quality >= F.lit(quality_threshold)).cast("int").alias("qok"),
        (_lang_pred_col(text_col) == F.lit(lang)).cast("int").alias("lok"))
    agg = feat.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("total_bytes"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
        F.round(F.avg("nt"), 6).alias("mean_tokens"),
        F.countDistinct("th").alias("n_distinct_texts"),
        F.sum("qok").cast("bigint").alias("n_quality_pass"),
        F.sum("lok").cast("bigint").alias("n_lang_match"))
    return agg.withColumn(
        "dup_rate",
        F.round(1.0 - F.col("n_distinct_texts") / F.col("n_docs"), 6))


# tracking query parameters stripped by normalize_urls (prefix
# match for utm_*, exact-or-assigned match for the click ids)
_TRACKING_PARAM_RE = r"^(utm_|gclid($|=)|fbclid($|=)|msclkid($|=))"


def normalize_urls(docs: DataFrame, url_col: str = "url",
                   out_col: str = "canonical_url") -> DataFrame:
    """Add ``out_col``, the canonical form of ``url_col`` for dedup
    keys / rollup grouping:

    - fragment removed (``#...``);
    - scheme + authority lowercased (NOTE: the WHOLE authority,
      including any userinfo — RFC 3986 says usernames are
      case-sensitive, but for crawl-dedup keys case-folding the rare
      userinfo is the standard choice and is documented here);
    - default ports dropped (``http://...:80`` / ``https://...:443``;
      any other port is preserved);
    - tracking params (``utm_*``, ``gclid``, ``fbclid``, ``msclkid``)
      removed from the query string, other params preserved IN ORDER
      (no re-sorting: ``?b=1&a=2`` is semantically order-stable for
      dedup as long as both copies came from the same emitter — and
      re-sorting would conflate genuinely different URLs on servers
      that care about order); a query left empty loses its ``?``.

    Strings without a ``scheme://authority`` prefix pass through the
    same path/query rules unchanged except fragment/tracking
    stripping, so the column is total over dirty crawl data (NULL in
    -> NULL out). Every rule is expressed with operations DuckDB
    mirrors byte-for-byte (regexp_extract / substr / list_filter),
    keeping the op oracle-checkable.

    Shared subexpressions are STAGED as real attributes. Inlined into
    one projection, the fragment-stripped url and the authority
    prefix would appear ~30x; the final assembly contains an array
    HOF (the tracking-param ``filter``), which drops that projection
    out of WholeStageCodegen, and interpreted projections have NO
    common-subexpression elimination — so every regexp would re-run
    tens of times per row (the identical blowup class measured 7.5x
    on quantized SRP, round 4). Staging each shared piece (``u1``,
    ``prefix``, ``rest``, ``lp``, ``path``/``query``) as a non-cheap
    multi-referenced alias makes CollapseProject keep the stages
    split: each regexp runs ONCE per row. Zero shuffles and zero
    Python.
    """
    u = F.col(url_col)
    s1 = docs.withColumn("_u1", F.regexp_replace(u, "#.*", ""))
    s2 = s1.withColumn("_prefix", F.regexp_extract(
        F.col("_u1"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0))
    s3 = (s2
          .withColumn("_rest", F.col("_u1").substr(
              F.length("_prefix") + F.lit(1), F.length("_u1")))
          .withColumn("_lp", F.lower(F.col("_prefix"))))
    lp = F.col("_lp")
    s4 = (s3
          .withColumn("_lp2",
                      F.when(lp.startswith("http://")
                             & lp.endswith(":80"),
                             lp.substr(F.lit(1),
                                       F.length(lp) - F.lit(3)))
                      .when(lp.startswith("https://")
                            & lp.endswith(":443"),
                            lp.substr(F.lit(1),
                                      F.length(lp) - F.lit(4)))
                      .otherwise(lp))
          .withColumn("_qp", F.instr(F.col("_rest"), "?")))
    rest, qp = F.col("_rest"), F.col("_qp")
    s5 = (s4
          .withColumn("_path",
                      F.when(qp > 0, rest.substr(F.lit(1),
                                                 qp - F.lit(1)))
                      .otherwise(rest))
          .withColumn("_q",
                      F.when(qp > 0, rest.substr(qp + F.lit(1),
                                                 F.length(rest)))
                      .otherwise(F.lit(""))))
    s6 = s5.withColumn("_fq", F.array_join(F.filter(
        F.split(F.col("_q"), "&"),
        lambda x: (x != F.lit("")) & ~x.rlike(_TRACKING_PARAM_RE)),
        "&"))
    out = s6.withColumn(out_col, F.concat(
        F.col("_lp2"), F.col("_path"),
        F.when(F.col("_fq") != "",
               F.concat(F.lit("?"), F.col("_fq")))
         .otherwise(F.lit(""))))
    return out.drop("_u1", "_prefix", "_rest", "_lp", "_lp2",
                    "_qp", "_path", "_q", "_fq")
