"""Native HTML outlink extraction → host-level link graph.

The web-graph complement to the head-metadata stage (htmlmeta.py): pull
every ``<a href=…>`` from the raw markup, resolve it against the page's
own host, and aggregate into a (src_host, dst_host) edge list — the
input PageRank/TrustRank (components.py:pagerank) consume, closing the
html → link-graph → host-quality loop end-to-end inside the engine.

Spark-first shape (and why it scales to 10^12 pages):
  * anchor scan = ONE vectorized JVM ``regexp_extract_all`` per row
    inside a codegen'd projection — no Python, no parser object;
  * the explode fans out by the page's anchor count (bounded by page
    size, not corpus size) and stays a narrow map;
  * the ONLY exchange is the final (src_host, dst_host)-keyed groupBy,
    which is map-side combinable — a host pair seen 10^6 times on one
    partition ships as one partial row, so the shuffle is edge-set
    sized, not anchor-instance sized.

Cross-engine parity rules (Java regex on Spark, RE2 on DuckDB) are the
htmlmeta.py set: no backreferences (dq/sq patterns coalesced,
double-quote preferred), whitespace spelled as the literal Java ``\\s``
body, ``(?i)``/``(?s)`` only over ASCII literals.

Documented deterministic limitations (same class as htmlmeta's
attribute-order rule): attribute values containing ``>`` end the tag
early; nested ``<a>`` tags (invalid HTML) match up to the first
``</a>``.

Link-resolution rules (applied identically in both engines):
  * ``http://`` / ``https://`` absolute → target host from the URL;
  * protocol-relative ``//host/…`` → that host;
  * any OTHER scheme (``mailto:``, ``javascript:``, ``tel:``, ``data:``
    …) → dropped;
  * fragment-only (``#…``) or empty → dropped;
  * everything else (path-relative / root-relative) → resolves to the
    page's own host (a self-edge — real graphs keep these; PageRank's
    damping handles them);
  * host normalization: lowercase, strip one ``:port`` suffix, strip
    one leading ``www.``.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.wsre import JAVA_WS_BODY

_WS = "[" + JAVA_WS_BODY + "]"

# whole <a …>…</a> elements (group 0); (?s) so anchors wrap lines
_ANCHOR_PAT = f"(?is)<a{_WS}[^>]*>.*?</a{_WS}*>"
_HREF_DQ = f'(?i)href{_WS}*={_WS}*"([^"]*)"'
_HREF_SQ = f"(?i)href{_WS}*={_WS}*'([^']*)'"
_ANCHOR_TEXT_PAT = "(?is)^<a[^>]*>(.*)</a"
_ABS_HOST_PAT = "(?i)^https?://([^/?#]+)"
_PROTO_REL_HOST_PAT = "^//([^/?#]+)"
_SCHEME_PAT = "^([A-Za-z][A-Za-z0-9+.-]*):"
_PORT_PAT = ":[0-9]+$"
_WWW_PAT = "(?i)^www\\."


def _x(c: Column, pat: str) -> Column:
    return F.nullif(F.regexp_extract(c, pat, 1), F.lit(""))


def _clean_text(c: Column) -> Column:
    return F.nullif(F.trim(F.regexp_replace(c, _WS + "+", " ")), F.lit(""))


def normalize_host(c: Column) -> Column:
    """lowercase, strip one :port suffix, strip one leading www."""
    return F.nullif(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), _PORT_PAT, ""), _WWW_PAT, ""
        ),
        F.lit(""),
    )


def _resolve_dst(href: Column, src_host: Column) -> Column:
    """Target host per the resolution rules above (NULL = dropped)."""
    scheme = F.lower(F.regexp_extract(href, _SCHEME_PAT, 1))
    return F.when(
        href.rlike("(?i)^https?://"),
        normalize_host(F.regexp_extract(href, _ABS_HOST_PAT, 1)),
    ).when(
        href.startswith("//"),
        normalize_host(F.regexp_extract(href, _PROTO_REL_HOST_PAT, 1)),
    ).when(
        scheme != "", F.lit(None).cast("string")  # foreign scheme
    ).when(
        href.startswith("#") | (F.trim(href) == ""), F.lit(None).cast("string")
    ).otherwise(src_host)


def extract_outlinks(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per resolvable outlink: (doc_id, src_host, href,
    dst_host, anchor_text). Anchors without an href attribute and
    hrefs the resolution rules drop are filtered out; ``anchor_text``
    is whitespace-collapsed and NULL when the element body is empty.

    Narrow map + explode; zero exchanges (aggregate with
    :func:`host_link_graph`)."""
    c = F.coalesce(F.col(html_col), F.lit(""))
    src = normalize_host(
        F.regexp_extract(F.coalesce(F.col(url_col), F.lit("")), _ABS_HOST_PAT, 1)
    )
    anchors = df.select(
        F.col(id_col).alias("doc_id"),
        src.alias("src_host"),
        F.explode(
            F.regexp_extract_all(c, F.lit(_ANCHOR_PAT), F.lit(0))
        ).alias("elem"),
    )
    href = F.coalesce(
        _x(F.col("elem"), _HREF_DQ), _x(F.col("elem"), _HREF_SQ)
    )
    out = anchors.select(
        "doc_id",
        "src_host",
        href.alias("href"),
        _clean_text(F.regexp_extract("elem", _ANCHOR_TEXT_PAT, 1)).alias(
            "anchor_text"
        ),
    ).filter(F.col("href").isNotNull())
    return out.withColumn(
        "dst_host", _resolve_dst(F.col("href"), F.col("src_host"))
    ).filter(F.col("dst_host").isNotNull())


def host_link_graph(links: DataFrame) -> DataFrame:
    """Aggregate outlinks into the host edge list PageRank consumes:
    (src_host, dst_host, n_links, n_docs, sample_anchor) where n_docs
    counts distinct linking pages and sample_anchor is the minimum
    non-NULL anchor text (a deterministic witness that anchor capture
    works). One map-side-combinable shuffle keyed on the host pair."""
    return (
        links.groupBy("src_host", "dst_host")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("anchor_text").alias("sample_anchor"),
        )
    )


def anchor_terms(links: DataFrame, min_count: int = 2) -> DataFrame:
    """Incoming anchor-text term profile per target host — the classic
    web-relevance signal (the terms OTHER pages use when linking here):
    (dst_host, term, n_anchors, n_src_hosts). Terms come from the
    engine's shared lowercase tokenizer (curation._lower_words, same
    twin contract as the sketch/word-stat queries); ``n_src_hosts``
    counts distinct referring hosts, the anti-spam discriminator (one
    host repeating a term a million times still counts once). Rows
    below ``min_count`` anchors are pruned.

    Scale shape: token explode bounded by anchor-text length, then ONE
    (dst_host, term)-keyed aggregation — countDistinct expands to two
    map-side-combinable stages, no window, no Python."""
    from .curation import _lower_words

    toks = links.filter(F.col("dst_host").isNotNull()).select(
        "dst_host",
        "src_host",
        F.explode(
            _lower_words(F.coalesce(F.col("anchor_text"), F.lit("")))
        ).alias("term"),
    )
    return (
        toks.groupBy("dst_host", "term")
        .agg(
            F.count("*").alias("n_anchors"),
            F.countDistinct("src_host").alias("n_src_hosts"),
        )
        .filter(F.col("n_anchors") >= min_count)
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


def _sql_x(expr: str, pat: str) -> str:
    p = pat.replace("'", "''")
    return f"nullif(regexp_extract({expr}, '{p}', 1), '')"


def _sql_clean(expr: str) -> str:
    ws = _WS.replace("'", "''")
    return f"nullif(trim(regexp_replace({expr}, '{ws}+', ' ', 'g')), '')"


def _sql_norm_host(expr: str) -> str:
    port = _PORT_PAT.replace("'", "''")
    www = _WWW_PAT.replace("'", "''")
    return (
        "nullif(regexp_replace(regexp_replace("
        f"lower({expr}), '{port}', ''), '{www}', ''), '')"
    )


def sql_links_ctes(rel: str, html_expr: str = "html", url_expr: str = "url") -> str:
    """The shared WITH-clause body recomputing extract_outlinks in
    DuckDB: ``anchors`` → ``links0`` → ``links`` (doc_id, src_host,
    href, anchor_text, dst_host — dst_host may be NULL = dropped link).
    Used by every link-graph twin so the resolution rules live once."""
    ap = _ANCHOR_PAT.replace("'", "''")
    abs_host = _ABS_HOST_PAT.replace("'", "''")
    prel = _PROTO_REL_HOST_PAT.replace("'", "''")
    scheme = _SCHEME_PAT.replace("'", "''")
    src = _sql_norm_host(
        f"regexp_extract(coalesce({url_expr}, ''), '{abs_host}', 1)"
    )
    href = (
        f"coalesce({_sql_x('elem', _HREF_DQ)}, {_sql_x('elem', _HREF_SQ)})"
    )
    atext = _sql_clean(f"regexp_extract(elem, '{_ANCHOR_TEXT_PAT}', 1)")
    abs_dst = _sql_norm_host(f"regexp_extract(href, '{abs_host}', 1)")
    prel_dst = _sql_norm_host(f"regexp_extract(href, '{prel}', 1)")
    dst = (
        "CASE "
        f"WHEN regexp_matches(href, '(?i)^https?://') THEN {abs_dst} "
        f"WHEN href LIKE '//%' THEN {prel_dst} "
        f"WHEN lower(regexp_extract(href, '{scheme}', 1)) <> '' THEN NULL "
        "WHEN href LIKE '#%' OR trim(href) = '' THEN NULL "
        "ELSE src_host END"
    )
    return (
        f"anchors AS (SELECT doc_id, {src} AS src_host, "
        f"unnest(regexp_extract_all(coalesce({html_expr}, ''), '{ap}', 0)) AS elem "
        f"FROM {rel}), "
        f"links0 AS (SELECT doc_id, src_host, {href} AS href, {atext} AS anchor_text "
        "FROM anchors), "
        f"links AS (SELECT doc_id, src_host, href, anchor_text, {dst} AS dst_host "
        "FROM links0 WHERE href IS NOT NULL)"
    )


def sql_host_link_graph(rel: str, html_expr: str = "html", url_expr: str = "url") -> str:
    """DuckDB twin of extract_outlinks → host_link_graph (identical
    pattern strings and resolution CASE)."""
    return (
        f"WITH {sql_links_ctes(rel, html_expr, url_expr)} "
        "SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "min(anchor_text) AS sample_anchor "
        "FROM links WHERE dst_host IS NOT NULL "
        "GROUP BY src_host, dst_host"
    )


def sql_anchor_terms(
    rel: str,
    min_count: int = 2,
    html_expr: str = "html",
    url_expr: str = "url",
) -> str:
    """DuckDB twin of extract_outlinks → anchor_terms (shared link CTEs
    + the shared tokenizer twin)."""
    from .curation import _sql_lower_words

    words = _sql_lower_words("coalesce(anchor_text, '')")
    return (
        f"WITH {sql_links_ctes(rel, html_expr, url_expr)}, "
        f"toks AS (SELECT dst_host, src_host, unnest({words}) AS term "
        "FROM links WHERE dst_host IS NOT NULL) "
        "SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n_anchors, "
        "CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts "
        f"FROM toks GROUP BY dst_host, term HAVING count(*) >= {min_count}"
    )


# ---------------------------------------------------------------------------
# Registrable-domain (public-suffix) parsing
# ---------------------------------------------------------------------------
#
# Host-level operators (host_cap, host_quality_gate, the link graph)
# key on the raw hostname, but crawl policy usually wants the
# REGISTRABLE domain (PLD / "eTLD+1"): blog.shop.example.co.uk and
# www.example.co.uk are the same site. The parse is the public-suffix
# algorithm restricted to exact suffix rules: take the LONGEST known
# suffix that matches the host's trailing labels (checked at 3, 2,
# then 1 labels), else fall back to the last label (the PSL's implicit
# "unknown TLD is a suffix" rule); the registrable domain is the
# suffix plus one label, and anything left is the subdomain.
#
# _PSL_SUBSET is an embedded, documented SUBSET of the public suffix
# list (publicsuffix.org) — enough for tests and for the multi-label
# country suffixes that actually change grouping (co.uk, com.au, …).
# Production swaps the literal for the full PSL snapshot; the parse is
# a pure per-row projection either way (array ops on the split labels,
# ZERO exchanges, zero Python) because the suffix set rides into the
# plan as a literal IN-list / array_contains — the relational
# equivalent of a broadcast join against a 10k-row dimension, without
# paying a join for a table that small. Wildcard (*.ck) and exception
# (!city.kobe.jp) PSL rules are out of scope and documented so.

_PSL_SUBSET = [
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "ai", "dev",
    "app", "info", "biz", "co", "uk", "de", "fr", "jp", "au", "br", "in",
    "example",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "co.in", "ac.in",
    "act.gov.au",
]


def domain_parse(
    df: DataFrame, host_col: str = "host", psl: list[str] | None = None
) -> DataFrame:
    """Adds ``suffix`` (the matched public suffix), ``registrable``
    (eTLD+1 — NULL when the host IS a bare suffix) and ``subdomain``
    (labels left of the registrable domain, NULL when none). NULL /
    empty hosts parse to all-NULL. Hosts are expected pre-normalized
    (lowercase, no port — :func:`host_link_graph` form); no IDNA or
    IP-literal handling (documented out of scope)."""
    rules = sorted(psl if psl is not None else _PSL_SUBSET)
    lit = F.array(*[F.lit(s) for s in rules])
    labels = F.split(F.coalesce(F.col(host_col), F.lit("")), "\\.")
    n = F.size(labels)

    def tail(k):
        return F.array_join(F.slice(labels, -k, k), ".")

    base = df.withColumn("__labels", labels).withColumn("__n", n)
    lv = F.col("__labels")
    nn = F.col("__n")
    suf_len = (
        F.when((nn >= 3) & F.array_contains(lit, tail(3)), F.lit(3))
        .when((nn >= 2) & F.array_contains(lit, tail(2)), F.lit(2))
        .when(nn >= 1, F.lit(1))
        .otherwise(F.lit(0))
    )
    out = base.withColumn("__sl", suf_len)
    sl = F.col("__sl")
    suffix = F.when(
        (sl > 0) & (F.element_at(lv, 1) != F.lit("")),
        F.array_join(F.slice(lv, -sl, sl), "."),
    )
    registrable = F.when(
        suffix.isNotNull() & (nn > sl),
        F.array_join(F.slice(lv, -(sl + 1), sl + 1), "."),
    )
    subdomain = F.when(
        registrable.isNotNull() & (nn > sl + 1),
        F.array_join(F.slice(lv, 1, nn - sl - 1), "."),
    )
    return (
        out.withColumn("suffix", suffix)
        .withColumn("registrable", registrable)
        .withColumn("subdomain", subdomain)
        .drop("__labels", "__n", "__sl")
    )


def sql_domain_parse(
    hosts_select: str, psl: list[str] | None = None
) -> str:
    """DuckDB twin of :func:`domain_parse` over a subquery yielding
    ``host`` — same split, same longest-suffix-first cascade, same
    NULL rules (list slicing with negative offsets mirrors Spark's
    slice(-k, k) tail semantics)."""
    rules = sorted(psl if psl is not None else _PSL_SUBSET)
    lit = "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in rules) + "]"

    def tail(k: int) -> str:
        return f"array_to_string(l[-{k}:], '.')"

    return (
        f"WITH dp0 AS ({hosts_select}), "
        "dp1 AS (SELECT host, string_split(coalesce(host, ''), '.') AS l "
        "FROM dp0), "
        "dp2 AS (SELECT host, l, len(l) AS n, "
        f"CASE WHEN len(l) >= 3 AND list_contains({lit}, {tail(3)}) THEN 3 "
        f"WHEN len(l) >= 2 AND list_contains({lit}, {tail(2)}) THEN 2 "
        "WHEN len(l) >= 1 THEN 1 ELSE 0 END AS sl FROM dp1), "
        "dp3 AS (SELECT host, l, n, sl, "
        "CASE WHEN sl > 0 AND l[1] <> '' THEN "
        "array_to_string(l[-sl:], '.') END AS suffix FROM dp2) "
        "SELECT host, suffix, "
        "CASE WHEN suffix IS NOT NULL AND n > sl THEN "
        "array_to_string(l[-(sl + 1):], '.') END AS registrable, "
        "CASE WHEN suffix IS NOT NULL AND n > sl + 1 THEN "
        "array_to_string(l[1:n - sl - 1], '.') END AS subdomain "
        "FROM dp3"
    )


# ---------------------------------------------------------------------------
# Nepotistic-link classification (Davison, SIGIR 2000 "Recognizing
# nepotistic links on the Web")
# ---------------------------------------------------------------------------
#
# Link-based ranking (PageRank/HITS/anchor text) assumes links confer
# merit; nepotistic links — between pages of the same site/owner, or
# reciprocal link-exchange pairs — confer none and are the raw
# material of link spam. Davison's strongest features are structural:
# same host, same (registrable) domain, reciprocity; generic anchor
# text ("click here", "home") is the classic low-information signal.
# The per-host nepotism ratio feeds the rank pipeline the same way
# spam_mass does: a host whose outlinks are mostly nepotistic should
# not be trusted as a voter.
#
# Scale shape: link flags are narrow projections + two bounded joins —
# the registrable-domain attach is keyed on the DISTINCT host set
# (host-cardinality, not link-cardinality) and the reciprocity test is
# a semi-join of the distinct directed host-pair set against its own
# transpose (edge-set sized, map-side combinable). One src-keyed
# aggregate closes it; every reported number is integer (counts + one
# ppm DIV).

GENERIC_ANCHORS = [
    "click", "click here", "here", "home", "homepage", "link", "links",
    "more", "next", "previous", "read more", "this", "website", "www",
]


def nepotistic_links(
    links: DataFrame,
    psl: list[str] | None = None,
) -> DataFrame:
    """Per-source-host nepotism report over an extract_outlinks frame:
    (src_host, n_links, n_same_host, n_same_domain, n_reciprocal,
    n_generic_anchor, nepotism_ppm) — nepotism_ppm counts links with
    ANY structural flag (same host / same registrable domain /
    reciprocal) per million outlinks."""
    hosts = (
        links.select(F.col("src_host").alias("host"))
        .unionByName(links.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    reg = domain_parse(hosts, psl=psl).select("host", "registrable")
    pairs = links.select("src_host", "dst_host").distinct()
    recip = (
        pairs.alias("p")
        .join(
            pairs.select(
                F.col("dst_host").alias("src_host"),
                F.col("src_host").alias("dst_host"),
            ).alias("t"),
            ["src_host", "dst_host"],
            "left_semi",
        )
        .filter(F.col("src_host") != F.col("dst_host"))
        .withColumn("is_recip", F.lit(True))
    )
    l = (
        links.join(
            reg.select(
                F.col("host").alias("src_host"),
                F.col("registrable").alias("src_reg"),
            ),
            "src_host",
        )
        .join(
            reg.select(
                F.col("host").alias("dst_host"),
                F.col("registrable").alias("dst_reg"),
            ),
            "dst_host",
        )
        .join(recip, ["src_host", "dst_host"], "left")
    )
    same_host = F.col("src_host") == F.col("dst_host")
    same_dom = (
        ~same_host
        & F.col("src_reg").isNotNull()
        & (F.col("src_reg") == F.col("dst_reg"))
    )
    reciprocal = F.coalesce(F.col("is_recip"), F.lit(False)) & ~same_host
    generic = F.coalesce(
        F.lower(F.trim(F.col("anchor_text"))), F.lit("")
    ).isin(GENERIC_ANCHORS + [""])
    nepotistic = same_host | same_dom | reciprocal
    out = l.groupBy("src_host").agg(
        F.count("*").alias("n_links"),
        F.sum(same_host.cast("long")).alias("n_same_host"),
        F.sum(same_dom.cast("long")).alias("n_same_domain"),
        F.sum(reciprocal.cast("long")).alias("n_reciprocal"),
        F.sum(generic.cast("long")).alias("n_generic_anchor"),
        F.sum(nepotistic.cast("long")).alias("n_nepotistic"),
    )
    return out.select(
        "src_host",
        "n_links",
        "n_same_host",
        "n_same_domain",
        "n_reciprocal",
        "n_generic_anchor",
        F.expr("n_nepotistic * 1000000 DIV n_links").alias("nepotism_ppm"),
    )


def sql_nepotistic_links(
    rel: str,
    html_expr: str = "html",
    url_expr: str = "url",
    psl: list[str] | None = None,
) -> str:
    """DuckDB twin of extract_outlinks → :func:`nepotistic_links`."""
    anchors = ", ".join(
        "'" + a.replace("'", "''") + "'" for a in GENERIC_ANCHORS + [""]
    )
    dp = sql_domain_parse(
        "SELECT DISTINCT host FROM ("
        "SELECT src_host AS host FROM lk UNION ALL SELECT dst_host FROM lk)",
        psl=psl,
    )
    return f"""
WITH {sql_links_ctes(rel, html_expr, url_expr)},
lk AS (SELECT doc_id, src_host, dst_host, anchor_text FROM links
       WHERE dst_host IS NOT NULL),
reg AS (SELECT host, registrable FROM ({dp})),
pairs AS (SELECT DISTINCT src_host, dst_host FROM lk),
recip AS (SELECT p.src_host, p.dst_host, TRUE AS is_recip
          FROM pairs p
          WHERE p.src_host <> p.dst_host
            AND EXISTS (SELECT 1 FROM pairs t
                        WHERE t.src_host = p.dst_host
                          AND t.dst_host = p.src_host)),
fl AS (
  SELECT lk.src_host,
         (lk.src_host = lk.dst_host) AS same_host,
         (lk.src_host <> lk.dst_host AND rs.registrable IS NOT NULL
          AND rs.registrable = rd.registrable) AS same_dom,
         (coalesce(is_recip, FALSE) AND lk.src_host <> lk.dst_host)
           AS reciprocal,
         list_contains([{anchors}],
                       coalesce(lower(trim(lk.anchor_text)), ''))
           AS generic
  FROM lk
  JOIN reg rs ON lk.src_host = rs.host
  JOIN reg rd ON lk.dst_host = rd.host
  LEFT JOIN recip ON lk.src_host = recip.src_host
                 AND lk.dst_host = recip.dst_host)
SELECT src_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(sum(CASE WHEN same_host THEN 1 ELSE 0 END) AS BIGINT) AS n_same_host,
       CAST(sum(CASE WHEN same_dom THEN 1 ELSE 0 END) AS BIGINT) AS n_same_domain,
       CAST(sum(CASE WHEN reciprocal THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
       CAST(sum(CASE WHEN generic THEN 1 ELSE 0 END) AS BIGINT) AS n_generic_anchor,
       CAST(sum(CASE WHEN same_host OR same_dom OR reciprocal THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS nepotism_ppm
FROM fl
GROUP BY src_host
"""
