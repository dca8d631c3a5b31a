"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction-pipeline query on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB twins; the driver compares row counts, schemas
and order-insensitive value hashes at sf0.01.

Column-name discipline: every computed column is aliased identically in
the Spark query and the SQL twin.

Operators whose core is a Python kernel inside a pandas UDF (transcript
parse, minhash, simhash, langid, fingerprint, media decode) cannot run
in DuckDB; where feasible the oracle re-expresses the *relational*
portion, otherwise the entry is omitted → the driver's weaker rows-only
check applies (documented per query below).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

# Shared SQL fragment (valid in Spark SQL and DuckDB alike) appending
# deterministic non-Latin suffixes to the ASCII-only synthetic docs so
# script_profile's branches and the mixed-script rule fire for real.
# doc_id % 5 == 4 plants Cyrillic homoglyphs inside Latin-looking words
# — the phishing shape the mixed flag exists for. The suffix carries 39
# Cyrillic chars vs 38 Latin, so the >5% rule fires for any doc with up
# to 703 original Latin letters (corpus max across SFs: 479) — the
# homoglyph branch is exercised with mixed_script = TRUE, not just
# vacuously present. Branch 3 stays pure-Latin as the clean negative.
_SCRIPT_AUG = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN ' Привет мир сегодня' "
    "WHEN 1 THEN ' 日本語のテキストです' "
    "WHEN 2 THEN ' مرحبا بالعالم' "
    "WHEN 3 THEN '' "
    "ELSE ' раураl ассоunt асtіоn rеquіrеd vеrіfу sесurіtу dеtаіls "
    "nоw соnfіrm раsswоrd іmmеdіаtеlу' END"
)

# Shared fragment building deterministic synthetic HTML pages from doc
# fields (the documents table carries extracted text, not markup).
# Branches exercise every html_meta field in both quote styles, a
# multiline title (chr(10) — portable, unlike '\n' literals, which
# DuckDB does not escape-process), absent fields, and attribute noise.
# Single quotes inside the generated markup use standard SQL ''
# doubling — identical in Spark SQL and DuckDB.
_HTML_AUG = (
    "CASE CAST(doc_id % 4 AS INT) "
    # double-quoted everything + og + canonical
    "WHEN 0 THEN '<html lang=\"' || lang || '\"><head><title>' || source "
    "|| ' page ' || doc_id || '</title>"
    '<meta name="description" content="\' '
    "|| substr(coalesce(text, ''), 1, 40) || '\">"
    '<meta property="og:title" content="OG \' || source || \'">'
    '<link rel="canonical" href="https://\' || source '
    "|| '.example/p/' || doc_id || '\"></head><body>' "
    "|| coalesce(text, '') || '</body></html>' "
    # single-quoted attrs + wrapped title, no canonical/og
    "WHEN 1 THEN '<html lang=''' || lang || '''><head><title>' "
    "|| chr(10) || '  Wrapped ' || source || chr(10) "
    "|| 'Title  </title><meta name=''description'' content=''' "
    "|| substr(coalesce(text, ''), 1, 30) || '''></head>' "
    # title only
    "WHEN 2 THEN '<html><head><title>Only ' || source "
    "|| '</title></head><body>no metadata</body></html>' "
    # charset + lang, no title
    "ELSE '<html lang=\"en-GB\"><head><meta charset=utf-8>"
    "<meta name=\"robots\" content=\"noindex\"></head></html>' END"
)

# Credit-card augmentation for the Luhn scrub: valid public test
# numbers in all three separator styles (space / hyphen / none, four
# brands, 14-16 digits), a Luhn near-miss that must SURVIVE, a 20-digit
# order id (candidate truncates to 19, fails Luhn, survives) and a
# clean branch. Engine-identical SQL.
_CC_AUG = (
    "CASE CAST(doc_id % 6 AS INT) "
    "WHEN 0 THEN ' card 4111 1111 1111 1111 ok' "
    "WHEN 1 THEN ' pay 5500-0000-0000-0004 then 4012888888881881 fast' "
    "WHEN 2 THEN ' invalid 4111111111111112 stays' "
    "WHEN 3 THEN ' amex 340000000000009.' "
    "WHEN 4 THEN ' order 12345678901234567890 and 6011000990139424' "
    "ELSE '' END"
)

# Soft-404 text fixture: a short hard error shell (phrase + short →
# soft404), a real doc with an incidental error sentence (phrase, long
# → NOT soft404 for docs above the word floor), a short takedown page,
# and untouched text as the clean branch.
_ERR404_TEXT = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN 'HTTP 404 Error. The page you requested was not found "
    "on this server.' "
    "WHEN 1 THEN coalesce(text, '') || ' Note: an error occurred while "
    "rendering comments.' "
    "WHEN 2 THEN 'Sorry, this content is no longer available. It has "
    "been removed by the author. Please return to the homepage.' "
    "ELSE text END"
)

# Publication-date fixtures: a deterministic per-doc ISO day plus six
# branches covering every source in priority order — meta beats a
# conflicting JSON-LD (branch 0), single-quoted <time>, JSON-LD alone,
# URL-path fallback, an invalid month/day (raw extracted, parse NULL)
# and a dateless page. lpad/CAST(.. AS STRING) parse identically in
# Spark SQL and DuckDB.
_PUB_DT = (
    "(CAST(2000 + doc_id % 25 AS STRING) || '-' || "
    "lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0') || '-' || "
    "lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'))"
)
_PUBDATE_URL = (
    "'https://' || source || '.example' || CASE WHEN doc_id % 6 = 3 "
    "THEN '/' || CAST(2000 + doc_id % 25 AS STRING) || '/' || "
    "lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0') || '/' || "
    "lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0') || '/post' "
    "ELSE '/p/' || CAST(doc_id AS STRING) END"
)
_PUBDATE_AUG = (
    "CASE CAST(doc_id % 6 AS INT) "
    "WHEN 0 THEN '<html><head>"
    '<meta property="article:published_time" content="\' || '
    + _PUB_DT
    + " || 'T08:30:00+00:00\">"
    '<script type="application/ld+json">'
    '{"datePublished": "1999-01-01"}</script></head></html>\' '
    "WHEN 1 THEN '<html><body><time datetime=''' || "
    + _PUB_DT
    + " || '''>today</time></body></html>' "
    "WHEN 2 THEN '<script type=\"application/ld+json\">"
    '{"datePublished": "\' || '
    + _PUB_DT
    + " || 'T12:00:00Z\"}</script>' "
    "WHEN 3 THEN '<html><body>no dates here</body></html>' "
    "WHEN 4 THEN '<meta property=\"article:published_time\" "
    "content=\"2021-13-99T00:00:00\">' "
    "ELSE '<html><body>plain</body></html>' END"
)

# Sentence-segmentation fixture: corpus text carries no terminators,
# so branches append terminator shapes — multi-sentence runs, closing
# quotes/brackets after the terminator, repeated dots, and an
# unterminated branch (trailing fragments are KEPT by design).
_SENT_AUG = (
    "coalesce(text, '') || CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN '. First extra. Second one! Is it? End' "
    "WHEN 1 THEN '? \"Quote.\" (Paren.) tail' "
    "WHEN 2 THEN '' "
    "ELSE '. Multi.. dots... edge! ' END"
)

# Meta-keywords fixture: clean list, duplicate-stuffed list (case
# folded), whitespace-only entries (all dropped), absent tag.
_KW_AUG = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN '<meta name=\"keywords\" content=\"spark, data, web '"
    " || source || '\">' "
    "WHEN 1 THEN '<meta name=''keywords'' "
    "content=''Cheap, cheap, CHEAP, deals, deals''>' "
    "WHEN 2 THEN '<meta name=\"keywords\" content=\" , , \">' "
    "ELSE '<html><head></head></html>' END"
)

# Head-link profile fixture: meta-refresh redirect (dq url / sq
# delay-only), feeds in both attribute orders (the tag-scoped rlike
# filter is order-free), an href-less feed tag (dropped from
# feed_urls), an AMP alternate, hreflang pairs in both quote styles
# plus an href-less hreflang (dropped), and a link-free page.
_LINKPROF_AUG = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN '<html><head>"
    '<meta http-equiv="refresh" content="0; url=https://moved.example/new">'
    '<link rel="alternate" type="application/rss+xml" href="https://\' '
    "|| source || '.example/feed.xml\">"
    '<link rel="alternate" type="application/rss+xml">'
    "</head></html>' "
    "WHEN 1 THEN '<meta http-equiv=''refresh'' content=''5''>' "
    "WHEN 2 THEN '<link type=\"application/atom+xml\" rel=\"alternate\" "
    'href="/atom.xml"><link rel="amphtml" href="https://amp.\' '
    "|| source || '.example/p/' || CAST(doc_id AS STRING) || '\">' "
    "WHEN 3 THEN '<link rel=\"alternate\" type=\"application/rss+xml\" "
    'href="/rss"><link rel="alternate" type="application/atom+xml" '
    'href="/atom"><link rel="alternate" hreflang="en" '
    'href="https://en.example/p"><link rel=\'\'alternate\'\' '
    "hreflang=''de-AT'' href=''https://de.example/p''>"
    '<link rel="alternate" hreflang="fr">\' '
    "ELSE '<html><head><title>x</title></head></html>' END"
)

# OpenGraph / Twitter-card fixture: full double-quoted card, sparse
# single-quoted card, twitter-only page (has_og_card stays FALSE), and
# a bare page.
_OGCARD_AUG = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN '<head><meta property=\"og:type\" content=\"article\">"
    '<meta property="og:image" content="https://img.\' || source || \'.example/p.jpg">'
    '<meta property="og:url" content="https://\' || source || \'.example/p/\' || CAST(doc_id AS STRING) || \'">'
    '<meta property="og:description" content="A  multi\tspace   blurb">'
    '<meta property="og:site_name" content="The \' || source || \' Site">'
    '<meta name="twitter:card" content="summary_large_image"></head>\' '
    "WHEN 1 THEN '<meta property=''og:type'' content=''product''>"
    "<meta name=''twitter:card'' content=''summary''>' "
    "WHEN 2 THEN '<meta name=\"twitter:card\" content=\"player\">' "
    "ELSE '<html><head><title>bare</title></head></html>' END"
)

# Typographic-punctuation fixture: curly quotes + dashes + ellipsis,
# zero-widths/NBSP/BOM, untouched ASCII, and real doc text (mostly
# untouched — pins was_changed=false on clean input).
_PUNCT_AUG = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN '\u201cSmart\u201d quotes \u2018' || source || "
    "'\u2019 \u2014 and\u2013dashes\u2026' "
    "WHEN 1 THEN 'zero\u200bwidth\u200c joins and nbsp\u00a0here\ufeff' "
    "WHEN 2 THEN 'plain ascii ' || source || ' text - no change.' "
    "ELSE text END"
)

# Page-shape fixture: content page with script+style mass, a login
# wall (password input), a markup shell (tags, no visible text), an
# unquoted-attr uppercase password input, and plain unmarked text.
_PAGESHAPE_AUG = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN '<html><head><script>var x=1;</script><style>.a{}'"
    " || '</style></head><body><p>Real ' || source || ' text here.</p>"
    "<div>More text</div></body></html>' "
    "WHEN 1 THEN '<form action=\"/login\"><input type=\"text\" name=\"u\">"
    '<input type="password" name="p"></form>\' '
    "WHEN 2 THEN '<div><div><div><span></span></div></div></div>' "
    "WHEN 3 THEN '<SCRIPT src=\"x.js\">ignored</SCRIPT><INPUT TYPE=password>' "
    "ELSE 'plain ' || source || ' text, no markup at all' END"
)

# Image alt-text fixture: caption-worthy alt, icon alt (below the
# 3-word bar), alt-less img, orphan alt (no src — dropped), empty src
# (dropped), data-URI payload, attrs split across lines, bare page.
_IMGALT_AUG = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN '<img src=\"https://img.' || source || "
    "'.example/' || CAST(doc_id AS STRING) || '.jpg\" "
    'alt="A photo of ' + "' || source || '"
    " products on display\"><img alt=''icon'' src=''/i.png''>"
    '<img src="/no-alt.gif">\' '
    "WHEN 1 THEN '<IMG SRC=\"/up.JPG\" ALT=\"Two  words\">"
    "<img alt=\"orphan no src\"><img src=\"\">' "
    "WHEN 2 THEN '<img' || chr(10) || '  src=\"data:image/png;base64,AA\"'"
    " || chr(10) || '  alt=\"inline data uri image\">' "
    "ELSE '<p>no images here</p>' END"
)

# Structural-extraction fixture (heading outline / JSON-LD types /
# first-table cell grid). Variants exercise: inline markup + collapsed
# whitespace in headings, nested JSON-LD entities, a second table
# (ignored), uppercase tags + single-quoted type attr + a newline
# inside a heading, a mismatched heading close (<h2>..</h3> — closes at
# the first </hN>, documented), an empty-after-strip heading (dropped),
# the JSON-array @type form (extracts nothing, documented), ragged rows
# with a mid-row <th>, an empty cell (NULL at its grid position), and
# an empty page.
_HSTRUCT_AUG = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN '<html><h1>Big <em>' || source || '</em></h1><p>x</p>"
    '<h2 class="s">Sec  one</h2>'
    '<script type="application/ld+json">{"@context":"s",'
    '"@type":"NewsArticle","author":{"@type":"Person"}}</script>'
    '<table class="d"><tr><th>Name</th><th>Qty</th></tr>'
    "<tr><td>alpha</td><td>' || CAST(doc_id AS STRING) || '</td></tr>"
    '<tr><td><a href="/x">beta</a></td><td></td></tr></table>'
    "<table><tr><td>ignored</td></tr></table><h3>End</h3></html>' "
    "WHEN 1 THEN '<SCRIPT TYPE=''application/ld+json''>"
    '{"@type": "Product"}</SCRIPT><H4>Level\' || chr(10) || \'four</H4>'
    "<TABLE><TR><TD>' || source || '</TD><TD>b</TD></TR></TABLE>' "
    "WHEN 2 THEN '<h6>deep</h6><h1><span></span></h1>"
    "<h2>mismatch</h3><h2>' || source || '</h2>' "
    "WHEN 3 THEN '<script type=\"application/ld+json\">"
    '{"@type": ["A","B"]}</script>'
    '<script type="application/ld+json">{"@type":"FAQPage",'
    '"m":[{"@type":"Question"},{"@type" : "Answer"}]}</script>'
    '<table><tr><td colspan="2">wide ' + "' || source || '"
    "</td></tr><tr><td>x</td><th>y</th><td>z</td></tr></table>' "
    "ELSE '' END"
)

# Shared fragments for the link-graph query: a synthetic page URL and
# anchor-rich HTML derived from doc fields. Links exercise: absolute
# same-host, absolute cross-host with uppercase tag + www + :port (all
# normalized away), protocol-relative, root-relative (resolves to the
# page host), dropped schemes (mailto/javascript) and fragment-only,
# a multiline anchor body (whitespace collapse) and an empty one
# (NULL anchor_text).
_LINKS_URL = "'https://' || source || '.example/p/' || doc_id"

# Shared host-graph edge set for the rank-family oracles (pagerank,
# trustrank, HITS, spam mass): source host -> a quadratic-residue-mixed
# synthetic neighbor, so the graph has hubs, dangling nodes and cycles.
_SPAM_EDGES = (
    "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 + doc_id) % 29 "
    "AS VARCHAR) AS dst FROM documents"
)
_LINKS_AUG = (
    "'<html><body>'"
    " || '<a href=\"https://' || source || '.example/p/' || ((doc_id + 1) % 500)"
    " || '\">Next page</a>'"
    " || '<A HREF=''http://WWW.src' || CAST(doc_id % 7 AS INT)"
    " || '.Example:8080/x''>Cross' || chr(10) || '  Host Link</A>'"
    " || '<a href=\"//cdn.src' || CAST(doc_id % 3 AS INT)"
    " || '.example/lib.js\">cdn asset</a>'"
    " || '<a href=\"/about.html\">About</a>'"
    " || '<a href=\"#top\">top</a>'"
    " || '<a href=\"mailto:ops@' || source || '.example\">mail</a>'"
    " || '<a href=\"javascript:void(0)\">run</a>'"
    " || CASE WHEN doc_id % 4 = 0 THEN"
    " '<a href=''https://partner.example/deal''></a>' ELSE '' END"
    " || '</body></html>'"
)

# Rendezvous-hash shard list shared by q_hrw_shards and its twin.
_HRW_SHARDS = ["store-%02d" % i for i in range(8)]

# Funnel fixture: the ordered conversion steps and window shared by
# q_funnel_steps and its twin (events carries exactly these types).
_FUNNEL_STEPS = ["view", "click", "signup", "purchase"]
_FUNNEL_WINDOW_S = 7 * 86400.0

# Snapshot fixture (url-history expansion for snapshot_delta): each doc
# becomes 1 + doc_id%5 snapshots of the SAME url at hourly spacing.
# Text mutation is engine-identical SQL: even doc_ids change EVERY
# snapshot (rate 1.0 → hot), odd multiples of 7 change once at j=3
# (rate 1/(k-1) → hot at k=3, warm at k=4..5), other multi-snapshot
# docs never change (cold), single-snapshot docs read 'new' — all four
# recrawl buckets fire at sf0.01.
_SNAP_TS = "1700000000 + (doc_id % 86400) + j * 3600"
_SNAP_TEXT = (
    "text || CASE WHEN doc_id % 2 = 0 THEN ' [rev ' || j || ']' "
    "WHEN doc_id % 7 = 0 AND j >= 3 THEN ' [amended]' ELSE '' END"
)

# Frontier fixture: 23 synthetic hosts plus a NULL-host politeness
# bucket (doc_id % 31); priority = n_chars % 97 so ties are plentiful
# and the (priority DESC, url ASC) tie-break is actually exercised.
_FRONTIER_HOST = (
    "CASE WHEN doc_id % 31 = 0 THEN NULL ELSE 'h' || (doc_id % 23) END"
)

# Redirect fixture (edge set for the resolver): 'u' chains descend to
# the nearest multiple of 5 (1-4 hops, ok), 'c' is a 6-cycle (too_many
# by hop overshoot), 'x' is one 40-deep chain — its tail (<=16 hops
# from the terminal x0) resolves ok, its head exceeds the cap. The 'c'
# rows repeat across docs, exercising the min(dst) canonicalization.
_REDIR_EDGES = (
    "SELECT 'u' || CAST(doc_id AS VARCHAR) AS src, "
    "'u' || CAST(doc_id - 1 AS VARCHAR) AS dst "
    "FROM documents WHERE doc_id % 5 <> 0 "
    "UNION ALL SELECT 'c' || CAST(doc_id % 6 AS VARCHAR) AS src, "
    "'c' || CAST((doc_id % 6 + 1) % 6 AS VARCHAR) AS dst FROM documents "
    "UNION ALL SELECT 'x' || CAST(doc_id AS VARCHAR) AS src, "
    "'x' || CAST(doc_id - 1 AS VARCHAR) AS dst "
    "FROM documents WHERE doc_id >= 1 AND doc_id <= 40"
)

# robots.txt fixture: one synthetic file per host (from DISTINCT
# source), engine-identical SQL. Exercises: comments, mixed-case keys
# (User-Agent / DISALLOW / allow), tab after colon, unknown directives
# (Crawl-delay, Sitemap) dropped, a blank separator line, and — on the
# 5-char hosts (src10..src19) — a second group with STACKED agents
# (MyBot + helper share rules). '*' group blocks /p/1 (prefix: /p/1,
# /p/10..19, /p/100.. all match) but allows /p/12 back; the MyBot
# group blocks everything under /p/ except the /p/7 prefix.
_ROBOTS_HOST = "source || '.example'"
_ROBOTS_TXT = (
    "'# robots for ' || source || chr(10)"
    " || 'User-Agent: *' || chr(10)"
    " || 'Disallow: /p/1   # trailing comment' || chr(10)"
    " || 'Allow:' || chr(9) || '/p/12' || chr(10)"
    " || 'Crawl-delay: 10' || chr(10)"
    " || '' || chr(10)"
    " || CASE WHEN length(source) > 4 THEN"
    " 'User-agent: MyBot' || chr(10) || 'User-agent: helper' || chr(10)"
    " || 'DISALLOW: /p/' || chr(10) || 'allow: /p/7' || chr(10)"
    " ELSE '' END"
    " || 'Sitemap: https://' || source || '.example/sitemap.xml'"
)

# sitemap fixture: one synthetic sitemap.xml per host. Entry 1 is
# minimal (loc only); entry 2 pads <loc> with whitespace/newlines (the
# edge-trim rule) and carries lastmod; entry 3 carries changefreq +
# priority (0.N from the source ordinal — TRY_CAST/cast both parse);
# on 5-char hosts a fourth, loc-LESS entry must be dropped.
_SITEMAP_XML = (
    "'<?xml version=\"1.0\"?><urlset>'"
    " || '<url><loc>https://' || source || '.example/p/1</loc></url>'"
    " || '<url><loc>' || chr(10) || '  https://' || source"
    " || '.example/p/2 ' || chr(10) || '</loc>'"
    " || '<lastmod>2024-0' || (1 + length(source) % 9) || '-15</lastmod></url>'"
    " || '<url><loc>https://' || source || '.example/p/3</loc>'"
    " || '<changefreq>daily</changefreq>'"
    " || '<priority>0.' || (length(source) % 10) || '</priority></url>'"
    " || CASE WHEN length(source) > 4 THEN"
    " '<url><lastmod>2024-01-01</lastmod></url>' ELSE '' END"
    " || '</urlset>'"
)

# domain-parse fixture: five host shapes per source — country
# multi-label suffix (co.uk), known gTLD with deep subdomain, the
# single-label '.example' fallback (unknown TLD → implicit suffix),
# a 3-label-tested com.au, and a bare-suffix host ('com') that must
# parse to NULL registrable.
_DOMAIN_HOST = (
    "CASE doc_id % 5 WHEN 0 THEN 'www.' || source || '.co.uk' "
    "WHEN 1 THEN 'blog.shop.' || source || '.com' "
    "WHEN 2 THEN source || '.example' "
    "WHEN 3 THEN 'cdn.static.' || source || '.com.au' "
    "ELSE 'com' END"
)

_HOLDOUT_HOST = (
    "CASE WHEN doc_id % 31 = 0 THEN NULL WHEN doc_id % 31 = 1 THEN 'com' ELSE 'www.site' || CAST(doc_id % 97 AS STRING) || '.co.uk' END"
)

# layout-template fixture: 4 tag-sequence layouts (2 body variants ×
# 2 table variants) with per-doc TEXT variation (text must not affect
# the layout key); group sizes straddle min_count=50 so both template
# verdicts fire.
_TEMPLATE_HTML = (
    "'<html><head><title>T</title></head><body>'"
    " || CASE WHEN doc_id % 4 = 0 THEN"
    " '<div><ul><li><a></a></li></ul></div>' ELSE '<p><b></b></p>' END"
    " || CASE WHEN doc_id % 7 < 2 THEN"
    " '<table><tr><td></td></tr></table>' ELSE '' END"
    " || '<p>text ' || doc_id || '</p></body></html>'"
)

# crawl-trap url fixture: six shapes — over-deep path, ;jsessionid
# path parameter, /YYYY/MM/ calendar at depth 4, repeated segments,
# session query param with multiple params, and a clean url.
_TRAP_URL = (
    "'https://' || source || '.example' || CASE doc_id % 6 "
    "WHEN 0 THEN '/a/b/c/d/e/f/g/h/i/p' || doc_id "
    "WHEN 1 THEN '/p/x;JSESSIONID=ABC' || doc_id "
    "WHEN 2 THEN '/2023/11/events/p' || doc_id "
    "WHEN 3 THEN '/cat/item/cat/item/p' || doc_id "
    "WHEN 4 THEN '/p/' || doc_id || '?a=1&b=2&sid=' || doc_id "
    "ELSE '/p/' || doc_id END"
)

# Host-boilerplate fixture: per-host template lines (copyright + nav) on
# every doc of the host → stripped at min_docs=3; 'Annual report notice'
# appears on ~1 doc per host (doc_id % 25 == 0 → 20 docs over 20 hosts)
# — ≥3 corpus-wide but <3 per host, so HOST scoping keeps it where
# corpus-wide dedup_lines would strip it; 'Story id <id>' is unique per
# doc and always survives.
_BOILER_AUG = (
    "coalesce(text, '') || chr(10) || 'Copyright 2024 ' || source || chr(10)"
    " || 'Home | About | Contact — ' || source || chr(10)"
    " || CASE WHEN doc_id % 25 = 0 THEN 'Annual report notice' || chr(10)"
    " ELSE '' END"
    " || 'Story id ' || doc_id"
)

# Robots fixture: both quote styles, multi-directive lists, case folding,
# the 'none' alias, a token-boundary NEGATIVE ('noindexing nofollowup'
# must not match), and a tag-free page (indexable by default).
_ROBOTS_AUG = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN '<html><head><meta name=\"robots\" "
    "content=\"noindex, nofollow\"></head></html>' "
    "WHEN 1 THEN '<html><head><meta name=''robots'' "
    "content=''NOFOLLOW''></head></html>' "
    "WHEN 2 THEN '<head><meta name=\"robots\" content=\"none\"></head>' "
    "WHEN 3 THEN '<head><meta name=\"robots\" "
    "content=\"noindexing nofollowup\"></head>' "
    "ELSE '<html><head><title>no robots</title></head></html>' END"
)

# Committed oracle fixtures (see tests/make_oracle_fixtures.py): kernel
# outputs precomputed in pure Python so DuckDB twins can recompute the
# relational math, plus sequential independent-path recompute goldens.
import os as _os

_FIXTURE_DIR = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "tests", "fixtures", "oracle"
)


def _fixture(name: str) -> str:
    return f"read_parquet('{_os.path.join(_FIXTURE_DIR, name)}')"

# ---------------------------------------------------------------------------
# shared inline fixtures (same literal rows in Spark and in the SQL twins)
# ---------------------------------------------------------------------------

SPEAKERS = [
    "Rahul Sharma", "Priya Patel CFO", "Chief Executive Officer", "Moderator",
    "MANAGEMENT", "Operator", "Ramdas", "Ananya Chief Operating Officer",
    "Managing Director Gupta", "Scrip Code", "Random Analyst", "Company Secretary",
    "Amit CEO Verma", "Jane CFO", "Plain Name",
]

FIN_SNIPPETS = [
    (0, "revenue of Rs. 1,234.5 crores this quarter"),
    (1, "sales of $ 250 million in the US"),
    (2, "Rs 890 crores in revenue was reported"),
    (3, "EBITDA stands at Rs 432.1 crores now"),
    (4, "YoY growth of 8.5% was strong"),
    (5, "the business was down 3% sequentially"),
    (6, "grew by 12.5% across segments"),
    (7, "22% EBITDA margin and gross margin of 61.2%"),
    (8, "margin of 18% overall"),
    (9, "In Q3 FY18 and Q1 we saw fiscal year 2018-19 trends and FY2021 plans"),
    (10, "turnover of INR 77 crores and 5% growth"),
    (11, "no financial content in this one at all"),
    (12, "EBITDA of $ 55.5 million improved"),
    (13, "income of Rs. 12 crores and operating margin of 9.5%"),
    (14, "Q2 FY2019 had quarter-on-quarter growth of 2.2%"),
]

TURN_ROWS = [
    (0, "Moderator", "Good day and welcome to the conference call of the company"),
    (1, "Rahul Sharma", "Revenue growth was strong this quarter with margin expansion and profit up"),
    (2, "Operator", "Please stay connected while we transfer you to the management team now"),
    (3, "MANAGEMENT", "MR. RAHUL SHARMA – CEO, MS. PRIYA PATEL – CFO"),
    (4, "Priya Patel", "short answer"),
    (5, "Scrip Code", "five one two three four five six seven eight nine ten eleven"),
    (6, "Company Secretary", "regd. office filing details follow for the record of this exchange"),
    (7, "Ananya Rao", "This conference is being recorded and will be archived on the website"),
    (8, "Vikram Mehta", "Our outlook and guidance for the full fiscal year remains unchanged and positive"),
    (9, "Meera Iyer", "thank you and over to you"),
]

ROSTER_ROWS = [
    (1, "RAHUL SHARMA", "CEO"),
    (2, "PRIYA PATEL", "CFO"),
    (3, "ARJUN GUPTA", "MANAGING DIRECTOR"),
]

MATCH_SPEAKERS = [
    (0, "Rahul Sharma", "statement one"),
    (1, "Mr. Sharma", "statement two"),
    (2, "Rahul K. Sharma", "statement three"),
    (3, "Priya Patel", "statement four"),
    (4, "Patel", "statement five"),
    (5, "Unrelated Person", "statement six"),
    (6, "MANAGEMENT", "roster row must be excluded"),
    (7, "Sunita Gupta", "last name matches arjun gupta"),
]

URL_ROWS = [
    (0, "https://host0.example/cipla/Aug_2018_Transcript_5.html", "2018-08-15 10:00:00"),
    (1, "https://host1.example/lupin/Earnings_Call_Q3_FY18_9.pdf", "2017-11-02 09:30:00"),
    (2, "https://host2.example/zydex/Call_2019_77.html", "2019-03-01 00:00:00"),
    (3, "https://host3.example/helix/Q4_FY21_results.pdf", "2021-02-11 08:00:00"),
    (4, "https://host4.example/medigen/no_date_here.html", "2020-06-30 23:59:59"),
    (5, "https://host0.example/cipla/Sep_2023_call_q2_fy24.html", "2023-09-09 12:00:00"),
]

ROSTER_CONTENTS = [
    (0, "MR. RAHUL SHARMA – CEO, MS. PRIYA PATEL – CFO"),
    (1, "DR. ARJUN GUPTA – MANAGING DIRECTOR and MR. KEN TANAKA – GROUP PRESIDENT"),
    (2, "nothing here"),
]

# documents-vocabulary keyword categories (same operator, corpus-fit data)
DOC_CATEGORIES = {
    "Scan & Filter": ["scan", "filter", "table", "row"],
    "Join & Shuffle": ["join", "merge", "hash", "key"],
    "Aggregation": ["agg", "group", "window", "sort"],
    "Streaming": ["stream", "batch"],
    "Storage": ["column", "part", "vector"],
}

DOC_BUSINESS = [
    "spark", "join", "agg", "window", "stream", "vector", "hash",
    "merge", "scan", "sort", "filter", "query", "batch", "column",
]
DOC_ADMIN = ["slow slow", "dup dup"]
DOC_QA = ["fast fast", "small big"]
DOC_CLOSING = ["the the the"]

AS_OF = "2024-02-01"

# per-source sampling rates for the deterministic stratified sampler
SAMPLE_FRACTIONS = {"src0": 0.5, "src1": 0.25, "src2": 0.1}

# URL-filter fixture: mixed schemes / asset extensions / blocked hosts
URL_FILTER_ROWS = [
    (0, "https://ok.example/LUPIN/call.pdf"),
    (1, "http://ok.example/page"),
    (2, "ftp://ok.example/file.txt"),
    (3, "https://ok.example/logo.PNG"),
    (4, "https://ok.example/style.css?v=3"),
    (5, "https://spam.example/CIPLA/earnings.html"),
    (6, "https://ok.example/report.html#s2"),
    (7, "not-a-url"),
    (8, "https://SPAM.example/x"),
]
URL_BLOCKED_HOSTS = ("spam.example",)

# NFC fixture: composed vs decomposed accents, ligature (unchanged in
# NFC), compatibility char, combining sequences, ASCII, empty, NULL
FOLD_ROWS = [
    (0, "caf\u00e9 menu"),
    (1, "cafe\u0301 menu"),       # decomposed spelling, same fold
    (2, "na\u00efve r\u00e9sum\u00e9"),
    (3, "\u0142\u00f8\u00df no decomposition"),  # pass through whole
    (4, "\u0915\u093e spacing mark drops"),       # Devanagari ka + aa matra
    (5, "plain ascii"),
    (6, ""),
    (7, None),
    (8, "A\u030a ring and e\u0301\u0323 stack"),
]

NFC_ROWS = [
    (0, "caf\u00e9 composed"),
    (1, "cafe\u0301 decomposed"),
    (2, "\ufb01le ligature stays"),
    (3, "A\u030a ring composes"),
    (4, "\u00bd vulgar fraction stays"),
    (5, "plain ascii"),
    (6, ""),
    (7, None),
    (8, "mixed e\u0301\u0323 reorders"),
]

# URL canonicalization fixture: every edge the op defines — tracking
# strip with order preserved, empty '&&' segment, second '?' kept as
# query content, bare '?', default vs non-default ports, case rules
# (head lowered, path/query case kept), non-URL passthrough, NULL
URL_CANON_ROWS = [
    (0, "https://EXAMPLE.com/Path/Page?a=1&utm_source=x&b=2#frag"),
    (1, "http://Host.Example:80/index.html"),
    (2, "https://host.example:443/x?utm_campaign=spring"),
    (3, "https://host.example:8443/x"),
    (4, "http://host.example/x?gclid=abc&fbclid=def"),
    (5, "https://host.example/a?x=1&&y=2?z=3"),
    (6, "not a url at all?utm_source=x"),
    (7, None),
    (8, "HTTPS://UPPER.example/KeepCasePath"),
    (9, "https://host.example/p?"),
    (10, "ftp://Files.Example/readme.TXT#top"),
    (11, "https://host.example/only?utm_a=1&utm_b=2"),
]

# engine-shared derivation for the sentence_chunks query: four
# sentences per synthetic doc (terminator variety: . ! ?), identical
# ANSI expression in Spark SQL and DuckDB
SENT_CHUNK_TEXT_EXPR = (
    "coalesce(text, '') || '. ' || coalesce(text, '') || '! ' || "
    "substr(coalesce(text, ''), 1, 40) || '? closing words here.'"
)

# phrase-blocklist fixture: tiered (phrase, tier) rows over the
# synthetic vocabulary — two hard (tier-2) bigrams that genuinely occur
# (~9% of docs each at sf0.01), two soft (tier-1) unigrams frequent
# enough that the 60000-ppm density rule fires on SOME docs only, and
# two entries that never occur (the zero-hit path must still verdict)
BLOCKLIST_ROWS = [
    ("window join", 2),
    ("data slow", 2),
    ("free money", 2),
    ("slow", 1),
    ("spark", 1),
    ("obscenity", 1),
]

SURT_ROWS = [
    (0, "http://www.Example.COM/Path/Page?b=2&a=1#frag"),
    (1, "https://sub.domain.example.com:443/x"),
    (2, "http://example.com:8080/y?z"),
    (3, "https://user:pw@www2.test.org:8443/A?c=3&b"),
    (4, "not a url"),
    (5, None),
    (6, "http://example.com"),
    (7, "ftp://files.example.net/pub/README.txt"),
    (8, "https://www.example.com/?"),
    (9, "http://WWW123.mixed.Case.NET:80/q?b=2&B=1&a"),
    (10, "https://single/x"),
    (11, "http://www./broken"),
]

# decontamination eval fixture: two rows excerpt real sf0.01 document
# prefixes (so overlap genuinely fires), one is novel (no overlap)
EVAL_ROWS = [
    (0, "window merge spark merge batch table a big a join"),
    (1, "join hash agg batch the big window data vector key"),
    (2, "completely novel benchmark question text with no corpus overlap at all"),
]

QUERY_VEC_SEED = 7


def _query_vec(dim: int = 64):
    """Deterministic 64-d query vector shared by Spark and SQL twins."""
    from pdf_extraction_spark.kernels.textstats import mix64

    out = []
    for i in range(dim):
        h = mix64((QUERY_VEC_SEED << 32) ^ i)
        out.append(round((h / float(1 << 64)) * 2.0 - 1.0, 6))
    return out


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _speakers_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(SPEAKERS)], "sid int, speaker string"
    )


def _sql_values(rows, cols) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({', '.join(cols)})"


# ---------------------------------------------------------------------------
# entry — flagship query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → quality score → categorize (vocab keywords)
    → admin/short filter → per-(category, lang) rollup."""
    from pdf_extraction_spark.operators.categorize import explode_categories, with_categories
    from pdf_extraction_spark.operators.filters import word_count_col
    from pdf_extraction_spark.operators.project import quality_score_col

    docs = _docs(spark, SF_DEFAULT)
    scored = docs.withColumn(
        "quality_score",
        quality_score_col("text", DOC_ADMIN, DOC_BUSINESS, DOC_QA, DOC_CLOSING),
    )
    cats = explode_categories(
        with_categories(scored, content_col="text", keywords_by_category=DOC_CATEGORIES)
    )
    kept = cats.filter(word_count_col("text") >= 10)
    return (
        kept.groupBy("category", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.round(F.avg(F.col("n_chars")), 4).alias("avg_chars"),
        )
        .orderBy("category", "lang")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_extraction_spark.operators import financial as fin
    from pdf_extraction_spark.operators.agg import summary_counts, top_k_per_group
    from pdf_extraction_spark.operators.categorize import explode_categories, with_categories
    from pdf_extraction_spark.operators.dedup import (
        exact_duplicates,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from pdf_extraction_spark.operators.executives import match_executives
    from pdf_extraction_spark.operators.filters import keep_chunk_pred, word_count_col
    from pdf_extraction_spark.operators.project import (
        quality_score_col,
        speaker_role_col,
        with_word_stats,
    )
    from pdf_extraction_spark.operators.textanalysis import (
        langid_udf,
        token_count_col,
        with_quality_ratios,
    )
    from pdf_extraction_spark.operators.topk import (
        cosine_topk,
        recency_weight_col,
        weighted_score_col,
    )

    # -- P3/P4: admin + short-content filter over documents ----------------
    def q_filter_short(spark, sf):
        return (
            _docs(spark, sf)
            .filter(word_count_col("text") >= 25)
            .select("doc_id", word_count_col("text").alias("word_count"))
        )

    # -- P13: word stats ----------------------------------------------------
    def q_word_stats(spark, sf):
        return with_word_stats(_docs(spark, sf), content_col="text").select(
            "doc_id", "content_length", "word_count"
        )

    # -- P10: quality score (documents vocab) -------------------------------
    def q_quality(spark, sf):
        return _docs(spark, sf).select(
            "doc_id",
            F.round(
                quality_score_col("text", DOC_ADMIN, DOC_BUSINESS, DOC_QA, DOC_CLOSING),
                2,
            ).alias("quality_score"),
        )

    # -- P11: speaker role ladder (inline fixture) --------------------------
    def q_speaker_role(spark, sf):
        return _speakers_df(spark).select(
            "sid", speaker_role_col("speaker").alias("speaker_role")
        )

    # -- P3–P6 combined chunk filter (inline turn fixture) ------------------
    def q_chunk_filter(spark, sf):
        turns = spark.createDataFrame(TURN_ROWS, "tid int, speaker string, content string")
        return turns.filter(keep_chunk_pred("speaker", "content")).select("tid", "speaker")

    # -- C1: multi-label categorization over documents ----------------------
    def q_categorize(spark, sf):
        return explode_categories(
            with_categories(
                _docs(spark, sf), content_col="text", keywords_by_category=DOC_CATEGORIES
            )
        ).select("doc_id", "category")

    # -- C1+A1: category rollup --------------------------------------------
    def q_category_counts(spark, sf):
        cats = explode_categories(
            with_categories(
                _docs(spark, sf), content_col="text", keywords_by_category=DOC_CATEGORIES
            )
        )
        return summary_counts(cats, ("category", "lang")).orderBy("category", "lang")

    # -- F1: revenue extraction (inline financial fixture) ------------------
    def q_revenue(spark, sf):
        snips = spark.createDataFrame(FIN_SNIPPETS, "doc_id int, content string")
        return fin.extract_amounts(
            snips, "content", fin.REVENUE_PATTERNS, id_cols=("doc_id",)
        ).drop("hit_pos")

    # -- F2: growth rates ---------------------------------------------------
    def q_growth(spark, sf):
        snips = spark.createDataFrame(FIN_SNIPPETS, "doc_id int, content string")
        return fin.extract_growth(snips, "content", id_cols=("doc_id",)).drop("hit_pos")

    # -- F3: EBITDA ---------------------------------------------------------
    def q_ebitda(spark, sf):
        snips = spark.createDataFrame(FIN_SNIPPETS, "doc_id int, content string")
        return fin.extract_amounts(
            snips, "content", fin.EBITDA_PATTERNS, id_cols=("doc_id",)
        ).drop("hit_pos")

    # -- F4: margins --------------------------------------------------------
    def q_margins(spark, sf):
        snips = spark.createDataFrame(FIN_SNIPPETS, "doc_id int, content string")
        return fin.extract_margins(snips, "content", id_cols=("doc_id",)).drop("hit_pos")

    # -- F5: quarter/FY info ------------------------------------------------
    def q_quarters(spark, sf):
        snips = spark.createDataFrame(FIN_SNIPPETS, "doc_id int, content string")
        out = fin.with_quarter_info(snips, "content")
        return out.select(
            "doc_id",
            F.concat_ws("|", "quarters").alias("quarters"),
            F.concat_ws("|", "fiscal_years").alias("fiscal_years"),
            F.concat_ws("|", "combined").alias("combined"),
        )

    # -- J1: executive fuzzy name-match join (inline fixtures) --------------
    def q_executive_join(spark, sf):
        chunks = spark.createDataFrame(MATCH_SPEAKERS, "cid int, speaker string, content string")
        roster = spark.createDataFrame(
            ROSTER_ROWS, "roster_pos int, executive string, role string"
        )
        return match_executives(chunks, roster).select(
            "cid", "speaker", "executive", "executive_role"
        )

    # -- A5/W6: top-3 order priorities per customer segment (TPC-H) ---------
    def q_top3(spark, sf):
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        cust = spark.read.parquet(f"{sf}/customer.parquet")
        per = (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        )
        return top_k_per_group(
            per, ["c_mktsegment"], "n_orders", k=3, tie_break_cols=("o_orderpriority",)
        ).select("c_mktsegment", "o_orderpriority", "n_orders", "rank")

    # -- A1-A3 rollup over events (count, min/max ts, distinct users) -------
    def q_events_rollup(spark, sf):
        return (
            _events(spark, sf)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )

    # -- W5: recency ladder over events vs fixed as_of ----------------------
    def q_recency(spark, sf):
        ev = _events(spark, sf)
        days = f"datediff(CAST('{AS_OF}' AS DATE), CAST(ts AS DATE))"
        return ev.select(
            "event_id",
            F.expr(days).alias("days_ago"),
            recency_weight_col(days).alias("recency_weight"),
        )

    # -- W5 full: weighted rerank over events (value/10 as quality proxy) ---
    def q_weighted_rerank(spark, sf):
        ev = _events(spark, sf).withColumn("sim", F.round(F.col("value") / 10.0, 6))
        ws = weighted_score_col("sim", "ts", AS_OF, "value")
        return (
            ev.select("event_id", F.round(ws, 6).alias("weighted_score"))
            .orderBy(F.desc("weighted_score"), "event_id")
            .limit(20)
        )

    # -- W4/J3: cosine top-k ------------------------------------------------
    def q_cosine_topk(spark, sf):
        return cosine_topk(_emb(spark, sf), _query_vec(), k=10)

    # -- corpus profiling: exact percentiles per lang -----------------------
    def q_corpus_profile(spark, sf):
        from pdf_extraction_spark.operators.textanalysis import token_count_col

        d = _docs(spark, sf).withColumn("tc", token_count_col(F.col("text")))
        return d.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.round(F.expr("percentile(tc, 0.5)"), 4).alias("median_tokens"),
            F.round(F.expr("percentile(tc, 0.9)"), 4).alias("p90_tokens"),
            F.min("tc").alias("min_tokens"),
            F.max("tc").alias("max_tokens"),
        )

    # -- pivot report: category × lang counts (A4 report shape) -------------
    def q_category_pivot(spark, sf):
        from pdf_extraction_spark.operators.categorize import explode_categories, with_categories

        cats = explode_categories(
            with_categories(_docs(spark, sf), content_col="text", keywords_by_category=DOC_CATEGORIES)
        )
        langs = ["de", "en", "es", "fr", "zh"]
        return (
            cats.groupBy("category")
            .pivot("lang", langs)
            .agg(F.count(F.lit(1)))
            .na.fill(0, langs)
        )

    # -- grouped-map applyInPandas: per-group standardization ---------------
    def q_zscore(spark, sf):
        from pdf_extraction_spark.operators.groupedmap import zscore_by_group

        return zscore_by_group(_events(spark, sf))

    # -- session-window agg (gap sessions; gaps-and-islands oracle) ---------
    def q_session_stats(spark, sf):
        from pdf_extraction_spark.streaming.stateful import session_stats

        return session_stats(_events(spark, sf))

    # -- tumbling-window agg over events (streaming-shaped, batch oracle) ---
    def q_windowed_counts(spark, sf):
        return (
            _events(spark, sf)
            .groupBy(
                F.window("ts", "1 hour").alias("w"), F.col("event_type")
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n_events",
            )
        )

    # -- dedup: exact -------------------------------------------------------
    def q_dedup_exact(spark, sf):
        return exact_duplicates(_docs(spark, sf), "text", "doc_id").select(
            "n_dups", "keep_id"
        )

    # -- dedup: near-exact via bag-of-words key -----------------------------
    def q_dedup_wordset(spark, sf):
        from pdf_extraction_spark.operators.dedup import exact_duplicates, wordset_key_col

        return exact_duplicates(
            _docs(spark, sf), "text", "doc_id", key=wordset_key_col("text")
        ).select("n_dups", "keep_id")

    # -- dedup: n-gram jaccard ---------------------------------------------
    def q_ngram_jaccard(spark, sf):
        return ngram_jaccard_pairs(
            _docs(spark, sf), "text", "doc_id", n=3, threshold=0.5
        ).select("id_a", "id_b", "jaccard")

    # -- dedup: minhash LSH (kernel hashes — rows-only oracle) --------------
    def q_minhash_lsh(spark, sf):
        return minhash_lsh_pairs(
            _docs(spark, sf), "text", "doc_id", num_hashes=32, bands=8
        ).filter(F.col("est_jaccard") >= 0.5).select("id_a", "id_b", "est_jaccard")

    # -- dedup clusters: connected components over minhash pairs ------------
    def q_dedup_clusters(spark, sf):
        from pdf_extraction_spark.operators.components import dedup_clusters

        pairs = minhash_lsh_pairs(
            _docs(spark, sf), "text", "doc_id", num_hashes=32, bands=8
        ).filter(F.col("est_jaccard") >= 0.5)
        return dedup_clusters(pairs)

    # -- dedup: simhash (kernel hashes — rows-only oracle) ------------------
    def q_simhash(spark, sf):
        return simhash_pairs(_docs(spark, sf), "text", "doc_id", max_hamming=3).select(
            "id_a", "id_b", "hamming"
        )

    # -- embedding near-dup (brute force, oracle-able) ----------------------
    def q_embedding_neardup(spark, sf):
        from pdf_extraction_spark.operators.dedup import embedding_near_dups

        return embedding_near_dups(
            _emb(spark, sf), threshold=0.35, brute_force=True
        ).select("id_a", "id_b", "cosine")

    # -- text analysis: token counts + ratios -------------------------------
    def q_text_ratios(spark, sf):
        return with_quality_ratios(_docs(spark, sf), "text").select(
            "doc_id", "n_words", "avg_word_len", "punct_ratio", "stopword_ratio"
        )

    def q_token_count(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", token_count_col(F.col("text")).alias("token_count")
        )

    # -- langid (kernel heuristic — rows-only oracle) -----------------------
    def q_langid(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", langid_udf(F.col("text")).alias("detected_lang")
        )

    # -- Gopher-style repetition/quality rules (native, oracle-able) --------
    def q_gopher_quality(spark, sf):
        from pdf_extraction_spark.operators.curation import with_gopher_flags

        return with_gopher_flags(_docs(spark, sf), "text").select(
            "doc_id", "dup_line_frac", "dup_para_frac", "dup_line_char_frac",
            "dup_para_char_frac", "symbol_word_ratio", "bullet_line_frac",
            "ellipsis_line_frac", "alpha_word_frac", "gopher_pass",
        )

    # -- Gopher repetition rule: top word-bigram character fraction ---------
    def q_top_ngram_frac(spark, sf):
        from pdf_extraction_spark.operators.curation import top_ngram_char_frac

        return top_ngram_char_frac(_docs(spark, sf), "text", "doc_id", n=2)

    # -- Gopher repetition rule: duplicate word-n-gram char fraction --------
    def q_dup_ngram_frac(spark, sf):
        from pdf_extraction_spark.operators.curation import dup_ngram_char_frac

        return dup_ngram_char_frac(_docs(spark, sf), "text", "doc_id", n=2)

    # -- corpus-level line dedup (CCNet/C4 boilerplate removal) -------------
    def q_dedup_lines(spark, sf):
        from pdf_extraction_spark.operators.curation import dedup_lines

        return dedup_lines(_docs(spark, sf), "text", "doc_id", min_occurrences=3)

    # -- corpus-level keep-first line dedup (keep ONE copy, C4-style) -------
    def q_dedup_keepfirst(spark, sf):
        from pdf_extraction_spark.operators.curation import dedup_lines_keep_first

        return dedup_lines_keep_first(_docs(spark, sf), "text", "doc_id")

    # -- corpus-level paragraph dedup (RefinedWeb/Dolma granularity) --------
    def q_dedup_paragraphs(spark, sf):
        from pdf_extraction_spark.operators.curation import dedup_paragraphs

        return dedup_paragraphs(_docs(spark, sf), "text", "doc_id", min_occurrences=2)

    # -- PII scrub (C4-style masking) ---------------------------------------
    def q_pii_scrub(spark, sf):
        from pdf_extraction_spark.operators.curation import scrub_pii

        return scrub_pii(_docs(spark, sf), "text", "doc_id")

    # -- deterministic stratified sampling ----------------------------------
    def q_stratified_sample(spark, sf):
        from pdf_extraction_spark.operators.curation import stratified_sample

        return stratified_sample(
            _docs(spark, sf), "doc_id", "source", SAMPLE_FRACTIONS,
            default_fraction=0.05,
        ).select("doc_id", "source")

    # -- crawl-hygiene URL filter (native predicate, oracle-able) -----------
    def q_url_filter(spark, sf):
        from pdf_extraction_spark.operators.curation import filter_urls

        urls = spark.createDataFrame(URL_FILTER_ROWS, "uid int, url string")
        return filter_urls(urls, blocked_hosts=URL_BLOCKED_HOSTS)

    # -- Unicode NFC normalization (pre-dedup canonicalization) -------------
    def q_nfc_normalize(spark, sf):
        from pdf_extraction_spark.operators.textanalysis import nfc_normalize_col

        rows = spark.createDataFrame(NFC_ROWS, "uid int, s string")
        return rows.select("uid", nfc_normalize_col(F.col("s")).alias("normalized"))

    # -- span-level exact-substring dedup (Lee et al. 2022) -----------------
    def q_dedup_spans(spark, sf):
        from pdf_extraction_spark.operators.curation import dedup_spans

        return dedup_spans(_docs(spark, sf), k=8)

    # -- accent folding (aggressive dedup-key normalization) ----------------
    def q_fold_accents(spark, sf):
        from pdf_extraction_spark.operators.textanalysis import fold_accents_col

        rows = spark.createDataFrame(FOLD_ROWS, "uid int, s string")
        return rows.select("uid", fold_accents_col(F.col("s")).alias("folded"))

    # -- URL canonicalization (crawl hygiene, pre-URL-dedup) ----------------
    def q_url_canonical(spark, sf):
        from pdf_extraction_spark.operators.curation import canonical_url_col

        urls = spark.createDataFrame(URL_CANON_ROWS, "uid int, url string")
        return urls.select("uid", canonical_url_col(F.col("url")).alias("canonical"))

    def q_surt_keys(spark, sf):
        """SURT keys (the Internet Archive / Common Crawl CDX shard
        ordering): reversed comma-joined host labels + ')' + lowered
        path + sorted query — the sort key that makes a range-sharded
        10¹²-URL index cluster every host (and every domain) into one
        contiguous scan. Pure native string/array expressions, zero
        exchanges; NULL for non-URL rows (quarantine routing)."""
        from pdf_extraction_spark.operators.curation import surt_key_col

        urls = spark.createDataFrame(SURT_ROWS, "uid int, url string")
        return urls.select("uid", surt_key_col(F.col("url")).alias("surt"))

    # -- benchmark decontamination (eval n-gram overlap, oracle-able) -------
    def q_decontaminate(spark, sf):
        from pdf_extraction_spark.operators.curation import flag_contaminated

        eval_df = spark.createDataFrame(EVAL_ROWS, "eid int, text string")
        return flag_contaminated(_docs(spark, sf), eval_df, n=5).filter(
            F.col("contaminated")
        )

    # -- training-sequence packing (window math, oracle-able) ---------------
    def q_pack_sequences(spark, sf):
        from pdf_extraction_spark.operators.curation import pack_sequences
        from pdf_extraction_spark.operators.textanalysis import token_count_col

        docs = _docs(spark, sf).select(
            "doc_id", token_count_col(F.col("text")).alias("token_count")
        )
        return pack_sequences(docs, budget=512, n_shards=8)

    # -- TPC-H-ish join/agg: revenue by nation (broadcast dims) -------------
    def q_nation_revenue(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        cust = spark.read.parquet(f"{sf}/customer.parquet")
        nation = spark.read.parquet(f"{sf}/nation.parquet")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                ),
                F.count("*").alias("n_items"),
            )
        )

    # -- flagship extraction pipeline (kernel UDFs — rows-only oracle) ------
    def q_extract_pipeline(spark, sf):
        from pdf_extraction_spark.plans.pipeline import turns_table
        from pdf_extraction_spark.sources.pages import synth_pages_df

        pages = synth_pages_df(spark, 150)
        return turns_table(pages).select(
            "url", "turn_pos", "speaker", "speaker_role", "content", "word_count"
        )

    def q_content_spans(spark, sf):
        """Char-offset span map of the boilerpipe block segmentation
        (the north-rule "extracted spans per document" surface): one
        mapInPandas crossing, shuffle-free; PDF payloads emit no rows.
        Oracle: sequential pure-Python recompute fixture."""
        from pdf_extraction_spark.operators.extract import content_spans
        from pdf_extraction_spark.sources.pages import synth_pages_df

        return content_spans(synth_pages_df(spark, 150))

    def q_norm_punct(spark, sf):
        """Typographic-punctuation fold (curly quotes, dashes, NBSP,
        zero-widths, ellipsis) + did-change flag: one translate() +
        one regexp_replace, pure projection."""
        from pdf_extraction_spark.operators.textanalysis import (
            with_normalized_punct,
        )

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_PUNCT_AUG).alias("text")
        )
        return with_normalized_punct(docs)

    # -- full corpus-curation composition (kernel UDFs — rows-only) ---------
    def q_curate(spark, sf):
        from pdf_extraction_spark.plans.curate import curate_corpus
        from pdf_extraction_spark.sources.pages import synth_pages_df

        out = curate_corpus(synth_pages_df(spark, 150), min_tokens=10)
        return out["docs"].select("url", "token_count", "detected_lang")

    # -- F7/F8: url date + quarter/FY (inline fixture, oracle-able) ---------
    def q_url_dates(spark, sf):
        from pdf_extraction_spark.operators.financial import with_quarter_fy, with_url_date

        urls = spark.createDataFrame(
            [(i, u, __import__("datetime").datetime.fromisoformat(ts)) for i, u, ts in URL_ROWS],
            "uid int, url string, warc_ts timestamp",
        )
        out = with_quarter_fy(with_url_date(urls))
        return out.select(
            "uid",
            F.date_format("doc_date", "yyyy-MM-dd").alias("doc_date"),
            "quarter",
            "fiscal_year",
        )

    # -- T3: roster extraction (kernel regex UDF — rows-only oracle) --------
    def q_roster(spark, sf):
        from pdf_extraction_spark.operators.executives import extract_executives

        chunks = spark.createDataFrame(
            [(i, "MANAGEMENT", c) for i, c in ROSTER_CONTENTS],
            "url int, speaker string, content string",
        )
        return extract_executives(chunks)

    # -- A6: filter pass-rate metrics per lang ------------------------------
    def q_pass_rate(spark, sf):
        from pdf_extraction_spark.operators.agg import pass_rate
        from pdf_extraction_spark.operators.filters import word_count_col

        return pass_rate(
            _docs(spark, sf), word_count_col("text") >= 30, ("lang",)
        ).orderBy("lang")

    # -- D2: keep-last per key over orders ----------------------------------
    def q_keep_last(spark, sf):
        from pyspark.sql import Window

        orders = spark.read.parquet(f"{sf}/orders.parquet")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_orderdate"), F.desc("o_orderkey")
        )
        return (
            orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", F.col("o_orderdate").cast("string").alias("o_orderdate"))
        )

    # -- X1+W4+W5: deterministic embed → cosine → rerank (rows-only) --------
    def q_embed_rerank(spark, sf):
        from pdf_extraction_spark.operators.embed import embed_documents, embed_text
        from pdf_extraction_spark.operators.project import quality_score_col
        from pdf_extraction_spark.operators.topk import query_cosine, rerank_topk

        docs = _docs(spark, sf).withColumn(
            "quality_score",
            quality_score_col("text", DOC_ADMIN, DOC_BUSINESS, DOC_QA, DOC_CLOSING),
        )
        emb = embed_documents(docs, text_col="text")
        qv = embed_text("spark join window agg")
        scored = emb.select(
            "doc_id",
            F.lit("2024-01-15").alias("date"),
            "quality_score",
            F.round(query_cosine("embedding", qv), 6).alias("similarity"),
        )
        return rerank_topk(scored, AS_OF, k=10, id_cols=("doc_id",))

    # -- salted two-stage agg ≡ naive groupBy (skew tool, oracle-able) ------
    def q_salted_agg(spark, sf):
        from pdf_extraction_spark.operators.skew import salted_agg

        return (
            salted_agg(
                _docs(spark, sf),
                F.col("source"),
                {"n_docs": (F.count("*"), F.sum), "total_chars": (F.sum("n_chars"), F.sum)},
                salt_buckets=8,
                salt_source="doc_id",
            )
            .withColumnRenamed("key", "source")
            .select("source", "n_docs", "total_chars")
        )

    # -- C1 via broadcast-join strategy (same oracle as rlike-array path) ---
    def q_categorize_join(spark, sf):
        from pdf_extraction_spark.operators.categorize import categorize_by_join

        return categorize_by_join(
            _docs(spark, sf).select("doc_id", "text"),
            content_col="text",
            keywords_by_category=DOC_CATEGORIES,
        ).select("doc_id", "category")

    # -- W4 batch: top-3 per query over a 3-query batch ---------------------
    def q_topk_batch(spark, sf):
        from pdf_extraction_spark.operators.similarity import brute_force_topk_batch

        queries_df = spark.createDataFrame(
            [(j, [float(v) for v in _query_vec()[j:] + _query_vec()[:j]]) for j in range(3)],
            "q_id long, q_vec array<double>",
        )
        return brute_force_topk_batch(_emb(spark, sf), queries_df, k=3).select(
            "q_id", "vec_id", "similarity"
        )

    # -- IVF ANN end-to-end with FIXED centroids (exact → full oracle) ------
    def q_ivf_topk(spark, sf):
        """End-to-end IVF surface (assignment + probe + within-cell
        top-k, reporting which cell each hit came from) over the
        committed centroid fixture, so the whole path gets a strict
        DuckDB twin. Distinct from q_ivf_probe: n_probe=2 / k=4 and the
        cell column is part of the output. The sampled-TRAINING variant
        (train_centroids → ivf_topk) is recall-pinned in
        tests/test_similarity.py instead — training samples, so it has
        no exact SQL twin."""
        from pdf_extraction_spark.operators.similarity import assign_cells, ivf_topk

        cents_df = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "ivf_centroids_sf0_01.parquet")
        )
        cents = [
            r["centroid"] for r in sorted(cents_df.collect(), key=lambda r: r["cell"])
        ]
        emb = _emb(spark, sf)
        return ivf_topk(
            assign_cells(emb, cents),
            cents,
            _query_vec(),
            k=4,
            n_probe=2,
            id_cols=("vec_id", "cell"),
        ).select("vec_id", "cell", "similarity")

    # -- IVF assignment step with FIXED centroids (exact → full oracle) -----
    def q_ivf_assign(spark, sf):
        """The IVF assignment is deterministic given fixed centroids; the
        committed fixture is trained by the shared kmeans_lite kernel on
        the full vec_id-sorted table (tests/make_oracle_fixtures.py), so
        the pandas-UDF matmul argmax gets an exact DuckDB argmax twin."""
        from pdf_extraction_spark.operators.similarity import assign_cells

        cents_df = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "ivf_centroids_sf0_01.parquet")
        )
        cents = [
            r["centroid"] for r in sorted(cents_df.collect(), key=lambda r: r["cell"])
        ]
        return assign_cells(_emb(spark, sf), cents).select("vec_id", "cell")

    # -- full IVF probe with FIXED centroids (deterministic → full oracle) --
    def q_ivf_probe(spark, sf):
        """With fixture centroids the WHOLE ivf_topk path is exact:
        assignment (argmax), probe selection (top-n_probe cells by
        centroid·query) and the within-cell cosine top-k are all
        recomputed relationally by the twin (q_ivf_topk covers the same
        path at n_probe=2/k=4 with the cell column in the output)."""
        from pdf_extraction_spark.operators.similarity import assign_cells, ivf_topk

        cents_df = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "ivf_centroids_sf0_01.parquet")
        )
        cents = [
            r["centroid"] for r in sorted(cents_df.collect(), key=lambda r: r["cell"])
        ]
        emb = _emb(spark, sf)
        return ivf_topk(
            assign_cells(emb, cents), cents, _query_vec(), k=5, n_probe=3
        ).select("vec_id", "similarity")

    # -- semantic dup clusters: components over the embedding-LSH pairs -----
    def q_embedding_clusters(spark, sf):
        """Composition: banded sign-sketch LSH pairs → pointer-jumping
        connected components. The twin recomputes BOTH stages
        relationally (banding from the sketch fixture, components via a
        recursive reachability CTE)."""
        from pdf_extraction_spark.operators.components import dedup_clusters
        from pdf_extraction_spark.operators.dedup import embedding_near_dups

        pairs = embedding_near_dups(
            _emb(spark, sf), threshold=0.35, n_planes=16, n_bands=8, max_bucket=200
        )
        return dedup_clusters(pairs)

    # -- embedding near-dup via the banded-LSH scale path -------------------
    def q_embedding_lsh(spark, sf):
        """Exercises the production LSH path (pandas-UDF sign sketch →
        banding → bucket cap → exact cosine); the oracle recomputes the
        banding relationally from the committed sketch fixture."""
        from pdf_extraction_spark.operators.dedup import embedding_near_dups

        return embedding_near_dups(
            _emb(spark, sf), threshold=0.35, n_planes=16, n_bands=8, max_bucket=200
        ).select("id_a", "id_b", "cosine")

    # -- multimodal plumbing (deterministic fake decode — rows-only) --------
    def q_media_features(spark, sf):
        from pdf_extraction_spark.operators.multimodal import (
            extract_media_features,
            synth_media_df,
        )

        media = synth_media_df(spark, 24).filter(F.col("media_type") == "image")
        return extract_media_features(media).select(
            "media_id", "n_bytes", F.round("mean_intensity", 4).alias("mean_intensity")
        )

    # -- multimodal with REAL stdlib decoders (PPM/BMP images, PCM WAV) -----
    def q_media_features_real(spark, sf):
        """Payloads here are genuinely decoded (kernels/mediaio.py); the
        oracle recomputes decode + pooling sequentially in pure Python."""
        from pdf_extraction_spark.operators.multimodal import (
            extract_media_features,
            synth_real_media_df,
        )

        return extract_media_features(synth_real_media_df(spark, 24)).select(
            "media_id",
            "media_type",
            "n_bytes",
            F.round("mean_intensity", 4).alias("mean_intensity"),
        )

    # -- per-host cap: combinable bounded top-K, no window funnel -----------
    def q_host_cap(spark, sf):
        from pdf_extraction_spark.operators.hostcap import host_cap

        return host_cap(_docs(spark, sf), F.col("n_chars").cast("double"), k=5)

    def q_group_sample(spark, sf):
        """Exactly-k deterministic uniform sample per source (md5-rank
        reservoir through the host_cap bounded-reduction tree — no
        per-group window funnel)."""
        from pdf_extraction_spark.operators.hostcap import group_sample

        return group_sample(_docs(spark, sf), k=4)

    # -- hashed-linear quality classifier (fasttext-style gate) -------------
    def q_qual_classify(spark, sf):
        """Scoring plumbing under a deterministic weight table (both
        engines derive the same (bucket, w) rows from pure integer
        arithmetic); training has its own determinism/separation tests
        in tests/test_mlfilter.py."""
        from pdf_extraction_spark.operators.mlfilter import score_quality

        weights = spark.range(4096).select(
            F.format_string("%03x", F.col("id")).alias("bucket"),
            (((F.col("id") * 2654435761) % 2001 - 1000) / 1000.0).alias("w"),
        )
        return score_quality(_docs(spark, sf), weights, bias=0.1)

    # -- bigram stupid-backoff LM fluency score (KenLM-style gate) ----------
    def q_lm_score(spark, sf):
        from pdf_extraction_spark.operators.mlfilter import (
            score_bigram_lm,
            train_bigram_lm,
        )

        docs = _docs(spark, sf)
        return score_bigram_lm(docs, train_bigram_lm(docs))

    def q_sb_trigram(spark, sf):
        """Stupid Backoff trigram LM (Brants et al. 2007 §3) — the
        published web-scale recipe: estimation is pure distributed
        counting (uni/bi/trigram tables, no smoothing normalization),
        scoring backs off trigram → bigram → unigram with α = 0.4.
        Count tables stay distributed and join by n-gram key; the
        per-doc mean log10 uses the position-ordered fold, so the
        score is bit-stable cross-engine."""
        from pdf_extraction_spark.operators.mlfilter import (
            score_stupid_backoff,
            train_trigram_lm,
        )

        docs = _docs(spark, sf)
        return score_stupid_backoff(docs, train_trigram_lm(docs))

    def q_dimsum(spark, sf):
        """DIMSUM sampled all-pairs term cosine (Zadeh & Goel 2013 —
        Spark RowMatrix.columnSimilarities): elements survive with
        q = min(1, √γ/‖col‖) via the md5-uniform coin, pairs form only
        among survivors, the estimate divides by q_a·q_b·‖a‖·‖b‖.
        High-norm stop-word columns — the pair-explosion culprits —
        are sampled hardest; expected emissions scale with γ·#terms,
        independent of corpus row count. Integer tf/dot products and
        one pinned-order float expression keep it bit-identical
        cross-engine."""
        from pdf_extraction_spark.operators.similarity import dimsum_cosine

        return dimsum_cosine(_docs(spark, sf), sqrt_gamma=8.0, min_sim=0.25)

    def q_sentence_chunks(spark, sf):
        """Sentence-boundary RAG chunking by budget quantization:
        sentence s joins chunk floor(prefix_words/budget) — greedy
        packing's overshoot bound with a partition-invariant, pure-
        function-of-prefix-sums assignment (resume-stable chunk ids).
        The synthetic docs are single-sentence, so the query derives a
        4-sentence text per doc with the identical expression in both
        engines (the refinedweb device) — every doc genuinely splits
        across ≥2 chunks at budget 32."""
        from pdf_extraction_spark.operators.textanalysis import (
            sentence_chunks,
        )

        docs = _docs(spark, sf).selectExpr(
            "doc_id", SENT_CHUNK_TEXT_EXPR + " AS text"
        )
        return sentence_chunks(docs, budget=32)

    def q_gate_auc(spark, sf):
        """Exact tie-aware ROC-AUC (Mann-Whitney with midranks) in
        pure int64 — gate-evaluation infrastructure: here, does the
        stored n_chars column predict the ≥30-token verdict, per
        language. The window runs over DISTINCT scores (the
        ppl-histogram device), never corpus rows; auc_ppm is one
        integer division, bit-identical cross-engine."""
        from pdf_extraction_spark.operators.curation import _lower_words
        from pdf_extraction_spark.operators.mlfilter import gate_auc

        docs = _docs(spark, sf).select(
            "lang",
            F.col("n_chars").alias("score"),
            (
                F.size(_lower_words(F.coalesce(F.col("text"), F.lit(""))))
                >= 30
            ).alias("label"),
        )
        return gate_auc(docs, "score", "label", "lang")

    def q_gate_pr(spark, sf):
        """Full PR operating-point sweep (one row per distinct score,
        predict positive at score ≥ thr) via the descending cumulative
        histogram — exact int64 cells, ppm by integer division."""
        from pdf_extraction_spark.operators.curation import _lower_words
        from pdf_extraction_spark.operators.mlfilter import gate_pr_curve

        docs = _docs(spark, sf).select(
            F.col("n_chars").alias("score"),
            (
                F.size(_lower_words(F.coalesce(F.col("text"), F.lit(""))))
                >= 30
            ).alias("label"),
        )
        return gate_pr_curve(docs, "score", "label")

    def q_rank_corr(spark, sf):
        """Spearman rank correlation with tie midranks between two
        quality signals (stored n_chars vs live token count), per
        language — the doubled-midrank integer device keeps every
        regression sum exact; one correctly-rounded sqrt/div tail."""
        from pdf_extraction_spark.operators.curation import _lower_words
        from pdf_extraction_spark.operators.mlfilter import rank_corr

        docs = _docs(spark, sf).select(
            "lang",
            F.col("n_chars").alias("x"),
            F.size(
                _lower_words(F.coalesce(F.col("text"), F.lit("")))
            ).cast("long").alias("y"),
        )
        return rank_corr(docs, "x", "y", "lang")

    def q_gate_calibration(spark, sf):
        """Reliability diagram: a crude size-based 'probability'
        (n_chars/1000 clamped) audited against the ≥30-token verdict —
        rows quantize ONCE to ppm then everything is exact int64, so
        the diagram is bit-identical cross-engine."""
        from pdf_extraction_spark.operators.curation import _lower_words
        from pdf_extraction_spark.operators.mlfilter import gate_calibration

        docs = _docs(spark, sf).select(
            (F.col("n_chars") / F.lit(1000.0)).alias("prob"),
            (
                F.size(_lower_words(F.coalesce(F.col("text"), F.lit(""))))
                >= 30
            ).alias("label"),
        )
        return gate_calibration(docs, "prob", "label")

    def q_blocklist_gate(spark, sf):
        """Tiered phrase-blocklist gate (UT1/LDNOOBW/Dolma shape): the
        blocklist is a broadcast (phrase, tier) dim table, matching is
        word-n-gram equality, hard tiers drop on any hit, soft tiers
        drop on hit-token density — exact integer ppm, every input doc
        gets a verdict row."""
        from pdf_extraction_spark.operators.curation import blocklist_gate

        phrases = spark.createDataFrame(
            BLOCKLIST_ROWS, "phrase string, tier int"
        )
        return blocklist_gate(_docs(spark, sf), phrases)

    def q_simhash_native(spark, sf):
        """All-JVM SimHash: md5-prefix 52-bit word hashes, majority
        vote per bit over word occurrences — bit-identical cross-engine
        (unlike the salted Python-kernel simhash), zero Arrow
        crossings, narrow shuffle-free map."""
        from pdf_extraction_spark.operators.dedup import native_simhash

        return native_simhash(_docs(spark, sf))

    def q_layout_order(spark, sf):
        """Similarity-ordered release layout: per md5 shard, total
        adjacent-Hamming bits when rows are written in SimHash order vs
        doc-id order (the row-reordering compression trick) — bounded
        per-shard window sorts, exact-integer deltas, n_shards output
        rows."""
        from pdf_extraction_spark.operators.dedup import native_simhash
        from pdf_extraction_spark.operators.release import layout_gain

        return layout_gain(native_simhash(_docs(spark, sf)), n_shards=16)

    # -- ranking fusion + ranking eval (round 4 cont.) -----------------------
    def q_rrf_fuse(spark, sf):
        """Reciprocal Rank Fusion (Cormack 2009) of the two retrieval
        legs the engine owns — BM25 lexical top-20 and embedding-cosine
        top-20 (vec_id ≡ doc_id in the synthetic tables). Contributions
        are exact int64 ppb (10^9 DIV (60+rank)) so the fused ordering
        is bit-identical under any partitioning; all fusion work runs
        over ≤ 40 rows regardless of corpus size."""
        from pdf_extraction_spark.operators.fusion import rank_from_topk, rrf_fuse
        from pdf_extraction_spark.operators.retrieval import bm25_topk
        from pdf_extraction_spark.operators.topk import cosine_topk

        lex = bm25_topk(_docs(spark, sf), ["table", "join", "window"], k=20)
        sem = cosine_topk(_emb(spark, sf), _query_vec(), k=20).withColumnRenamed(
            "vec_id", "doc_id"
        )
        return rrf_fuse(
            [
                rank_from_topk(lex, "bm25", "doc_id"),
                rank_from_topk(sem, "similarity", "doc_id"),
            ],
            k0=60,
            k=10,
        )

    def q_gate_ndcg(spark, sf):
        """nDCG@20 of the stored n_chars signal against a graded
        query-term relevance (least(#'table' occurrences, 5) — real
        inversions vs length, ndcg ≈ 0.66 at sf0.01) — the ranking-eval
        companion to gate_auc. Both prefixes come from
        TakeOrderedAndProject; discounts are driver-inlined literals;
        the one dcg/idcg division floors to ppm."""
        from pdf_extraction_spark.operators.fusion import ndcg_at_k
        from pdf_extraction_spark.operators.retrieval import _tokens_col

        toks = _tokens_col(F.coalesce(F.col("text"), F.lit("")), True)
        base = _docs(spark, sf).select(
            "doc_id",
            F.col("n_chars").alias("score"),
            F.least(
                F.size(F.filter(toks, lambda x: x == F.lit("table"))), F.lit(5)
            ).alias("gain"),
        )
        return ndcg_at_k(base, "score", "gain", k=20, id_col="doc_id")

    def q_rank_rbo(spark, sf):
        """Rank-Biased Overlap (Webber 2010, truncated prefix, p=0.9,
        depth=50) between the stored-length and live-token-count
        rankings — how much two quality signals agree at the top.
        Per-doc contributions are driver-precomputed ppb suffix-weight
        literals indexed by overlap-entry position, so the sum is exact
        int64."""
        from pdf_extraction_spark.operators.fusion import rank_from_topk, rbo_overlap
        from pdf_extraction_spark.operators.retrieval import _tokens_col

        docs = _docs(spark, sf)
        a_top = (
            docs.select("doc_id", F.col("n_chars").alias("s"))
            .orderBy(F.desc("s"), "doc_id")
            .limit(50)
        )
        toks = _tokens_col(F.coalesce(F.col("text"), F.lit("")), True)
        b_top = (
            docs.select("doc_id", F.size(toks).alias("s"))
            .orderBy(F.desc("s"), "doc_id")
            .limit(50)
        )
        return rbo_overlap(
            rank_from_topk(a_top, "s", "doc_id"),
            rank_from_topk(b_top, "s", "doc_id"),
            p=0.9,
            depth=50,
        )

    def q_mmr_topk(spark, sf):
        """Maximal Marginal Relevance (Carbonell 1998) diversity top-5
        over a cosine top-16 pool: each unrolled round anti-joins the
        picked set, attaches the ≤k selected vectors via a broadcast of
        ONE aggregated row, maxes the 6-dp-rounded pairwise cosines and
        picks argmax(λ·rel − (1−λ)·maxsim). Twin = the identical greedy
        recursion as unrolled CTEs."""
        from pdf_extraction_spark.operators.fusion import mmr_topk

        return mmr_topk(_emb(spark, sf), _query_vec(), lam=0.7, k=5, pool=16)

    # -- host-level set-overlap similarity (round 4 cont.) --------------------
    def q_cocite_hosts(spark, sf):
        """Co-citation related hosts (Dean & Henzinger 1999) over the
        REAL extracted outlink graph (the _LINKS_AUG anchor fixture):
        hosts are related when common hosts link to both. The only
        pair-forming join is keyed by citing host with a max_degree
        portal prune; every reported number is integer-domain."""
        from pdf_extraction_spark.operators.hostsim import cocitation_hosts
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return cocitation_hosts(
            extract_outlinks(docs), max_degree=64, min_shared=2, k=20
        )

    def q_couple_hosts(spark, sf):
        """Bibliographic coupling (Kessler 1963) over the same outlink
        graph — hosts related when they link OUT to the same targets
        (the transpose of co-citation); celebrity targets are pruned by
        max_degree before the pair join."""
        from pdf_extraction_spark.operators.hostsim import coupling_hosts
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return coupling_hosts(
            extract_outlinks(docs), max_degree=64, min_shared=2, k=20
        )

    def q_mirror_hosts(spark, sf):
        """Bharat-Broder mirror detection: host pairs ranked by shared
        md5 content fingerprints with resemblance = |shared|/|union| in
        ppm. The corpus is augmented with a deterministic mirror host
        per source carrying every doc_id%3==0 page (identical
        expression in both engines), so real mirror pairs exist;
        boilerplate fingerprints on > max_dup_hosts hosts are pruned
        before the pair join."""
        from pdf_extraction_spark.operators.hostsim import mirror_hosts

        docs = _docs(spark, sf)
        fp = F.md5(F.coalesce(F.col("text"), F.lit("")))
        base = docs.select(
            F.col("source").alias("host"), fp.alias("fingerprint")
        )
        mirrored = docs.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(F.col("source"), F.lit("-m")).alias("host"),
            fp.alias("fingerprint"),
        )
        return mirror_hosts(
            base.unionByName(mirrored),
            max_dup_hosts=64,
            min_shared=2,
            k=20,
        )

    # -- all-pairs similarity search with prefix filtering (round 4 cont.) ----
    def q_apss_pairs(spark, sf):
        """Bayardo 2007 all-pairs cosine ≥ τ over binary word-bigram
        features: an integer suffix-size prefix filter bounds the
        candidate join to indexed postings; an exact verification join
        recomputes every candidate's full intersection, so the output
        equals brute force bit-for-bit. The DuckDB twin IS the brute
        force — every oracle run re-proves the filter lossless."""
        from pdf_extraction_spark.operators.apss import apss_pairs

        return apss_pairs(_docs(spark, sf), tau=0.4, max_df=250)

    # -- ordered funnel conversion over events (round 4 cont.) ----------------
    def q_funnel_steps(spark, sf):
        """windowFunnel-style ordered funnel (view → click → signup →
        purchase, 7-day window): per-user greedy earliest-first chain
        via ONE user-keyed shuffle + the encoded-int64 position-ordered
        fold (ts_micros·16 + step in the low bits — every comparison
        integer-exact), then the per-step conversion table."""
        from pdf_extraction_spark.operators.funnel import funnel_conversion

        return funnel_conversion(
            _events(spark, sf), _FUNNEL_STEPS, window_s=_FUNNEL_WINDOW_S
        )

    def q_host_triangles(spark, sf):
        """Exact triangle counts + Watts-Strogatz clustering
        coefficients over the extracted host graph (Cohen 2009 /
        Schank-Wagner degree-ordered orientation: per-node oriented
        out-degree is arboricity-bounded, so the wedge join survives
        power-law hubs). All integer; clustering in ppm by floor."""
        from pdf_extraction_spark.operators.graphstats import triangle_stats
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return triangle_stats(extract_outlinks(docs))

    def q_moore_lewis(spark, sf):
        """Moore-Lewis 2010 cross-entropy-difference selection: pool =
        non-src0 docs, in-domain target = src0 docs; every pool doc
        scored under both bigram stupid-backoff LMs, top-50 by
        round(lp_target − lp_raw, 6). The per-doc scores are the
        engine's lm_score rounded doubles, so the contrastive
        difference is bit-identical cross-engine."""
        from pdf_extraction_spark.operators.mlfilter import moore_lewis_select

        docs = _docs(spark, sf)
        return moore_lewis_select(
            docs.filter(F.col("source") != "src0"),
            docs.filter(F.col("source") == "src0"),
            k=50,
        )

    def q_mass_gini(spark, sf):
        """Gini concentration of corpus byte mass across sources
        (Lorenz rank form, exact int64 sums, one ppm floor division) —
        the crawl-diversity one-number report. The rank window is
        source-count-sized, never corpus-sized."""
        from pdf_extraction_spark.operators.hostcap import mass_gini

        return mass_gini(_docs(spark, sf), group_col="source", mass_col="n_chars")

    def q_textrank(spark, sf):
        """TextRank keyterms (Mihalcea & Tarau 2004): per-doc weighted
        PageRank over the token adjacency graph, unrolled 4 rounds in
        exact 10^12 fixed point (each edge contributes
        floor(r·w/wdeg) independently, so the dst-keyed sum is
        partitioning-proof); top-3 terms per doc via the doc-bounded
        buffer. The graph never crosses documents — every frame is
        (doc, token)-keyed."""
        from pdf_extraction_spark.operators.terms import textrank_terms

        return textrank_terms(_docs(spark, sf), k=3, n_iter=4)

    def q_hrw_shards(spark, sf):
        """Rendezvous (highest-random-weight) shard assignment (Thaler
        & Ravishankar 1996): doc → argmax over shards of a 60-bit md5
        weight — the consistent-assignment counterpart to the mod-N
        shard_manifest. Removing a shard moves only its own docs (the
        minimal-disruption property, pinned in tests). Pure narrow
        projection + one shard-bounded groupBy."""
        from pdf_extraction_spark.operators.release import hrw_shard_counts

        return hrw_shard_counts(_docs(spark, sf), _HRW_SHARDS)

    def q_facility_location(spark, sf):
        """Facility-location greedy coreset selection (Lin & Bilmes
        2011; Wei 2015): k=4 representatives from the norm-top-16
        candidate pool maximizing corpus coverage Σ_v max_s cos(v,s).
        Sims quantize once to int64 micro units, so every gain /
        coverage sum is exact and partitioning-proof; candidates
        broadcast as ONE aggregated row per round (no cartesian)."""
        from pdf_extraction_spark.operators.coreset import (
            facility_location_select,
        )

        return facility_location_select(_emb(spark, sf), k=4, pool=16)

    def q_bm25f(spark, sf):
        """BM25F field-weighted retrieval (Robertson/Zaragoza/Taylor
        2004): body + URL fields, per-field length normalization, term
        frequencies combined BEFORE the single saturation (the paper's
        fix for the broken sum-of-BM25s). The url field is the
        _LINKS_URL fixture so a source token ('src3') genuinely
        out-pulls body matches on that host's pages."""
        from pdf_extraction_spark.operators.retrieval import bm25f_topk

        docs = _docs(spark, sf).select(
            "doc_id", "text", F.expr(_LINKS_URL).alias("url")
        )
        return bm25f_topk(
            docs,
            ["table", "join", "src3"],
            fields=[("text", 1.0, 0.75), ("url", 4.0, 0.5)],
            k=15,
        )

    def q_qlm(spark, sf):
        """Dirichlet query-likelihood retrieval (Zhai & Lafferty 2001)
        — the language-modeling leg beside BM25 and embedding cosine,
        in the rank-equivalent decomposition that touches only matching
        pairs plus one per-doc length term (smoothing mass ranks even
        no-hit docs, the LM contract)."""
        from pdf_extraction_spark.operators.retrieval import qlm_topk

        return qlm_topk(_docs(spark, sf), ["table", "join", "window"], k=15)

    def q_prf(spark, sf):
        """Rocchio/RM3 pseudo-relevance feedback (Rocchio 1971): BM25
        pass 1 → top-5 feedback docs → their top-5 TF-IDF expansion
        terms (exact-integer selection) at weight β=0.5 → weighted BM25
        pass 2 with the expanded query as a broadcast FRAME — no driver
        round-trip between passes."""
        from pdf_extraction_spark.operators.retrieval import rocchio_bm25_topk

        return rocchio_bm25_topk(
            _docs(spark, sf), ["table", "join"], k=15, k_fb=5, m_exp=5
        )

    def q_nepotism(spark, sf):
        """Nepotistic-link classification (Davison 2000): per-host
        ratio of outlinks that confer no merit — same host, same
        registrable domain (public-suffix parse on the DISTINCT host
        set), or reciprocal link-exchange pairs — plus the
        generic-anchor signal column. The rank pipeline's voter-trust
        input, beside spam_mass."""
        from pdf_extraction_spark.operators.htmlgraph import (
            extract_outlinks,
            nepotistic_links,
        )

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return nepotistic_links(extract_outlinks(docs))

    def q_bot_regularity(spark, sf):
        """Timing-regularity bot detection (Gianvecchio 2008 class):
        per-user inter-event-gap coefficient of variation via the exact
        integer identity σ/μ = sqrt(n·Σg²−(Σg)²)/Σg (one sqrt/div
        chain) — cron-like clients read cv → 0. One user-keyed window
        + one combinable aggregate."""
        from pdf_extraction_spark.operators.forensics import bot_regularity

        return bot_regularity(_events(spark, sf), min_events=5)

    def q_benford(spark, sf):
        """Benford first-digit audit (Benford 1938 / Nigrini) over the
        stored n_chars column: digits from the decimal STRING (exact —
        no float log10 boundary), chi-square terms against the
        driver-literal Benford probabilities."""
        from pdf_extraction_spark.operators.forensics import benford_digits

        return benford_digits(_docs(spark, sf), "n_chars")

    def q_hyperball(spark, sf):
        """HyperBall radius-2 neighbourhood sizes (Boldi & Vigna 2013)
        over the extracted host graph: |B_2(v)| estimated by merging
        radius-1 md5-register HLL sketches along edges — one edge join
        + register-max aggregates, frames bounded by nodes × m. The
        twin builds identical registers from the EXACT 2-hop member
        set, re-proving the sketch-merge associativity every run."""
        from pdf_extraction_spark.operators.graphstats import hyperball_r2
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return hyperball_r2(extract_outlinks(docs))

    def q_rake(spark, sf):
        """RAKE keyphrases (Rose et al. 2010): stopword/punctuation-
        delimited candidate phrases scored by Σ deg(w)/freq(w) in exact
        10⁶ fixed point (deg·10⁶ DIV freq then int sums — no float).
        Both windows are doc-bounded; word stats and the score join are
        (doc, token)-keyed. Top-3 distinct phrases per doc."""
        from pdf_extraction_spark.operators.terms import rake_phrases

        return rake_phrases(_docs(spark, sf), k=3)

    def q_host_kcore(spark, sf):
        """k-core peeling (Seidman 1983) over the extracted host graph:
        synchronous Batagelj-Zaveršnik rounds — one combinable degree
        count + two endpoint semi-joins per round, edge frames
        localCheckpoint'ed (the pagerank rule). All-integer; the
        converged flag reports fixpoint so a capped unroll can't
        silently under-peel."""
        from pdf_extraction_spark.operators.graphstats import kcore
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return kcore(extract_outlinks(docs), k=3, n_rounds=4)

    def q_host_assort(spark, sf):
        """Degree assortativity (Newman 2002) of the extracted host
        graph: exact int64 moment sums per canonical edge (each edge
        contributes both ordered directions analytically), one final
        double ratio from identical int inputs — the mixing-pattern
        tripwire beside spam_mass and the k-core depth."""
        from pdf_extraction_spark.operators.graphstats import assortativity
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return assortativity(extract_outlinks(docs))

    def q_host_salsa(spark, sf):
        """SALSA (Lempel & Moran 2000) over the host_hits graph: the
        degree-normalized stochastic hub/authority scores via the
        CLOSED FORM — stationary weight = in/out-degree share within
        each bipartite connected component, components weighted by
        their authority/hub-universe share. Components via the pointer-
        jumping labeller; scores in exact nano fixed point (fixed op
        order, no float)."""
        from pdf_extraction_spark.operators.components import salsa

        docs = _docs(spark, sf)
        edges = docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id")) % 29).cast(
                    "string"
                ),
            ).alias("dst"),
        )
        return salsa(edges)

    def q_bursts(spark, sf):
        """Kleinberg 2-state burst detection (KDD 2002) per user over
        the events stream: exact-integer Viterbi as a position-ordered
        HOF fold over the gap array (micro-ln costs, spelled-out tie
        rules) — localized flash-crowd/retry-storm detection beside
        bot_regularity's global CV."""
        from pdf_extraction_spark.operators.forensics import kleinberg_bursts

        return kleinberg_bursts(_events(spark, sf), min_events=5)

    def q_harmonic(spark, sf):
        """Harmonic centrality (Boldi-Vigna axioms) via 3 iterated
        HyperBall rounds over the extracted host graph: per-radius HLL
        ball estimates differenced as H = Σ (|B_r|−|B_{r−1}|)/r — the
        twin rebuilds each radius' EXACT member set through the same
        md5 registers, re-proving merge associativity per radius."""
        from pdf_extraction_spark.operators.graphstats import harmonic_centrality
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return harmonic_centrality(extract_outlinks(docs), r_max=3)

    def q_snippets(spark, sf):
        """Query-biased snippets (Tombros & Sanderson 1998): best
        12-token window per doc by query-term hits — int RANGE-window
        sum over doc-bounded partitions, (hits desc, start asc) struct
        pick, position-ordered text rebuild. The result-page /
        RAG-context display leg beside bm25_topk."""
        from pdf_extraction_spark.operators.retrieval import snippet_best_window

        return snippet_best_window(
            _docs(spark, sf), ["table", "join", "window"], window=12
        )

    def q_texttiles(spark, sf):
        """TextTiling (Hearst 1997): subtopic boundaries by lexical-
        cohesion valleys — exact-isqrt integer block cosines, window
        hill-climb depths (no sequential fold needed: the peak is a
        running flag-max), all-integer mean−sd/2 cutoff. The
        vocabulary-shift chunker beside the fixed-stride and sentence
        chunkers."""
        from pdf_extraction_spark.operators.texttiling import texttile

        return texttile(_docs(spark, sf), w=10, k=3)

    def q_porter_stems(spark, sf):
        """Porter stemmer (Porter 1980, the paper's rule set): the
        committed fixture's vocabulary through the Arrow-batched stem
        UDF — oracle = the fixture's pure-Python kernel output, so the
        strict compare proves the distributed path reproduces the
        kernel byte-for-byte (the fix_mojibake device). Python work is
        O(vocabulary), never the token stream."""
        from pdf_extraction_spark.operators.stemming import stem_words

        fx = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "porter_sf0_01.parquet")
        )
        return stem_words(fx.select("word")).select("word", "stem")

    def q_good_turing(spark, sf):
        """Turing re-estimates over the corpus frequency-of-frequencies
        table (Good 1953 / Gale-Sampson 1995): r* = (r+1)·N_{r+1}/N_r
        and per-rank probability mass, exact int64 throughout — the
        smoothing foundation beside the stupid-backoff LM. Two
        combinable groupBys + a rank-keyed self-join on the tiny N_r
        table."""
        from pdf_extraction_spark.operators.terms import good_turing

        return good_turing(_docs(spark, sf))

    def q_keyness(spark, sf):
        """Dunning log-likelihood keyness (Dunning 1993) + Pearson
        chi-square per (source, term) against the rest of the corpus —
        the corpus-card "what words characterize this slice" report.
        G2 in its entropy form touches only ln() of INTEGER counts, so
        the fixed-point I(x) device makes g2_nano exact int64 and
        bit-identical cross-engine; the over/under direction is the
        log-relative-risk on the same device (no a*N product, so no
        overflow at any corpus size). All post-groupBy frames are
        vocabulary-sized."""
        from pdf_extraction_spark.operators.terms import keyness

        return keyness(_docs(spark, sf), min_count=5, k=8)

    def _host_edges(spark, sf):
        docs = _docs(spark, sf)
        return docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                (
                    (F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id"))
                    % 29
                ).cast("string"),
            ).alias("dst"),
        )

    def q_cooccur_rules(spark, sf):
        """A-priori 2-itemset mining (Agrawal & Srikant 1994) over
        documents-as-baskets: frequent word pairs with both rule
        confidences and lift — the set-cooccurrence complement to
        pmi_colloc's adjacent pairs. The A-priori prune (only
        individually-frequent words enter the per-doc pair join) is
        the load-bearing scale bound."""
        from pdf_extraction_spark.operators.terms import cooccur_rules

        return cooccur_rules(_docs(spark, sf), min_docs=20, k=30)

    def q_table_profile(spark, sf):
        """Deequ/TFDV-style table profile (Schelter et al. 2018) of the
        documents table: per-column null counts, exact cardinalities,
        typed extremes rendered to string, top-3 values — the "what
        does this drop look like" card a production ingest runs before
        any operator touches new data. Counts + renderings only, no
        float convention."""
        from pdf_extraction_spark.operators.profile import table_profile

        return table_profile(
            _docs(spark, sf), ["doc_id", "lang", "source", "n_chars"]
        )

    def q_table_checks(spark, sf):
        """Declarative data-quality checks over the same table:
        completeness thresholds by integer cross-multiplication,
        key uniqueness, lang containment, non-negative lengths —
        the ingest contract beside the profile."""
        from pdf_extraction_spark.operators.profile import table_checks

        return table_checks(
            _docs(spark, sf),
            [
                {"type": "completeness", "column": "text", "min_ppm": 990000},
                {"type": "completeness", "column": "source", "min_ppm": 1000000},
                {"type": "uniqueness", "column": "doc_id"},
                {
                    "type": "in_set",
                    "column": "lang",
                    "values": ["en", "fr", "es", "de", "zh"],
                },
                {"type": "non_negative", "column": "n_chars"},
            ],
        )

    def q_runs_test(spark, sf):
        """Wald-Wolfowitz runs test (1940) per user over the
        above-median-ish event-value indicator — the sequence-
        randomness audit beside cusum_drift (level) and
        bot_regularity (timing): too many runs = ping-pong scripting,
        too few = dwelling state machines. Exact integer run counts;
        moments as one correctly-rounded double chain."""
        from pdf_extraction_spark.operators.forensics import runs_test

        ev = _events(spark, sf).select(
            "event_id",
            "user_id",
            "ts",
            F.when(
                F.col("value").isNotNull()
                & ~F.isnan("value")
                & (F.abs(F.col("value")) < F.lit(1e15)),
                F.round(F.col("value") * 100).cast("long"),
            ).alias("v100"),
        )
        return runs_test(
            ev, "v100", "user_id", "ts", "event_id", threshold=3459
        )

    def q_cramers_v(spark, sf):
        """Cramer's V association (1946) between the lang and source
        columns — the corpus-card "does this stratification matter"
        number beside the per-group drift tests. Exact-integer
        margins, fixed-chain cell terms folded in a total order over
        (is_null, value) keys, full r x c grid incl. zero cells."""
        from pdf_extraction_spark.operators.mlfilter import cramers_v

        return cramers_v(_docs(spark, sf), "lang", "source")

    def q_powerlaw_fit(spark, sf):
        """Clauset-Shalizi-Newman in-degree power-law MLE (2009) over
        the host graph, at three k_min rungs — every ln argument
        rationalizes to integers (ln(k/(k_min-1/2)) = ln(2k) -
        ln(2k_min-1)), so the denominator is an exact int64 sum over
        the degree HISTOGRAM and one correctly-rounded division
        remains. The crawl-shape audit beside host_assort."""
        from pdf_extraction_spark.operators.graphstats import powerlaw_fit

        return powerlaw_fit(_host_edges(spark, sf), k_mins=(1, 2, 5))

    def q_graph_summary(spark, sf):
        """One-row directed-graph card: size, reciprocity (Garlaschelli
        2004; semi-join vs the transpose — the nepotism device),
        split-division density, hub extremes — all exact integer."""
        from pdf_extraction_spark.operators.graphstats import graph_summary

        return graph_summary(_host_edges(spark, sf))

    def q_kmv_overlap(spark, sf):
        """KMV k-minimum-values sketches (Bar-Yossef 2002; Beyer 2007)
        per source over the shared word-3-shingle stream, with pairwise
        union/intersection estimates — the set-operation capability
        HLL cannot offer, at sketch cost beside the exact
        source_overlap join. All integer (52-bit md5 hashes, floor
        divisions); sketches merge by k-smallest-of-union."""
        from pdf_extraction_spark.operators.dedup import shingle_df
        from pdf_extraction_spark.operators.sketches import (
            kmv_source_overlap,
        )

        sh = shingle_df(
            _docs(spark, sf).filter(F.col("source").isNotNull()),
            "text",
            "source",
            n=3,
        ).withColumnRenamed("doc_id", "source")
        return kmv_source_overlap(sh, F.col("shingle"), "source", k=64)

    def q_burrows_delta(spark, sf):
        """Burrows' Delta stylometry (2002): pairwise source distance
        on z-scored top-30-word rates — the style-level provenance
        forensic beside the content-level source_overlap/js_sources.
        Rates in exact ppm, per-word population moments exact int64,
        sigma via the shared exact-isqrt CASE, floor-per-term sum —
        bit-identical cross-engine with no float anywhere."""
        from pdf_extraction_spark.operators.textanalysis import (
            burrows_delta,
        )

        return burrows_delta(_docs(spark, sf), k=30)

    def q_bigram_entropy(spark, sf):
        """Shannon's bigram conditional entropy per source (1951):
        H(next word | word) by the chain rule over the bigram table —
        the ln B terms cancel, every remaining ln is of an integer
        count on the I(x) device, so both sums are exact int64 and
        only one correctly-rounded division exists. The F1-vs-F0 gap
        against unigram_entropy is the repetition-structure signal."""
        from pdf_extraction_spark.operators.textanalysis import (
            bigram_cond_entropy,
        )

        return bigram_cond_entropy(_docs(spark, sf))

    def q_ct_langid(spark, sf):
        """Cavnar-Trenkle rank-profile language ID (1994): top-40 char
        2/3-gram rank profiles per stored lang, out-of-place distance
        argmin per doc — the textcat classic beside the stopword-count
        langid, exact integer end-to-end (counts, total-order ranks,
        distances; no float exists)."""
        from pdf_extraction_spark.operators.textanalysis import ct_langid

        # the synthetic text does not vary by the stored lang label, so
        # the input is augmented with a deterministic per-lang marker
        # run (the refinedweb augmentation device) — profiles genuinely
        # differ per language and the verdict is non-trivial (499/500
        # at sf0.01); the twin applies the identical augmentation
        docs = _docs(spark, sf).select(
            "doc_id",
            "lang",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" "),
                F.repeat(
                    F.concat(
                        F.lit("m"), F.coalesce(F.col("lang"), F.lit("")),
                        F.lit(" "),
                    ),
                    30,
                ),
            ).alias("text"),
        )
        return ct_langid(docs, k=40)

    def q_centroid_classify(spark, sf):
        """Nearest-centroid / Rocchio classification (Rocchio 1971;
        Han & Karypis 2000) over the embeddings table's stored labels:
        micro-quantized components, truncated-mean integer centroids
        (bounded at any class size — the sum-vector form overflows),
        exact int64 dot/norms, cosine as one correctly-rounded double
        chain, argmax over #classes-row windows. The embeddings-side
        provenance classifier beside the token-side Naive Bayes."""
        from pdf_extraction_spark.operators.similarity import (
            centroid_classify,
        )

        return centroid_classify(_emb(spark, sf))

    def q_cusum_drift(spark, sf):
        """Page's CUSUM (1954) per user over the centi-quantized event
        value stream — persistent level-shift detection via the
        prefix-sum identity S_t = P_t - min_{j<=t} P_j: one prefix-sum
        window + one running-min window per side, no sequential fold
        (which also dodges the DuckDB grouped-list_reduce defect the
        funnel twin documents). Non-finite values are outside the
        monitored universe (the zscore rule)."""
        from pdf_extraction_spark.operators.forensics import cusum

        ev = _events(spark, sf).select(
            "event_id",
            "user_id",
            "ts",
            # finite AND inside the quantization domain: a finite
            # 1e18 would overflow the int64 cast after *100 (the
            # hostile-events sweep caught exactly that row) — out-of-
            # domain magnitudes are outside the monitored universe
            F.when(
                F.col("value").isNotNull()
                & ~F.isnan("value")
                & (F.abs(F.col("value")) < F.lit(1e15)),
                F.round(F.col("value") * 100).cast("long"),
            ).alias("v100"),
        )
        # target = the stream's long-run mean (~49.6 -> 4960 centi-
        # units), allowance half a sigma-ish: in-control streams hover,
        # genuinely shifted ones cross; threshold chosen so BOTH
        # verdict branches fire at sf0.01 (alarming and quiet users)
        return cusum(
            ev, "v100", "user_id", "ts", "event_id",
            target=4960, allowance=1000, threshold=30000,
        )

    def q_js_sources(spark, sf):
        """Jensen-Shannon divergence (Lin 1991) of each source's
        unigram distribution vs the corpus — the bounded symmetric
        companion to source_kl. Every log ratio is a difference of
        I() of integer products; the whole-vocabulary corpus-side sum
        aggregates over the frequency-of-frequencies table (the
        good_turing N_r device), never vocab x sources."""
        from pdf_extraction_spark.operators.textanalysis import (
            js_divergence,
        )

        return js_divergence(_docs(spark, sf))

    def q_gate_mcnemar(spark, sf):
        """McNemar's paired test (1947) between the same two judges
        gate_kappa compares — pass-RATE difference from the discordant
        counts only, exact integer milli-chi-square with the Edwards
        continuity correction beside it. Kappa asks "do they agree";
        McNemar asks "is one stricter" — the gate-eval pair."""
        from pdf_extraction_spark.operators.curation import _lower_words
        from pdf_extraction_spark.operators.fusion import gate_mcnemar

        docs = _docs(spark, sf).select(
            (
                F.size(_lower_words(F.coalesce(F.col("text"), F.lit(""))))
                >= 30
            ).alias("a"),
            (F.coalesce(F.col("n_chars"), F.lit(0)) >= 120).alias("b"),
        )
        return gate_mcnemar(docs, "a", "b")

    def q_ks_drift(spark, sf):
        """Two-sample Kolmogorov-Smirnov drift test per source (stored
        doc length vs the pooled rest): the sup CDF gap evaluated by
        exact integer cross-multiplication over the distinct-value
        histogram — no binning or float convention; lambda_6 is the
        asymptotic scaling from a correctly-rounded-only IEEE chain."""
        from pdf_extraction_spark.operators.mlfilter import ks_test

        return ks_test(_docs(spark, sf), "n_chars", "source")

    def q_clean_bleu(spark, sf):
        """BLEU-2 cleaner-damage score (Papineni et al. 2002): the
        RefinedWeb-corrected text as candidate against the raw page as
        reference — ln(BLEU) = 0 for untouched pages, degrading with
        every removed span; the report that accompanies a line cleaner
        before it is enabled on a production crawl. Input uses the
        q_refinedweb boilerplate augmentation so the cleaner actually
        removes lines and the score is non-degenerate. Clipped counts
        exact integer; brevity penalty and geometric mean quantized
        over non-negative numerators so Spark div == DuckDB //
        everywhere."""
        from pdf_extraction_spark.operators.curation import (
            with_refinedweb_flags,
        )
        from pdf_extraction_spark.operators.textanalysis import bleu_pair

        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.coalesce(F.col("text"), F.lit("")),
                F.upper(F.col("source")),
                F.col("n_chars").cast("string"),
                F.lit("12 likes"),
                F.lit("Read More"),
                F.lit("This closing line survives."),
            ).alias("text"),
        )
        flags = with_refinedweb_flags(docs, "text", "doc_id").select(
            "doc_id", "rw_text"
        )
        pair = docs.select("doc_id", "text").join(flags, "doc_id")
        return bleu_pair(pair, "rw_text", "text")

    def q_host_katz(spark, sf):
        """Katz centrality (Katz 1953) over the deterministic host
        graph — attenuated path counting WITHOUT out-degree
        normalization, the rank-family contrast to host_pagerank on
        the same edges. alpha = 1/32 as an integer shift, so every
        round is exact int64 and bit-identical cross-engine with no
        fold machinery."""
        from pdf_extraction_spark.operators.components import katz_centrality

        docs = _docs(spark, sf)
        edges = docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id")) % 29).cast(
                    "string"
                ),
            ).alias("dst"),
        )
        return katz_centrality(edges, n_iter=4, alpha_shift=5)

    def q_ams_f2(spark, sf):
        """AMS second-frequency-moment sketch (Alon-Matias-Szegedy
        1996; Thorup-Zhang bucketed estimator) over the shared token
        stream — the fourth md5-register sketch: signed md5-bucket
        counters, per-row sum of squares, lower median over rows, all
        exact int64. The exact F2 (one vocabulary-sized groupBy) rides
        along so the row is self-evaluating (rel_err_ppm)."""
        from pdf_extraction_spark.operators.sketches import ams_f2

        return ams_f2(_word_stream(spark, sf), F.col("word"))

    def q_nb_classify(spark, sf):
        """Multinomial Naive Bayes self-classification (McCallum &
        Nigam 1998): which source stratum does each page read like
        under a model fit on the corpus itself — the generative
        provenance gate beside the hashed-linear and LM gates. Laplace
        smoothing decomposed so only training-seen (word, class) pairs
        join; every score term exact int64 on the fixed-point ln
        device, argmax window partitions hold exactly #classes rows."""
        from pdf_extraction_spark.operators.mlfilter import (
            naive_bayes_classify,
        )

        return naive_bayes_classify(_docs(spark, sf))

    def q_host_quota(spark, sf):
        """Batch twin of the streaming per-host admission quota
        (streaming/hostquota.py): first-3 pages per host by the
        deterministic (ts, url) arrival key via the bounded slice
        buffer (no corpus window). The stream-vs-batch parity test
        pins that the stateful stream admits the identical set."""
        from pdf_extraction_spark.streaming.hostquota import batch_first_k

        pages = _events(spark, sf).select(
            F.concat(F.lit("h"), (F.col("user_id") % 7).cast("string")).alias(
                "host"
            ),
            F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("url"),
            F.col("ts"),
        )
        return batch_first_k(pages, 3)

    def q_gate_map(spark, sf):
        """Average precision @ 20 (the TREC MAP primitive) of the
        n_chars signal against binary 'table'-occurrence relevance —
        completes the gate-eval family beside AUC/nDCG/RBO/PR. Exact
        integer op order: hits@i·10⁶ DIV i summed over relevant
        positions, DIV min(R, k)."""
        from pdf_extraction_spark.operators.fusion import avg_precision_at_k
        from pdf_extraction_spark.operators.retrieval import _tokens_col

        toks = _tokens_col(F.coalesce(F.col("text"), F.lit("")), True)
        base = _docs(spark, sf).select(
            "doc_id",
            F.col("n_chars").alias("score"),
            F.size(F.filter(toks, lambda t: t == F.lit("table"))).alias("gain"),
        )
        return avg_precision_at_k(base, "score", "gain", k=20)

    def q_gate_kappa(spark, sf):
        """Cohen's kappa (1960) between two quality judges — the
        ≥30-token verdict vs the n_chars ≥ 120 gate: exact int64
        agreement counts, κ as one double expression (NULL for
        constant judges)."""
        from pdf_extraction_spark.operators.curation import _lower_words
        from pdf_extraction_spark.operators.fusion import cohen_kappa

        docs = _docs(spark, sf).select(
            (
                F.size(_lower_words(F.coalesce(F.col("text"), F.lit(""))))
                >= 30
            ).alias("a"),
            (F.coalesce(F.col("n_chars"), F.lit(0)) >= 120).alias("b"),
        )
        return cohen_kappa(docs, "a", "b")

    def q_bowtie(spark, sf):
        """Broder bow-tie decomposition (WWW 2000) of the host_pagerank
        graph: CORE/IN/OUT/TENDRILS/DISCONNECTED via forward, backward
        and weak reachability from the deterministic max-degree pivot
        — semi-join rounds to the TRUE fixpoint (count-stable, the
        connected_components loop shape), so the recursive-CTE twin
        recomputes the identical classes. Pure set logic, no floats."""
        from pdf_extraction_spark.operators.graphstats import bowtie

        docs = _docs(spark, sf)
        edges = docs.select(
            F.col("source").alias("src_host"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id")) % 29).cast(
                    "string"
                ),
            ).alias("dst_host"),
        )
        return bowtie(edges)

    def q_link_predict(spark, sf):
        """Adamic-Adar link prediction (Adamic & Adar 2003 /
        Liben-Nowell & Kleinberg 2003) over the extracted host graph:
        top unlinked pairs by Σ 1/ln(deg) over common neighbors —
        wedge fan-out capped at max_degree per middle (the
        pair_overlap device), weights in exact nano fixed point,
        anti-join removes existing edges."""
        from pdf_extraction_spark.operators.graphstats import adamic_adar
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return adamic_adar(extract_outlinks(docs), max_degree=64, k=20)

    def q_yule_k(spark, sf):
        """Yule's characteristic K (Yule 1944): the length-invariant
        repeat-rate vocabulary-richness constant — Σ tf² and N exact
        int64, one double expression. Templated text reads K in the
        thousands; the stylometric complement to TTR/hapax."""
        from pdf_extraction_spark.operators.textanalysis import with_yule_k

        return with_yule_k(_docs(spark, sf))

    def q_modularity(spark, sf):
        """Newman-Girvan modularity of the host_communities LPA
        partition over the same planted-cluster host graph: per-
        community intra-edge and degree-mass counts (exact int64) and
        the double contribution; Σ contribution = Q. LPA recovers the
        4 planted clusters, so Q is high; a judge of partition quality
        the clustering family was missing."""
        from pdf_extraction_spark.operators.components import (
            label_propagation,
            modularity,
        )

        docs = _docs(spark, sf)
        intra = docs.select(
            F.expr("'h' || CAST(doc_id % 40 AS STRING)").alias("src"),
            F.expr(
                "'h' || CAST((doc_id % 40) div 10 * 10 + "
                "((doc_id % 40) % 10 + 1 + doc_id % 7) % 10 AS STRING)"
            ).alias("dst"),
        )
        bridge = docs.filter(F.expr("doc_id % 97 = 0")).select(
            F.expr("'h' || CAST((doc_id % 4) * 10 AS STRING)").alias("src"),
            F.expr("'h' || CAST(((doc_id % 4 + 1) % 4) * 10 AS STRING)").alias(
                "dst"
            ),
        )
        edges = intra.unionAll(bridge)
        labels = label_propagation(edges, n_iter=5).select(
            "node", "community"
        )
        return modularity(edges, labels)

    def q_compress_gate(spark, sf):
        """zlib compression-ratio repetition gate (the Lee-2022 /
        Gopher compressibility proxy): one Arrow crossing computing
        deflate length per doc; ratio in exact ppm. Oracle = committed
        fixture's pure-Python zlib contract (the mojibake device)."""
        from pdf_extraction_spark.operators.compressgate import (
            compression_ratio,
        )

        fx = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "compress_sf0_01.parquet")
        )
        return compression_ratio(fx.select("doc_id", "text"))

    def q_readability_panel(spark, sf):
        """ARI / Coleman-Liau / Gunning-Fog (the character- and
        complex-word-based complements to Flesch): same whitespace
        tokenizer and integer fixed-point discipline, one unanchored
        3-vowel-run rlike for Fog's complex words. Pure narrow
        projection — zero exchanges, zero Python."""
        from pdf_extraction_spark.operators.textanalysis import (
            with_readability_panel,
        )

        return with_readability_panel(_docs(spark, sf)).select(
            "doc_id",
            "rd_words",
            "rd_sents",
            "rd_chars",
            "rd_complex",
            "ari",
            "coleman_liau",
            "gunning_fog",
        )

    # -- incremental ingestion dedup vs historical signature store ----------
    def q_incremental_dedup(spark, sf):
        """New batch = deterministic transform of the corpus (exact
        copies / near-dups / distinct docs, mirrored in
        tests/make_oracle_fixtures.new_batch_text); history = the
        committed kernel-signature store. Drops recomputed relationally
        end-to-end in the twin."""
        from pdf_extraction_spark.operators.dedup import minhash_incremental_drops

        docs = _docs(spark, sf)
        new_df = docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.when(F.col("doc_id") % 3 == 0, F.coalesce("text", F.lit("")))
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(F.coalesce("text", F.lit("")), F.lit(" zzz www qqq")),
            )
            .otherwise(F.concat(F.lit("zyx "), F.reverse(F.coalesce("text", F.lit("")))))
            .alias("text"),
        )
        history = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "minhash_sigs_sf0_01.parquet")
        )
        return minhash_incremental_drops(
            new_df, history, num_hashes=32, bands=8, threshold=0.5
        )

    # -- epoch-weighted training mix (downsample + multi-epoch) -------------
    def q_weighted_mix(spark, sf):
        from pdf_extraction_spark.operators.curation import weighted_mix

        return weighted_mix(
            _docs(spark, sf),
            key_col="doc_id",
            stratum_col="source",
            rates={"src0": 2.5, "src1": 0.4, "src2": 1.0},
            default_rate=0.25,
        ).select("doc_id", "source", "copy_no")

    # -- mojibake repair: native encode/decode, zero Python ----------------
    def q_fix_mojibake(spark, sf):
        """Oracle = committed fixture whose expected column is the
        pure-Python contract recompute (kernels/encoding.py)."""
        from pdf_extraction_spark.operators.textanalysis import fix_mojibake_col

        fx = spark.read.parquet(_os.path.join(_FIXTURE_DIR, "mojibake_sf0_01.parquet"))
        return fx.select(
            "doc_id", fix_mojibake_col(F.col("text"), passes=2).alias("fixed_text")
        )

    # -- BM25 lexical retrieval (round 4) -----------------------------------
    def q_bm25(spark, sf):
        from pdf_extraction_spark.operators.retrieval import bm25_topk

        return bm25_topk(_docs(spark, sf), ["table", "join", "window"], k=10)

    # -- sliding-window RAG chunker (round 4) -------------------------------
    def q_chunk_docs(spark, sf):
        from pdf_extraction_spark.operators.retrieval import chunk_sliding_window

        return chunk_sliding_window(_docs(spark, sf), size=64, overlap=16)

    # -- C4 document cleaning (Raffel et al. 2020 §2.2, round 4) ------------
    def q_c4_filter(spark, sf):
        from pdf_extraction_spark.operators.curation import with_c4_flags

        return with_c4_flags(_docs(spark, sf), "text", "doc_id")

    # -- SemDeDup (Abbas et al. 2023, round 4) -------------------------------
    def q_semdedup(spark, sf):
        """Semantic near-dup removal within embedding clusters over the
        committed centroid fixture: the twin recomputes assignment
        (argmax), centroid similarity, and the within-cell pair test
        (priority = least-similar-to-centroid survives) relationally."""
        from pdf_extraction_spark.operators.similarity import semantic_dedup

        cents_df = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "ivf_centroids_sf0_01.parquet")
        )
        cents = [
            r["centroid"] for r in sorted(cents_df.collect(), key=lambda r: r["cell"])
        ]
        return semantic_dedup(_emb(spark, sf), cents, threshold=0.35)

    # -- CCNet perplexity bucketing (Wenzek et al. 2020 §4.4, round 4) ------
    def q_ppl_buckets(spark, sf):
        """LM-score every doc (the lm_score pipeline), then label
        head/middle/tail by per-language discrete tercile cutoffs —
        actual round-6 score values at ranks ceil(n/3)/ceil(2n/3), so
        no percentile-interpolation convention exists to diverge
        cross-engine."""
        from pdf_extraction_spark.operators.mlfilter import (
            bucket_by_lm_score,
            score_bigram_lm,
            train_bigram_lm,
        )

        docs = _docs(spark, sf)
        scored = score_bigram_lm(docs, train_bigram_lm(docs)).join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        return bucket_by_lm_score(scored).select(
            "doc_id", "lang", "avg_logprob", "bucket"
        )

    # -- DSIR importance resampling (Xie et al. 2023, round 4) --------------
    def q_dsir_select(spark, sf):
        """Resample 100 docs toward the English subset of the corpus:
        hashed unigram+bigram bag-of-words log-likelihood-ratio weights
        (relationally fit, bucket space bounds every model table) +
        deterministic hash-Gumbel top-k — the full published DSIR
        recipe, end-to-end relational."""
        from pdf_extraction_spark.operators.mlfilter import dsir_select

        docs = _docs(spark, sf)
        return dsir_select(docs, docs.filter(F.col("lang") == "en"), k=100)

    # -- fixed-point host PageRank (Page et al. 1999, round 4) --------------
    def q_host_pagerank(spark, sf):
        """PageRank over a deterministic host graph derived from the
        documents table (source → quadratic-residue target, so degrees
        and ranks actually differentiate, and hosts src20+ are dangling
        sinks). All-integer fixed-point recursion — plain sums are
        exact and associative, so no fold machinery is needed for
        cross-engine bit-parity."""
        from pdf_extraction_spark.operators.components import pagerank

        docs = _docs(spark, sf)
        edges = docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id")) % 29).cast(
                    "string"
                ),
            ).alias("dst"),
        )
        return pagerank(edges, n_iter=5)

    def q_host_trustrank(spark, sf):
        """TrustRank (Gyongyi et al. 2004) over the same deterministic
        host graph: teleport + dangling return restricted to the
        3-host trusted seed set, so rank mass decays with link distance
        from the seeds and hosts unreachable from them read exactly 0.
        Same fixed-point int64 recursion as host_pagerank."""
        from pdf_extraction_spark.operators.components import trustrank

        docs = _docs(spark, sf)
        edges = docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id")) % 29).cast(
                    "string"
                ),
            ).alias("dst"),
        )
        seeds = (
            docs.select(F.col("source").alias("node"))
            .filter(F.col("node").isin("src0", "src7", "src14"))
            .distinct()
        )
        return trustrank(edges, seeds, n_iter=5)

    # -- Winnowing fingerprints (Schleimer et al. 2003, round 4) ------------
    def q_winnow_fp(spark, sf):
        """MOSS-style winnowing: hash every word 3-gram, keep the
        rightmost minimum of each 4-hash window, dedupe per doc — the
        local fingerprint index for clone/quotation detection. Pure
        narrow map (zero exchanges); md5-prefix 52-bit gram hashes make
        positions AND values bit-identical cross-engine."""
        from pdf_extraction_spark.operators.dedup import winnow_fingerprints

        return winnow_fingerprints(_docs(spark, sf), k=3, w=4)

    # -- Unicode script profile (round 4) ------------------------------------
    def q_script_profile(spark, sf):
        """Per-doc writing-system histogram + the mixed-script
        (homoglyph-spam) flag. The synthetic docs are pure ASCII, so
        the query appends deterministic non-Latin suffixes (identical
        CASE expression in both engines) to make every script branch
        and the integer mixed rule fire for real."""
        from pdf_extraction_spark.operators.textanalysis import (
            _SCRIPT_ORDER,
            with_script_profile,
        )

        docs = _docs(spark, sf).withColumn(
            "text", F.expr("text || " + _SCRIPT_AUG)
        )
        return with_script_profile(docs).select(
            "doc_id",
            "n_letters",
            *[f"n_{n}" for n in _SCRIPT_ORDER],
            "n_digits",
            "main_script",
            "main_frac",
            "mixed_script",
        )

    # -- HTML head-metadata extraction (round 4) -----------------------------
    def q_html_meta(spark, sf):
        """Native <head> metadata extraction (title / description /
        canonical / og:title / lang / charset) over deterministic
        synthetic HTML built from doc fields — six vectorized JVM regex
        scans, zero Python, zero exchanges; the RE2∩Java pattern set
        avoids backreferences and spells whitespace as the literal Java
        \\s body."""
        from pdf_extraction_spark.operators.htmlmeta import with_html_meta

        docs = _docs(spark, sf).withColumn("html", F.expr(_HTML_AUG))
        return with_html_meta(docs).select(
            "doc_id",
            "page_title",
            "meta_description",
            "canonical_url",
            "og_title",
            "html_lang",
            "html_charset",
        )

    # -- HTML outlinks → host link graph (round 4) ---------------------------
    def q_html_outlinks(spark, sf):
        """Native <a href> extraction over synthetic anchor-rich pages,
        resolved against the page host (absolute / protocol-relative /
        root-relative; foreign schemes and fragments dropped; hosts
        lowercased, :port and www. stripped), aggregated to the
        (src_host, dst_host) edge list PageRank consumes. One JVM
        regexp_extract_all scan + one map-side-combinable pair-keyed
        groupBy — zero Python."""
        from pdf_extraction_spark.operators.htmlgraph import (
            extract_outlinks,
            host_link_graph,
        )

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return host_link_graph(extract_outlinks(docs))

    def q_outlink_pagerank(spark, sf):
        """The full web-graph loop INSIDE the engine: raw HTML → native
        outlink extraction → host edge list → fixed-point integer
        PageRank. Edges come straight off the anchor scan (pagerank
        dedups/self-loop-drops internally); everything after the regex
        projection is exact int64, so the composition inherits both
        operators' bit-stability."""
        from pdf_extraction_spark.operators.components import pagerank
        from pdf_extraction_spark.operators.htmlgraph import extract_outlinks

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        edges = extract_outlinks(docs).select(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
        )
        return pagerank(edges, n_iter=4)

    def q_anchor_terms(spark, sf):
        """Incoming anchor-term profile per target host (the web-search
        relevance signal): shared lowercase tokenizer over anchor texts,
        one (dst_host, term)-keyed combinable aggregation with a
        distinct-referrer count as the anti-spam column."""
        from pdf_extraction_spark.operators.htmlgraph import (
            anchor_terms,
            extract_outlinks,
        )

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_LINKS_AUG).alias("html"),
        )
        return anchor_terms(extract_outlinks(docs), min_count=2)

    # -- host-scoped boilerplate strip (round 4) ------------------------------
    def q_host_boilerplate(spark, sf):
        """Per-host template removal: a line on ≥3 DISTINCT docs of the
        SAME host is that host's nav/footer boilerplate and is stripped
        host-wide; the same line spread one-per-host across 20 hosts
        survives (the semantics corpus-wide dedup_lines cannot express).
        Two map-side-combinable aggs + a co-keyed anti-join."""
        from pdf_extraction_spark.operators.curation import (
            host_boilerplate_strip,
        )

        docs = _docs(spark, sf).select(
            "doc_id", "source", F.expr(_BOILER_AUG).alias("text")
        )
        return host_boilerplate_strip(docs, min_docs=3)

    # -- meta-robots gate (round 4) -------------------------------------------
    def q_robots_gate(spark, sf):
        """Crawl-consent gate: parse <meta name=robots> directive lists
        (both quote styles, case-folded, token-boundary exact, 'none'
        alias) into noindex/nofollow/indexable flags — the filter a
        crawl-derived corpus applies before anything else touches the
        page. Fully native, zero exchanges."""
        from pdf_extraction_spark.operators.htmlmeta import with_robots_flags

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_ROBOTS_AUG).alias("html")
        )
        return with_robots_flags(docs).select(
            "doc_id", "robots_content", "noindex", "nofollow", "indexable"
        )

    # -- corpus term statistics (round 4 continuation) ------------------------
    def q_pmi_colloc(spark, sf):
        """PMI collocation mining over adjacent token pairs (Church &
        Hanks 1990) — the multi-word-expression signal a tokenizer/
        vocabulary pass reads. Fixed-point ln device: five rounded ln()
        per surviving pair combined in exact int64, so the score is
        bit-identical across engines and partitionings."""
        from pdf_extraction_spark.operators.terms import pmi_collocations

        return pmi_collocations(_docs(spark, sf), min_count=5)

    def q_doc_keyterms(spark, sf):
        """Per-document TF-IDF top-3 key terms (Sparck Jones 1972):
        integer score tf·(I(N)−I(df)), doc-bounded top-k buffer (no
        corpus-sized window), deterministic (score desc, term asc)
        tie-break in both engines."""
        from pdf_extraction_spark.operators.terms import doc_key_terms

        return doc_key_terms(_docs(spark, sf), k=3)

    # -- exact phrase search (round 4) ----------------------------------------
    def q_phrase_search(spark, sf):
        """Positional phrase matching over the BM25 tokenizer — every
        occurrence of an ordered token run, exact under overlaps, as a
        zero-join per-doc window scan with a semantics-free contains
        prefilter. The capability bag-of-words BM25 can't express."""
        from pdf_extraction_spark.operators.retrieval import phrase_match

        return phrase_match(_docs(spark, sf), ["table", "hash"])

    # -- BPE vocabulary induction (Sennrich et al. 2016, round 4) -----------
    def q_bpe_merges(spark, sf):
        """Learn the corpus's first 16 byte-pair merges relationally:
        every round is two vocabulary-sized shuffles (integer pair
        counts + a total-ordered top-1) and a fold rewrite — no driver
        dict, no floats anywhere, so parity needs no rounding rules."""
        from pdf_extraction_spark.operators.bpe import bpe_merges, word_counts

        return bpe_merges(word_counts(_docs(spark, sf)), n_merges=16)

    def q_bpe_encode(spark, sf):
        """Tokenize every doc with the BPE vocabulary learned from the
        same corpus — the merge chain runs once over the vocabulary
        carrying the word column; docs join the final word→count table
        (vocabulary-keyed, never a per-doc re-encode)."""
        from pdf_extraction_spark.operators.bpe import bpe_encode

        return bpe_encode(_docs(spark, sf), n_merges=12)

    def q_bpe_fertility(spark, sf):
        """Per-source tokenizer fertility (tokens/word, chars/token in
        fixed-point per-mille) under the corpus-trained BPE vocabulary
        — the compression report mixture budgets are priced in. One
        tokenization feeds vocabulary AND per-group sums; output is
        bounded by the number of sources."""
        from pdf_extraction_spark.operators.bpe import bpe_fertility

        return bpe_fertility(_docs(spark, sf), n_merges=12)

    def q_vocab_growth(spark, sf):
        """Heaps'-law vocabulary growth curve over an md5-deterministic
        document permutation: new-type counts per bucket via a
        min-bucket-per-word groupBy (the only corpus-scale shuffle),
        running sums over the 64-row curve frame."""
        from pdf_extraction_spark.operators.bpe import vocab_growth

        return vocab_growth(_docs(spark, sf), n_buckets=64)

    # -- md5-register sketches (HLL distinct / CMS heavy hitters, round 4) --
    def _word_stream(spark, sf):
        """Shared token stream for the sketch queries — ONE home
        mirroring the oracle side's _WORD_SRC so neither query's
        tokenization can drift from its twin alone."""
        from pdf_extraction_spark.operators.curation import _lower_words

        return _docs(spark, sf).select(
            F.explode(
                _lower_words(F.coalesce(F.col("text"), F.lit("")))
            ).alias("word")
        )

    def q_hll_words(spark, sf):
        """HyperLogLog distinct-word estimate whose SKETCH is
        bit-identical cross-engine (md5 registers + string-math ranks —
        unlike approx_count_distinct, whose HLL++ lives inside the JVM
        and can never be oracled)."""
        from pdf_extraction_spark.operators.sketches import hll_distinct

        return hll_distinct(_word_stream(spark, sf), F.col("word"))

    def q_cms_topwords(spark, sf):
        """Count-Min heavy hitters over the token stream — d salted md5
        rows of exact integer sums, min-over-rows point queries,
        integer end-to-end (no float convention needed anywhere)."""
        from pdf_extraction_spark.operators.sketches import cms_heavy_hitters

        return cms_heavy_hitters(_word_stream(spark, sf), F.col("word"), k=20)

    def q_bloom_dedup(spark, sf):
        """Bloom-prefiltered incremental exact-dedup gate (Bloom 1970):
        history = every third doc, incoming = the whole table, so true
        duplicates exist by construction; m_bits=1024 loads the filter
        enough that false positives fire and the twin checks the
        recheck branch, not just the happy path. Integer bit positions
        end-to-end — the SKETCH, not just the verdict, is cross-engine
        bit-identical."""
        from pdf_extraction_spark.operators.sketches import bloom_dedup_flags

        docs = _docs(spark, sf)
        return bloom_dedup_flags(
            docs,
            docs.filter(F.col("doc_id") % 3 == 0),
            m_bits=1024,
        )

    def q_unigram_entropy(spark, sf):
        """RedPajama-v2's rps_doc_unigram_entropy quality signal —
        per-doc Shannon entropy of the unigram distribution via the
        fixed-point int64 device (one rounded ln() per distinct word,
        then exact associative integer sums), so the float result is
        bit-identical across engines and partitionings."""
        from pdf_extraction_spark.operators.textanalysis import (
            with_unigram_entropy,
        )

        return with_unigram_entropy(_docs(spark, sf))

    def q_host_quality(spark, sf):
        """Two-level domain filtering (RefinedWeb-style host
        induction): per-doc integer quality verdicts aggregated per
        host; hosts past the bad-fraction threshold are dropped
        wholesale, good-looking pages included. At sf0.01 both verdict
        branches fire (bad fractions span 8–32% across hosts against
        the 25% threshold)."""
        from pdf_extraction_spark.operators.hostcap import host_quality_gate

        return host_quality_gate(_docs(spark, sf))

    def q_host_wilson(spark, sf):
        """Support-aware host ranking: Wilson score lower bound (z = 2)
        of each host's doc-quality pass rate, evaluated entirely in
        exact int64 fixed-point (10¹² radicand scale, exact integer
        sqrt via the shared ±1-candidate CASE) so the ppm result is
        bit-identical across engines and cluster sizes. One map-side-
        combinable host aggregation, no second shuffle."""
        from pdf_extraction_spark.operators.hostcap import host_wilson_rank

        return host_wilson_rank(_docs(spark, sf))

    def q_hll_by_source(spark, sf):
        """Grouped HLL — the oracle-able relational form of
        `approx_count_distinct(x) GROUP BY k`: per-source distinct
        word-3-shingle estimates (vocabulary-richness per corpus
        slice). Shingles via the shared shingle_df home; at sf0.01
        every source holds 1.0–1.5k distinct shingles against m=256
        registers, so the RAW harmonic branch fires per key (the
        global hll_words query pins the linear branch)."""
        from pdf_extraction_spark.operators.dedup import shingle_df
        from pdf_extraction_spark.operators.sketches import hll_distinct_by

        sh = shingle_df(
            _docs(spark, sf), "text", "source"
        ).withColumnRenamed("doc_id", "source")
        return hll_distinct_by(sh, "source", F.col("shingle"))

    def q_hist_quantiles(spark, sf):
        """Corpus length-distribution percentiles via the HDR-histogram
        sketch (Tene): exact bins below 64, (magnitude, top-6-bit)
        bins above — integer bit math end-to-end, so the sketch AND
        every per-mille estimate are bit-identical cross-engine. The
        groupBy is bounded by the bin space (~hundreds of rows at any
        corpus size), never corpus-sized."""
        from pdf_extraction_spark.operators.sketches import (
            histogram_quantiles,
            histogram_sketch,
        )

        lens = _docs(spark, sf).select(
            F.length(F.coalesce(F.col("text"), F.lit(""))).alias("tlen")
        )
        return histogram_quantiles(
            histogram_sketch(lens, "tlen"),
            [10, 250, 500, 750, 900, 990, 999],
        )

    # -- RefinedWeb line-wise correction (Penedo et al. 2023, round 4) ------
    def q_refinedweb(spark, sf):
        """The synthetic documents contain no boilerplate, so the input
        is augmented with deterministic boilerplate lines derived from
        doc fields (uppercase source → mainly-upper rule, n_chars →
        numeric-only, a counter, a nav phrase, plus one line that must
        survive) — every removal rule AND the 5% page gate fire for
        real; the twin applies the identical augmentation."""
        from pdf_extraction_spark.operators.curation import with_refinedweb_flags

        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.coalesce(F.col("text"), F.lit("")),
                F.upper(F.col("source")),
                F.col("n_chars").cast("string"),
                F.lit("12 likes"),
                F.lit("Read More"),
                F.lit("This closing line survives."),
            ).alias("text"),
        )
        return with_refinedweb_flags(docs, "text", "doc_id")

    # -- CCNet-style URL-level dedup (canonicalize → keep best, round 4) ----
    def q_dedup_url(spark, sf):
        """Composition: synthetic colliding URLs (mixed-case scheme and
        host + a utm tracking param — canonicalization must collapse the
        variants) → keep the longest doc per canonical URL, ties to the
        lowest doc_id, via the combinable min(struct) device (no window
        funnel — the keep-first line-dedup shape)."""
        from pdf_extraction_spark.operators.curation import canonical_url_col

        docs = _docs(spark, sf)
        raw = F.concat(
            F.lit("HTTPS://"),
            F.upper(F.col("source")),
            F.lit(".Example.com/p/"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("?utm_source=feed&ref=rss"),
        )
        d = docs.select(
            "doc_id", "n_chars", canonical_url_col(raw).alias("curl")
        )
        # rank on coalesce(n_chars, -1): Spark's struct-min sorts a NULL
        # field FIRST while the twin's ORDER BY ... DESC puts NULLs last
        # — coalescing pins one rule in both engines; the raw value
        # rides along in the struct ((negc, keep_id) is already unique,
        # so the third field never influences the min)
        best = d.groupBy("curl").agg(
            F.min(
                F.struct(
                    (-F.coalesce(F.col("n_chars"), F.lit(-1))).alias("negc"),
                    F.col("doc_id").alias("keep_id"),
                    F.col("n_chars").alias("n_chars"),
                )
            ).alias("w")
        )
        return best.select(
            "curl",
            F.col("w.keep_id").alias("doc_id"),
            F.col("w.n_chars").alias("n_chars"),
        )

    # -- HITS hubs & authorities (round-4 continuation) ----------------------
    def q_host_hits(spark, sf):
        """HITS (Kleinberg 1999) over the same deterministic host graph
        as host_pagerank — hub and authority scores via the mutual
        fixed-point recursion, with the L2 norm replaced by an exact
        int64 ceil-divisor rescale so every half-step is associative
        integer sums and the result is bit-identical across engines
        and partitionings."""
        from pdf_extraction_spark.operators.components import hits

        docs = _docs(spark, sf)
        edges = docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id")) % 29).cast(
                    "string"
                ),
            ).alias("dst"),
        )
        return hits(edges, n_iter=5)

    # -- Flesch readability (round-4 continuation) ---------------------------
    def q_readability(spark, sf):
        """Flesch reading-ease + Flesch-Kincaid grade over the shared
        whitespace tokenizer with the vowel-run syllable approximation
        — two vectorized JVM regexp scans + one array filter, zero
        exchanges, zero Python; both scores fixed-point int64 at 10^-6
        before the only float division."""
        from pdf_extraction_spark.operators.textanalysis import with_readability

        return with_readability(_docs(spark, sf)).select(
            "doc_id", "rd_words", "rd_sents", "rd_syllables", "flesch", "fk_grade"
        )

    # -- snapshot change tracking → recrawl priority (round-4 cont.) ---------
    def q_snapshot_delta(spark, sf):
        """Per-url content-change statistics over a deterministic
        multi-snapshot expansion of the documents table (1 + doc_id%5
        snapshots per url, engine-identical text mutation): NULL-safe
        lag compare inside a url-keyed window whose partition is the
        per-url snapshot count (bounded by crawl cadence), then one
        map-side-combinable aggregate; change rate and recrawl buckets
        stay in exact integer arithmetic."""
        from pdf_extraction_spark.operators.crawl import snapshot_changes

        docs = _docs(spark, sf)
        snaps = docs.select(
            F.expr(_LINKS_URL).alias("url"),
            F.col("doc_id"),
            F.col("text"),
            F.explode(F.expr("sequence(1, 1 + CAST(doc_id % 5 AS INT))")).alias("j"),
        ).select(
            "url",
            F.expr(_SNAP_TS).cast("long").alias("ts"),
            F.expr(_SNAP_TEXT).alias("text"),
        )
        return snapshot_changes(snaps, ts_col="ts")

    # -- politeness-interleaved frontier schedule (round-4 cont.) ------------
    def q_frontier(spark, sf):
        """Crawl-frontier wave assignment: within each host, candidates
        rank by (priority DESC, url ASC); wave k holds every host's
        k-th url, so executing waves in order fetches at most one url
        per host per wave. One host-keyed window (compose after
        host_cap when per-host counts are unbounded); NULL hosts form
        one shared politeness bucket in both engines."""
        from pdf_extraction_spark.operators.crawl import frontier_schedule

        docs = _docs(spark, sf)
        cands = docs.select(
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_FRONTIER_HOST).alias("host"),
            F.expr("CAST(n_chars % 97 AS BIGINT)").alias("priority"),
        )
        return frontier_schedule(cands)

    # -- robots.txt parse + URL admission (round-4 continuation) -------------
    def _robots_hosts(spark, sf):
        docs = _docs(spark, sf)
        return docs.select("source").distinct().select(
            F.expr(_ROBOTS_HOST).alias("host"),
            F.expr(_ROBOTS_TXT).alias("robots_txt"),
        )

    def q_robots_rules(spark, sf):
        """RFC 9309 robots.txt group parser over one synthetic file per
        host: comment strip, first-colon key/value split, case-folded
        keys and agent names, running-sum group attribution (stacked
        User-agent lines share a group), agent × rule expansion. Fully
        native — the only window is per-host over the file's own lines
        (KB-bounded)."""
        from pdf_extraction_spark.operators.robotstxt import parse_robots

        return parse_robots(_robots_hosts(spark, sf))

    def q_robots_allow(spark, sf):
        """End-to-end REP admission gate: parse every host's
        robots.txt, select MyBot's agent group (falling back to '*'
        on hosts that don't declare one), then admit each candidate
        url by longest-matching path prefix with Allow winning length
        ties; urls with no matching rule default to allowed. One
        host-keyed join; rule side is file-size-bounded per host."""
        from pdf_extraction_spark.operators.robotstxt import (
            parse_robots,
            robots_allowed,
        )

        docs = _docs(spark, sf)
        rules = parse_robots(_robots_hosts(spark, sf))
        urls = docs.select(
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_ROBOTS_HOST).alias("host"),
        )
        return robots_allowed(urls, rules, agent="MyBot")

    # -- shingle containment (round-4 continuation) --------------------------
    def q_containment(spark, sf):
        """Directed n-gram containment pairs — the asymmetric
        complement of ngram_jaccard (a quote or excerpt is CONTAINED
        in its host even when symmetric Jaccard is tiny). Same
        inverted-index shape (xxhash64 key, broadcast hot-shingle
        anti-prune, 128-bit intersection hardening); the gate and the
        reported value are integer-domain."""
        from pdf_extraction_spark.operators.dedup import containment_pairs

        return containment_pairs(
            _docs(spark, sf), n=3, threshold_pct=50, max_shingle_freq=100000
        )

    # -- sitemap.xml parse (round-4 continuation) -----------------------------
    def q_sitemap(spark, sf):
        """sitemaps.org XML parser over one synthetic sitemap per host:
        block scan + per-entry field extracts (loc edge-trimmed,
        loc-less entries dropped, priority cast NULL-on-unparsable).
        Fully native, one explode, zero joins."""
        from pdf_extraction_spark.operators.crawl import parse_sitemap

        docs = _docs(spark, sf)
        maps = docs.select("source").distinct().select(
            F.expr(_ROBOTS_HOST).alias("host"),
            F.expr(_SITEMAP_XML).alias("sitemap_xml"),
        )
        return parse_sitemap(maps)

    # -- composed crawl plan: robots gate → frontier waves (round-4 cont.) ---
    def q_crawl_plan(spark, sf):
        """The integrated fetch schedule: candidates pass the robots
        admission gate (MyBot, longest-prefix match) and the survivors
        get politeness waves per host — the composition a production
        frontier actually runs. Two host-keyed shuffles end to end
        (rules join, wave window); the rule side is file-size-bounded
        per host."""
        from pdf_extraction_spark.operators.crawl import frontier_schedule
        from pdf_extraction_spark.operators.robotstxt import (
            parse_robots,
            robots_allowed,
        )

        docs = _docs(spark, sf)
        rules = parse_robots(_robots_hosts(spark, sf))
        urls = docs.select(
            F.expr(_LINKS_URL).alias("url"),
            F.expr(_ROBOTS_HOST).alias("host"),
            F.expr("CAST(n_chars % 97 AS BIGINT)").alias("priority"),
        )
        admitted = (
            robots_allowed(urls, rules, agent="MyBot")
            .filter(F.col("allowed"))
            .select("url")
        )
        return frontier_schedule(urls.join(admitted, "url"))

    # -- redirect-chain resolution (round-4 continuation) ---------------------
    def q_redirects(spark, sf):
        """Resolve every 3xx source to its landing url by pointer
        doubling (5 self-joins for a 16-hop cap, not 16 — each round
        squares the reach and the exact-hops invariant flags cycles by
        overshoot, no cycle-detection join). Fixture edges exercise
        short chains (1-4 hops, ok), a 6-cycle (too_many), and a
        40-deep chain whose tail resolves and whose head exceeds the
        cap. Twin is a recursive-CTE walk with the identical give-up
        rule."""
        from pdf_extraction_spark.operators.crawl import resolve_redirects

        docs = _docs(spark, sf)
        sid = F.col("doc_id").cast("string")
        prev = (F.col("doc_id") - 1).cast("string")
        chain = docs.filter(F.expr("doc_id % 5 <> 0")).select(
            F.concat(F.lit("u"), sid).alias("src"),
            F.concat(F.lit("u"), prev).alias("dst"),
        )
        cyc = docs.select(
            F.concat(F.lit("c"), (F.col("doc_id") % 6).cast("string")).alias("src"),
            F.concat(
                F.lit("c"), ((F.col("doc_id") % 6 + 1) % 6).cast("string")
            ).alias("dst"),
        )
        deep = docs.filter(F.expr("doc_id >= 1 AND doc_id <= 40")).select(
            F.concat(F.lit("x"), sid).alias("src"),
            F.concat(F.lit("x"), prev).alias("dst"),
        )
        return resolve_redirects(
            chain.unionAll(cyc).unionAll(deep), max_hops=16
        )


    # -- edit-distance pair verification (round-4 continuation) ---------------
    def q_edit_verify(spark, sf):
        """Verification pass of the near-dup funnel: candidate pairs
        (here a deterministic mix of cross pairs and exact self-pairs)
        get a real levenshtein distance and the integer-domain gate
        100*dist <= pct*max(len) — no float division, both engines see
        identical ASCII-folded 500-codepoint prefixes. Two id-keyed
        hash joins; the O(prefix^2) distance is bounded by the cap."""
        from pdf_extraction_spark.operators.dedup import edit_verify_pairs

        docs = _docs(spark, sf)
        cross = docs.filter(F.expr("doc_id < 250")).select(
            F.col("doc_id").alias("id_a"),
            F.expr("(doc_id * 7 + 13) % 500").alias("id_b"),
        )
        selfp = docs.filter(F.expr("doc_id % 10 = 0")).select(
            F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
        )
        return edit_verify_pairs(cross.unionAll(selfp), docs, max_dist_pct=60)


    # -- int8 embedding quantization (round-4 continuation) --------------------
    def q_quantize(spark, sf):
        """Symmetric per-vector int8 quantization of the embeddings
        table: scale = max|x|/127, half-up codes spelled floor(v+0.5)
        so no engine round() semantics leak, saturation count and max
        dequantization error reported. Pure per-row projection — zero
        exchanges, zero Python."""
        from pdf_extraction_spark.operators.similarity import quantize_embeddings

        return quantize_embeddings(_emb(spark, sf))

    # -- product quantization: encode + ADC top-k (round-4 continuation) ------
    def q_pq_encode(spark, sf):
        """PQ encoding over the committed codebook fixture (m=8
        subspaces x 16 cells, trained by the shared pure-numpy
        pq_train_lite on the full vec_id-sorted sf0.01 table) — each
        64-dim vector compresses to 8 int codes (64x vs float32).
        Per-subspace argmin is the min(struct) device over left-fold
        squared-L2 distances; codes rebuilt in subspace order. Exact
        given fixed codebook -> full strict twin."""
        from pdf_extraction_spark.operators.similarity import pq_encode

        cb = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "pq_codebook_sf0_01.parquet")
        ).collect()
        return pq_encode(_emb(spark, sf), cb)

    def q_pq_topk(spark, sf):
        """Asymmetric-distance top-k over the PQ codes (IVF-PQ serving
        kernel, Jegou 2011): lut of query-subvector<->centroid squared
        distances computed relationally over the broadcast codebook,
        posexplode codes -> lut join -> subspace-ordered fold ->
        TakeOrderedAndProject. The scan side touches only the 4-byte
        codes — the 10^12-vector serving shape."""
        from pdf_extraction_spark.operators.similarity import adc_topk

        cb = spark.read.parquet(
            _os.path.join(_FIXTURE_DIR, "pq_codebook_sf0_01.parquet")
        ).collect()
        return adc_topk(_emb(spark, sf), cb, _query_vec(), k=8)

    # -- registrable-domain parse (round-4 continuation) ----------------------
    def q_domain_parse(spark, sf):
        """Public-suffix parse (eTLD+1) over five deterministic host
        shapes: longest-suffix-first cascade against the embedded PSL
        subset (production swaps in the full publicsuffix.org
        snapshot), implicit unknown-TLD rule, bare-suffix hosts →
        NULL registrable. Pure per-row projection — zero exchanges
        beyond the distinct, zero Python."""
        from pdf_extraction_spark.operators.htmlgraph import domain_parse

        docs = _docs(spark, sf)
        hosts = docs.select(F.expr(_DOMAIN_HOST).alias("host")).distinct()
        return domain_parse(hosts)

    # -- domain-disjoint holdout split (round-4 continuation) ------------------
    def q_holdout_split(spark, sf):
        """Leakage-safe train/valid/test assignment keyed by the
        registrable domain (97 synthetic co.uk sites + a bare-suffix
        host + NULL hosts, so every key rule fires): md5 bucket of the
        eTLD+1 -> cumulative name-sorted thresholds. A domain never
        straddles a holdout boundary; pure narrow projection."""
        from pdf_extraction_spark.operators.curation import holdout_split

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_HOLDOUT_HOST).alias("host")
        )
        return holdout_split(
            docs, splits={"train": 0.90, "valid": 0.05, "test": 0.05}
        ).select("doc_id", "host", "split_key", "bucket", "split")

    # -- layout-template detection (round-4 continuation) ---------------------
    def q_template_pages(spark, sf):
        """Structural near-dup: md5 of each page's tag-name sequence
        (text stripped by construction) groups mass-generated layouts
        text dedup can't see; count per key via a map-side-combinable
        groupBy + equi-join back (no window — a mega-template would
        funnel one task; AQE splits the skewed join key)."""
        from pdf_extraction_spark.operators.webshape import template_pages

        docs = _docs(spark, sf).withColumn("html", F.expr(_TEMPLATE_HTML))
        return template_pages(docs, min_count=50)

    # -- crawl-trap url flags (round-4 continuation) ---------------------------
    def q_url_traps(spark, sf):
        """Pre-fetch trap detection from the URL alone: path depth,
        param count, session ids (param and ;jsessionid path forms),
        repeated path segments, deep calendar paths, combined verdict.
        Pure projection, zero exchanges, zero Python."""
        from pdf_extraction_spark.operators.webshape import url_trap_flags

        urls = _docs(spark, sf).select(F.expr(_TRAP_URL).alias("url"))
        return url_trap_flags(urls).select(
            "url",
            "path_depth",
            "n_params",
            "has_session_id",
            "repeated_segment",
            "deep_calendar",
            "is_trap",
        )

    # -- link-spam mass (round-4 continuation) --------------------------------
    def q_spam_mass(spark, sf):
        """Spam mass (Gyongyi, Berkhin, Garcia-Molina & Pedersen 2006):
        the PageRank fraction NOT attributable to trusted seeds —
        pr − tr over the same host graph and seed set as
        host_pagerank/host_trustrank. Both ranks are 6-decimal
        fixed-point outputs, so the relative-mass verdict re-enters
        the integer domain (round(rank·10⁶) is exact) and buckets by
        integer cross-multiplication: spam if mass > 0.8·pr, suspect
        if > 0.5·pr, else ham; zero-PageRank nodes are ham."""
        from pdf_extraction_spark.operators.components import pagerank, trustrank

        docs = _docs(spark, sf)
        edges = docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                ((F.col("doc_id") * F.col("doc_id") * 5 + F.col("doc_id")) % 29).cast(
                    "string"
                ),
            ).alias("dst"),
        )
        seeds = docs.select(F.col("source").alias("node")).filter(
            F.col("source").isin("src0", "src7", "src14")
        )
        pr = pagerank(edges, n_iter=5).withColumnRenamed("rank", "pr")
        tr = trustrank(edges, seeds, n_iter=5).withColumnRenamed("rank", "tr")
        j = pr.join(tr, "node")
        return j.select(
            "node",
            "pr",
            "tr",
            F.expr("round(pr - tr, 6)").alias("spam_mass"),
            F.expr(
                "CASE WHEN CAST(round(pr * 1e6) AS BIGINT) = 0 THEN 'ham' "
                "WHEN 5 * (CAST(round(pr * 1e6) AS BIGINT) "
                "- CAST(round(tr * 1e6) AS BIGINT)) "
                "> 4 * CAST(round(pr * 1e6) AS BIGINT) THEN 'spam' "
                "WHEN 2 * (CAST(round(pr * 1e6) AS BIGINT) "
                "- CAST(round(tr * 1e6) AS BIGINT)) "
                "> CAST(round(pr * 1e6) AS BIGINT) THEN 'suspect' "
                "ELSE 'ham' END"
            ).alias("verdict"),
        )

    # -- release sharding + integrity manifest (round-4 continuation) -------
    def q_shard_manifest(spark, sf):
        """Dataset-release manifest: deterministic md5 shard assignment
        plus a per-shard order-independent integrity digest (bit_xor of
        60-bit per-row md5 digests over every field). One map-side-
        combinable groupBy bounded by n_shards rows at any corpus size;
        manifests of disjoint sub-corpora merge exactly (sum/xor/
        min-max), so daily increments manifest independently."""
        from pdf_extraction_spark.operators.release import shard_manifest

        return shard_manifest(_docs(spark, sf), n_shards=16)

    def q_manifest_merge(spark, sf):
        """The incremental-release fold: split the corpus into three
        disjoint sub-corpora (pmod(doc_id, 3), so negative ids land in
        a part too — the shape of daily increments or streaming
        micro-batches), manifest each part
        independently, then fold the parts with
        :func:`merge_manifests` (sum counts/bytes, XOR digests,
        min/max id ranges). Because every column's fold is associative
        and commutative, the merged result must equal the whole-corpus
        manifest bit-for-bit — which is exactly what the oracle
        (``sql_shard_manifest`` over the full table) checks. This is
        the same algebra the streaming manifest
        (streaming/manifest.py) relies on for complete-mode validity."""
        from pdf_extraction_spark.operators.release import (
            manifest_agg,
            merge_manifests,
        )

        docs = _docs(spark, sf)
        parts = [
            manifest_agg(docs.filter(F.expr(f"pmod(doc_id, 3) = {r}")), n_shards=16)
            for r in range(3)
        ]
        u = parts[0].unionAll(parts[1]).unionAll(parts[2])
        return merge_manifests(u)

    # -- host communities via label propagation (round-4 continuation) ------
    def q_host_communities(spark, sf):
        """Synchronous deterministic label propagation (Raghavan 2007)
        over a host graph with real community structure: 4 clusters of
        10 hosts with dense intra-cluster links plus sparse doc_id%97
        bridges — LPA recovers exactly the 4 planted communities, the
        split connected_components cannot express (the graph is ONE
        component). Tie rule: plurality count desc then smallest label;
        integer counts + string labels, no float anywhere."""
        from pdf_extraction_spark.operators.components import label_propagation

        docs = _docs(spark, sf)
        intra = docs.select(
            F.expr("'h' || CAST(doc_id % 40 AS STRING)").alias("src"),
            F.expr(
                "'h' || CAST((doc_id % 40) div 10 * 10 + "
                "((doc_id % 40) % 10 + 1 + doc_id % 7) % 10 AS STRING)"
            ).alias("dst"),
        )
        bridge = docs.filter(F.expr("doc_id % 97 = 0")).select(
            F.expr("'h' || CAST((doc_id % 4) * 10 AS STRING)").alias("src"),
            F.expr("'h' || CAST(((doc_id % 4 + 1) % 4) * 10 AS STRING)").alias(
                "dst"
            ),
        )
        return label_propagation(intra.unionAll(bridge), n_iter=5)

    # -- jusText context-sensitive boilerplate (round-4 continuation) -------
    def q_justext(spark, sf):
        """jusText (Pomikálek 2011) two-pass block classification. The
        synthetic one-line docs only reach the 'bad' branch, so each
        doc is augmented with a deterministic 13-line layout (identical
        expression in the twin) that fires EVERY class and EVERY
        context rule: good long blocks, short between goods (→good),
        near-good beside good (→good), near-good between bads (→bad),
        link-flood and copyright bads, and the mixed-neighborhood short
        whose near-good bridge to the bad side rescues it (→good)."""
        from pdf_extraction_spark.operators.justext import (
            blocks_from_text,
            justext_classify,
        )

        good = "It was the best of times and it was the worst of times for all of us. "
        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.expr(f"repeat('{good}', 4)"),
                F.lit("Continue reading"),
                F.expr(f"repeat('{good}', 3)"),
                F.lit(
                    "It was a bright cold day in April and the clocks "
                    "were striking thirteen all over town."
                ),
                F.lit(
                    "Home www.example.com/a www.example.com/b "
                    "www.example.com/c"
                ),
                F.lit(
                    "He was the one who said that we could not go there "
                    "on that day with them at all, ever."
                ),
                F.concat(F.lit("© "), F.coalesce("source", F.lit(""))),
                F.coalesce("text", F.lit("")),
                F.expr(f"repeat('{good}', 4)"),
                F.lit("More"),
                F.lit(
                    "She said that it was not the only way to do it and "
                    "that they would be there too."
                ),
                F.lit("www.example.com/end"),
                F.lit("Thanks"),
            ).alias("text"),
        )
        return justext_classify(blocks_from_text(docs))

    # -- table maintenance planners (round-4 continuation) -------------------
    def q_compaction(spark, sf):
        """Iceberg rewrite_data_files-style binpack planning: synthetic
        file listing (one file per (source, doc_id%7) slice with its
        UTF-8 byte sum), next-fit bins at a 16 KB target — at sf0.01
        several small files merge per bin AND larger slices land alone,
        so both rewrite verdicts appear. The window runs over the
        metadata-sized file listing, the one place a global window is
        the honest plan."""
        from pdf_extraction_spark.operators.maintenance import compaction_plan

        files = (
            _docs(spark, sf)
            .groupBy(
                F.concat(
                    F.col("source"),
                    F.lit("-"),
                    (F.col("doc_id") % 7).cast("string"),
                ).alias("file_id")
            )
            .agg(
                F.sum(
                    F.coalesce(F.octet_length("text"), F.lit(0))
                ).alias("bytes")
            )
        )
        return compaction_plan(files, target_bytes=16000)

    def q_mixture(spark, sf):
        """Water-filled mixture allocation: per-mille targets over four
        sources with a 3,000-token budget — src0's 60% share exceeds
        its inventory and CAPS (water-filling redistributes its unused
        share), the other weighted sources stay budget-limited, and
        unweighted sources allocate 0: every branch of the fixed-point
        recursion fires. rate_ppm feeds the weighted_mix sampler."""
        from pdf_extraction_spark.operators.maintenance import mixture_plan

        d = _docs(spark, sf).select(
            "source",
            F.size(
                F.split(F.coalesce("text", F.lit("")), " ")
            ).alias("token_count"),
        )
        return mixture_plan(
            d,
            {"src0": 600, "src1": 300, "src2": 200, "src5": 100},
            budget_tokens=3000,
        )

    def q_temp_mixture(spark, sf):
        """Temperature-scaled mixture table (XLM α=0.5 via exact
        integer sqrt — no float convention anywhere): with the budget
        above total weighted inventory, low-resource sources read
        rate_ppm > 10^6 (multi-epoch upsampling, the recipe's point)
        while big sources stay fractional — both regimes fire."""
        from pdf_extraction_spark.operators.maintenance import temperature_mix

        d = _docs(spark, sf).select(
            "source",
            F.size(
                F.split(F.coalesce("text", F.lit("")), " ")
            ).alias("token_count"),
        )
        return temperature_mix(d, budget_tokens=30000, inv_temp_pow2=1)

    def q_source_kl(spark, sf):
        """Per-source KL(P_source ‖ P_corpus) over unigram
        distributions — the corpus-drift report on the fixed-point
        I(x)=round(ln x·10⁹) device (bit-identical across engines and
        partitionings; the only float op is one rounded ln per distinct
        count)."""
        from pdf_extraction_spark.operators.textanalysis import source_divergence

        return source_divergence(_docs(spark, sf))

    def q_zipf_slope(spark, sf):
        """Zipf rank-frequency slope per source over the top-50 word
        frequencies — natural text reads near −1, templated slices
        steeper, gibberish flatter. Top-K via the hostcap bounded-
        reduction tree (no vocabulary-sized window funnel); regression
        sums exact int64 on the 10⁵ fixed-point device, one double
        division at the end — bit-identical cross-engine."""
        from pdf_extraction_spark.operators.textanalysis import zipf_slope

        return zipf_slope(_docs(spark, sf), k=50)

    def q_source_overlap(spark, sf):
        """Cross-source shared-shingle matrix with per-mille containment
        both directions — the provenance diagnostic that shows which
        corpus slices mirror each other. Shingle-keyed source-set
        collect (bounded by the source dimension) + pair explode; the
        twin is the self-join formulation of the same matrix."""
        from pdf_extraction_spark.operators.dedup import source_overlap

        return source_overlap(_docs(spark, sf))

    # -- round-4 continuation: PII/CC, soft-404, quantiles, pub dates --
    def q_cc_scrub(spark, sf):
        """Luhn-validated credit-card masking over card-augmented doc
        text: native regexp candidate scan + integer-HOF Luhn fold +
        left-fold masking — zero Python, zero exchanges; Luhn rejects
        order ids/timestamps so only real card shapes mask."""
        from pdf_extraction_spark.operators.curation import scrub_credit_cards

        docs = _docs(spark, sf).withColumn(
            "text", F.expr("coalesce(text, '') || " + _CC_AUG)
        )
        return scrub_credit_cards(docs)

    def q_soft404(spark, sf):
        """Soft-404 detection (error shells served as HTTP 200, after
        Bar-Yossef et al. 2004): error-phrase rlike + Java-WS word
        count, short+phrase ⇒ soft404. Pure narrow projection."""
        from pdf_extraction_spark.operators.webshape import soft404_flags

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_ERR404_TEXT).alias("text")
        )
        return soft404_flags(docs)

    def q_group_quartiles(spark, sf):
        """Per-language discrete quartiles of document length — the
        generalized CCNet cutoff device (integer ranks over the
        (group, value) histogram; no interpolation, no float rank).
        Window partitions are histogram-sized, not corpus-sized."""
        from pdf_extraction_spark.operators.agg import group_discrete_quantiles

        return group_discrete_quantiles(_docs(spark, sf), "lang", "n_chars")

    def q_robust_outliers(spark, sf):
        """Median/MAD Hampel outlier gate per source over doc length —
        the robust replacement for z-scores (an outlier drags the
        mean/stddev that would judge it; it cannot drag the median).
        Discrete lower medians + integer cross-multiplied k·MAD gate:
        exact int64 end-to-end. A deterministic 50× length spike on
        doc_id%97==0 guarantees both verdict branches fire."""
        from pdf_extraction_spark.operators.agg import with_robust_outliers

        d = _docs(spark, sf).select(
            "doc_id",
            "source",
            (
                F.col("n_chars")
                * F.when(F.col("doc_id") % 97 == 0, F.lit(50)).otherwise(
                    F.lit(1)
                )
            ).cast("long").alias("v"),
        )
        return with_robust_outliers(d, "source", "v", k_num=3, k_den=1)

    def q_html_pubdate(spark, sf):
        """Publication-date extraction over synthetic article pages:
        meta article:published_time → <time datetime> → JSON-LD
        datePublished → /YYYY/MM/DD/ URL fallback, with the parsed DATE
        taken from the ISO-day prefix via try_cast (identical NULLing
        of invalid days in both engines). Fully native projection."""
        from pdf_extraction_spark.operators.htmlmeta import with_pub_date

        docs = _docs(spark, sf).select(
            "doc_id",
            F.expr(_PUBDATE_AUG).alias("html"),
            F.expr(_PUBDATE_URL).alias("url"),
        )
        return with_pub_date(docs).select(
            "doc_id", "pub_date_src", "pub_date_raw", "pub_date"
        )

    def q_link_profile(spark, sf):
        """Head-link profile over link-augmented pages: meta-refresh
        redirect shell detection (delay + target), rss/atom feed
        discovery (attribute-order-free tag-scoped matching), AMP
        alternate. One tag scan + array HOFs, zero Python, zero
        exchanges."""
        from pdf_extraction_spark.operators.htmlmeta import with_link_profile

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_LINKPROF_AUG).alias("html")
        )
        return with_link_profile(docs).select(
            "doc_id",
            "refresh_delay",
            "refresh_url",
            "is_meta_redirect",
            "feed_urls",
            "n_feeds",
            "amp_url",
        )

    def q_hreflang(spark, sf):
        """Exploded hreflang alternates (the multilingual-site map):
        link tags carrying rel=alternate + hreflang, both quote
        styles; tags missing either attribute drop."""
        from pdf_extraction_spark.operators.htmlmeta import hreflang_alternates

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_LINKPROF_AUG).alias("html")
        )
        return hreflang_alternates(docs)

    def q_sentences(spark, sf):
        """Native sentence segmentation over terminator-augmented doc
        text: staged marker rewrite (strip \\x1E → boundary
        backreference rewrite → split → trim/drop-empty), exploded to
        (doc_id, sent_no, sentence, n_words). Narrow map + explode,
        zero Python; the $1/\\1 replacement spelling is the one
        per-engine difference (pattern text identical)."""
        from pdf_extraction_spark.operators.textanalysis import explode_sentences

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_SENT_AUG).alias("text")
        )
        return explode_sentences(docs)

    def q_meta_keywords(spark, sf):
        """Meta-keywords extraction + keyword-stuffing verdict (comma
        split, trim/drop-empty, case-folded duplicate count). Pure
        projection."""
        from pdf_extraction_spark.operators.htmlmeta import with_meta_keywords

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_KW_AUG).alias("html")
        )
        return with_meta_keywords(docs).select(
            "doc_id",
            "keywords",
            "n_keywords",
            "n_dup_keywords",
            "is_keyword_stuffed",
        )

    def q_headings(spark, sf):
        """Heading outline (h1-h6 in document order): tag scan →
        empty-after-strip filter → posexplode; inner markup stripped,
        whitespace collapsed. Narrow map + explode, zero Python."""
        from pdf_extraction_spark.operators.htmlstruct import explode_headings

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_HSTRUCT_AUG).alias("html")
        )
        return explode_headings(docs)

    def q_jsonld(spark, sf):
        """schema.org @type inventory from application/ld+json blocks
        (scalar string form; nested entities included, array form
        skipped by contract) — block scan → per-block type scan →
        flatten → posexplode. Zero Python, zero exchanges."""
        from pdf_extraction_spark.operators.htmlstruct import jsonld_types

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_HSTRUCT_AUG).alias("html")
        )
        return jsonld_types(docs)

    def q_html_tables(spark, sf):
        """First-table cell grid: (row_no, col_no, is_header, cell)
        with ragged rows preserved and empty cells NULL at their grid
        position. Two chained narrow explodes (parallel group
        extraction zipped), zero Python, zero exchanges."""
        from pdf_extraction_spark.operators.htmlstruct import html_table_cells

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_HSTRUCT_AUG).alias("html")
        )
        return html_table_cells(docs)

    def q_lang_mix(spark, sf):
        """Paragraph-level code-switching verdict: the document-level
        stopword langid run per blank-line paragraph (nested array
        HOFs, zero Python, zero exchanges), aggregated to modal
        language + mix fraction + distinct-language count."""
        from pdf_extraction_spark.operators.textanalysis import with_language_mix

        return with_language_mix(_docs(spark, sf)).select(
            "doc_id", "n_paras", "dominant_lang", "n_langs",
            "mix_frac", "is_mixed",
        )

    def q_lexical_diversity(spark, sf):
        """Type-token ratio + hapax-legomenon fraction (the 0-1-scale
        dual of unigram entropy): shared curation tokenizer, two
        map-side-combinable groupBys, exact int/int ratio divisions.
        Zero-token docs emit no row in both engines."""
        from pdf_extraction_spark.operators.textanalysis import (
            with_lexical_diversity,
        )

        return with_lexical_diversity(_docs(spark, sf))

    def q_og_card(spark, sf):
        """OpenGraph / Twitter share-card extraction (og:type page
        taxonomy, og:image/og:url joins, prose fields ws-collapsed,
        has_og_card = any og:* present). Pure native projection."""
        from pdf_extraction_spark.operators.htmlmeta import with_og_card

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_OGCARD_AUG).alias("html")
        )
        return with_og_card(docs).select(
            "doc_id", "og_type", "og_image", "og_url", "og_description",
            "og_site_name", "twitter_card", "has_og_card",
        )

    def q_img_alt(spark, sf):
        """Image alt-text pair mining (the image-caption seed set):
        every <img> with a non-empty src in document order, alt
        ws-collapsed, caption_worthy = ≥3 alt words, data-URI flagged.
        Narrow map + explode, zero Python."""
        from pdf_extraction_spark.operators.htmlstruct import img_alt_pairs

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_IMGALT_AUG).alias("html")
        )
        return img_alt_pairs(docs)

    def q_page_shape(spark, sf):
        """Byte-level page-shape gates: markup density, script mass,
        visible-text ratio, login-wall (password input) and
        markup-shell verdicts. Five vectorized regexp scans + exact
        IEEE ratios; zero Python, zero exchanges."""
        from pdf_extraction_spark.operators.webshape import page_shape

        docs = _docs(spark, sf).select(
            "doc_id", F.expr(_PAGESHAPE_AUG).alias("html")
        )
        return page_shape(docs)

    # Dict ORDER is driver-facing: the correctness snapshot samples the
    # FIRST 50 entries.  Ordering policy (round 5): maximize first-time
    # external certification — the window below is 49 never-driver-
    # sampled queries + shard_manifest (r4's one red row, re-certifying
    # its oracle fix).  Everything previously driver-green sits past
    # position 50 and stays covered by the per-round strict-local sweep.
    return {
        # ---- ROUND-5 DRIVER WINDOW (first 50) ------------------------
        # Rotation policy (round-4 verdict items #1-#2): the driver
        # certifies the FIRST 50 dict entries per round. This window is
        # 49 queries with no driver row in ANY prior round plus
        # shard_manifest (r4's only red row, re-certifying the BIGINT
        # cast fix in sql_shard_manifest). manifest_merge is new this
        # round (verdict item #7): it drives the associative manifest
        # fold shared with streaming/manifest.py against the whole-
        # corpus oracle. Families: crawl-loop (13), release/
        # maintenance (6), web-graph (10), retrieval ranking (7),
        # sketches (5), gate/stats tests (7). The 74 never-sampled
        # queries still below the window are the planned r6 rotation,
        # tracked in COVERAGE.md 'Driver-certification ledger'.
        # -- re-certify + new fold query --------------------------------
        "shard_manifest": q_shard_manifest,
        "manifest_merge": q_manifest_merge,
        # -- crawl loop (robots / sitemaps / frontier / traps) ----------
        "robots_gate": q_robots_gate,
        "robots_rules": q_robots_rules,
        "robots_allow": q_robots_allow,
        "sitemap_parse": q_sitemap,
        "crawl_plan": q_crawl_plan,
        "frontier_sched": q_frontier,
        "snapshot_delta": q_snapshot_delta,
        "redirects": q_redirects,
        "url_traps": q_url_traps,
        "soft404": q_soft404,
        "domain_parse": q_domain_parse,
        "template_pages": q_template_pages,
        "cc_scrub": q_cc_scrub,
        # -- release & maintenance --------------------------------------
        "hrw_shards": q_hrw_shards,
        "compaction_plan": q_compaction,
        "mixture_plan": q_mixture,
        "temp_mixture": q_temp_mixture,
        "host_quota": q_host_quota,
        "holdout_split": q_holdout_split,
        # -- web graph ---------------------------------------------------
        "host_trustrank": q_host_trustrank,
        "outlink_pagerank": q_outlink_pagerank,
        "spam_mass": q_spam_mass,
        "host_hits": q_host_hits,
        "host_kcore": q_host_kcore,
        "host_salsa": q_host_salsa,
        "bowtie": q_bowtie,
        "harmonic": q_harmonic,
        "modularity": q_modularity,
        "hyperball": q_hyperball,
        # -- retrieval ranking ------------------------------------------
        "bm25f_topk": q_bm25f,
        "qlm_topk": q_qlm,
        "prf_bm25": q_prf,
        "mmr_topk": q_mmr_topk,
        "rrf_fuse": q_rrf_fuse,
        "phrase_search": q_phrase_search,
        "snippets": q_snippets,
        # -- sketches ----------------------------------------------------
        "hll_words": q_hll_words,
        "cms_topwords": q_cms_topwords,
        "bloom_dedup": q_bloom_dedup,
        "ams_f2": q_ams_f2,
        "kmv_overlap": q_kmv_overlap,
        # -- gate metrics / statistical tests ---------------------------
        "gate_ndcg": q_gate_ndcg,
        "gate_map": q_gate_map,
        "gate_kappa": q_gate_kappa,
        "gate_mcnemar": q_gate_mcnemar,
        "ks_drift": q_ks_drift,
        "benford": q_benford,
        "powerlaw_fit": q_powerlaw_fit,
        # ---- position 51+: never-driver-sampled debt (planned r6
        # window — first 50 of these rotate up next round) ---------------
        "pmi_colloc": q_pmi_colloc,
        "doc_keyterms": q_doc_keyterms,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "unigram_entropy": q_unigram_entropy,
        "host_quality": q_host_quality,
        "host_wilson": q_host_wilson,
        "bpe_fertility": q_bpe_fertility,
        "vocab_growth": q_vocab_growth,
        "readability": q_readability,
        "containment": q_containment,
        "edit_verify": q_edit_verify,
        "quantize_emb": q_quantize,
        "pq_encode": q_pq_encode,
        "pq_topk": q_pq_topk,
        "source_kl": q_source_kl,
        "zipf_slope": q_zipf_slope,
        "source_overlap": q_source_overlap,
        "group_quartiles": q_group_quartiles,
        "robust_outliers": q_robust_outliers,
        "html_pubdate": q_html_pubdate,
        "link_profile": q_link_profile,
        "hreflang_alts": q_hreflang,
        "sentences": q_sentences,
        "meta_keywords": q_meta_keywords,
        "heading_outline": q_headings,
        "jsonld_types": q_jsonld,
        "html_tables": q_html_tables,
        "lang_mix": q_lang_mix,
        "lexical_diversity": q_lexical_diversity,
        "og_card": q_og_card,
        "img_alt_pairs": q_img_alt,
        "page_shape": q_page_shape,
        "content_spans": q_content_spans,
        "norm_punct": q_norm_punct,
        "rank_rbo": q_rank_rbo,
        "cocite_hosts": q_cocite_hosts,
        "couple_hosts": q_couple_hosts,
        "mirror_hosts": q_mirror_hosts,
        "apss_pairs": q_apss_pairs,
        "funnel_steps": q_funnel_steps,
        "host_triangles": q_host_triangles,
        "moore_lewis": q_moore_lewis,
        "mass_gini": q_mass_gini,
        "textrank_terms": q_textrank,
        "facility_location": q_facility_location,
        "nepotism": q_nepotism,
        "bot_regularity": q_bot_regularity,
        "rake_phrases": q_rake,
        "host_assort": q_host_assort,
        "bursts": q_bursts,
        "texttiles": q_texttiles,
        "porter_stems": q_porter_stems,
        "readability_panel": q_readability_panel,
        "compress_gate": q_compress_gate,
        "yule_k": q_yule_k,
        "link_predict": q_link_predict,
        "good_turing": q_good_turing,
        "keyness": q_keyness,
        "nb_classify": q_nb_classify,
        "host_katz": q_host_katz,
        "clean_bleu": q_clean_bleu,
        "js_sources": q_js_sources,
        "cusum_drift": q_cusum_drift,
        "centroid_classify": q_centroid_classify,
        "ct_langid": q_ct_langid,
        "bigram_entropy": q_bigram_entropy,
        "burrows_delta": q_burrows_delta,
        "cooccur_rules": q_cooccur_rules,
        "table_profile": q_table_profile,
        "table_checks": q_table_checks,
        "runs_test": q_runs_test,
        "cramers_v": q_cramers_v,
        "graph_summary": q_graph_summary,
        # ---- previously driver-green (certified in r1-r4, unchanged;
        # strict-local twins still sweep them every round) ---------------
        "dedup_spans": q_dedup_spans,
        "host_cap": q_host_cap,
        "qual_classify": q_qual_classify,
        "lm_score": q_lm_score,
        "sb_trigram": q_sb_trigram,
        "dimsum": q_dimsum,
        "sentence_chunks": q_sentence_chunks,
        "gate_auc": q_gate_auc,
        "gate_pr": q_gate_pr,
        "rank_corr": q_rank_corr,
        "gate_calibration": q_gate_calibration,
        "blocklist_gate": q_blocklist_gate,
        "simhash_native": q_simhash_native,
        "layout_order": q_layout_order,
        "fix_mojibake": q_fix_mojibake,
        "incremental_dedup": q_incremental_dedup,
        "weighted_mix": q_weighted_mix,
        "top_ngram_frac": q_top_ngram_frac,
        "dup_ngram_frac": q_dup_ngram_frac,
        "dedup_paragraphs": q_dedup_paragraphs,
        "dedup_keepfirst": q_dedup_keepfirst,
        "decontaminate": q_decontaminate,
        "url_filter": q_url_filter,
        "url_canonical": q_url_canonical,
        "surt_keys": q_surt_keys,
        "nfc_normalize": q_nfc_normalize,
        "fold_accents": q_fold_accents,
        "host_communities": q_host_communities,
        "justext_blocks": q_justext,
        "group_sample": q_group_sample,
        "ivf_topk": q_ivf_topk,
        "topk_batch": q_topk_batch,
        "bm25_topk": q_bm25,
        "chunk_docs": q_chunk_docs,
        "c4_filter": q_c4_filter,
        "semdedup": q_semdedup,
        "ppl_buckets": q_ppl_buckets,
        "refinedweb_lines": q_refinedweb,
        "dedup_url": q_dedup_url,
        "dsir_select": q_dsir_select,
        "host_pagerank": q_host_pagerank,
        "hll_by_source": q_hll_by_source,
        "hist_quantiles": q_hist_quantiles,
        "winnow_fp": q_winnow_fp,
        "script_profile": q_script_profile,
        "html_meta": q_html_meta,
        "html_outlinks": q_html_outlinks,
        "anchor_terms": q_anchor_terms,
        "host_boilerplate": q_host_boilerplate,
        "nation_revenue": q_nation_revenue,
        "gopher_quality": q_gopher_quality,
        "dedup_lines": q_dedup_lines,
        "pii_scrub": q_pii_scrub,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "extract_pipeline": q_extract_pipeline,
        "embedding_lsh": q_embedding_lsh,
        "embedding_clusters": q_embedding_clusters,
        "ivf_assign": q_ivf_assign,
        "ivf_probe": q_ivf_probe,
        "media_features_real": q_media_features_real,
        "curate_corpus": q_curate,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_exact": q_dedup_exact,
        "dedup_wordset": q_dedup_wordset,
        "embedding_neardup": q_embedding_neardup,
        "cosine_topk": q_cosine_topk,
        "embed_rerank": q_embed_rerank,
        "salted_agg": q_salted_agg,
        "categorize_join": q_categorize_join,
        "windowed_counts": q_windowed_counts,
        "session_stats": q_session_stats,
        "media_features": q_media_features,
        "langid": q_langid,
        "text_ratios": q_text_ratios,
        "token_count": q_token_count,
        "corpus_profile": q_corpus_profile,
        "zscore_by_group": q_zscore,
        "url_dates": q_url_dates,
        "roster_extract": q_roster,
        "pass_rate": q_pass_rate,
        "keep_last": q_keep_last,
        "filter_short": q_filter_short,
        "word_stats": q_word_stats,
        "quality_score": q_quality,
        "speaker_role": q_speaker_role,
        "chunk_filter": q_chunk_filter,
        "categorize": q_categorize,
        "category_counts": q_category_counts,
        "category_pivot": q_category_pivot,
        "fin_revenue": q_revenue,
        "fin_growth": q_growth,
        "fin_ebitda": q_ebitda,
        "fin_margins": q_margins,
        "fin_quarters": q_quarters,
        "executive_join": q_executive_join,
        "top3_per_segment": q_top3,
        "events_rollup": q_events_rollup,
        "recency_weights": q_recency,
        "weighted_rerank": q_weighted_rerank,
    }


def _topk_batch_sql() -> str:
    from pdf_extraction_spark.operators.topk import sql_complete_vec, sql_cosine

    selects = []
    for j in range(3):
        qv = _query_vec()[j:] + _query_vec()[:j]
        selects.append(
            f"SELECT CAST({j} AS BIGINT) AS q_id, vec_id, {sql_cosine('embedding', qv, 6)} AS similarity "
            f"FROM embeddings WHERE {sql_complete_vec('embedding')}"
        )
    allq = " UNION ALL ".join(selects)
    # NaN/NULL similarities normalize to -inf BEFORE ranking — DuckDB's
    # ORDER BY DESC sorts NaN first (NaN > everything) while the Spark
    # bounded-tree path sorts them last as -inf; normalizing both
    # engines pins the same ranking and the same output value
    norm = (
        "SELECT q_id, vec_id, coalesce(CASE WHEN isnan(similarity) "
        "THEN CAST('-infinity' AS DOUBLE) ELSE similarity END, "
        f"CAST('-infinity' AS DOUBLE)) AS similarity FROM ({allq})"
    )
    return (
        "SELECT q_id, vec_id, similarity FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY similarity DESC, vec_id) AS rk FROM ({norm})"
        ") WHERE rk <= 3"
    )


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from pdf_extraction_spark.kernels.quality import QUALITY_GATE
    from pdf_extraction_spark.kernels.rerank import (
        QUALITY_WEIGHT,
        RECENCY_WEIGHT,
        SIM_WEIGHT,
    )
    from pdf_extraction_spark.operators.categorize import sql_categories
    from pdf_extraction_spark.operators.components import (
        sql_dedup_clusters,
        sql_hits,
        sql_label_propagation,
        sql_pagerank,
        sql_trustrank,
    )
    from pdf_extraction_spark.operators.crawl import (
        sql_frontier_schedule,
        sql_parse_sitemap,
        sql_resolve_redirects,
        sql_snapshot_changes,
    )
    from pdf_extraction_spark.operators.similarity import (
        sql_adc_topk,
        sql_pq_encode,
        sql_quantize_embeddings,
    )
    from pdf_extraction_spark.operators.curation import (
        sql_holdout_split as _sql_holdout_split,
    )
    from pdf_extraction_spark.operators.dedup import (
        sql_containment_pairs,
        sql_edit_verify_pairs,
        sql_native_simhash,
    )
    from pdf_extraction_spark.operators.webshape import (
        sql_template_pages,
        sql_url_trap_flags,
    )
    from pdf_extraction_spark.operators.robotstxt import (
        sql_parse_robots,
        sql_robots_allowed,
    )
    from pdf_extraction_spark.operators.textanalysis import sql_readability
    from pdf_extraction_spark.operators.bpe import (
        sql_bpe_encode,
        sql_bpe_fertility,
        sql_bpe_merges,
        sql_vocab_growth,
    )
    from pdf_extraction_spark.operators.sketches import (
        sql_bloom_dedup_flags,
        sql_cms_heavy_hitters,
        sql_histogram_quantiles,
        sql_hll_distinct,
        sql_hll_distinct_by,
    )
    from pdf_extraction_spark.operators.hostcap import sql_host_quality_gate
    from pdf_extraction_spark.operators.htmlmeta import (
        sql_html_meta,
        sql_robots_flags,
    )
    from pdf_extraction_spark.operators.htmlgraph import (
        sql_anchor_terms,
        sql_domain_parse,
        sql_host_link_graph,
        sql_links_ctes,
    )
    from pdf_extraction_spark.operators.curation import (
        sql_blocklist_gate,
        sql_host_boilerplate,
    )
    from pdf_extraction_spark.operators.terms import (
        sql_doc_key_terms,
        sql_pmi_collocations,
    )
    from pdf_extraction_spark.operators.textanalysis import (
        sql_explode_sentences,
        sql_sentence_chunks,
        sql_language_mix,
        sql_lexical_diversity,
        sql_normalize_punct,
        sql_script_profile,
        sql_source_divergence,
        sql_unigram_entropy,
        sql_zipf_slope,
    )
    from pdf_extraction_spark.operators.release import (
        sql_layout_gain,
        sql_shard_manifest,
    )
    from pdf_extraction_spark.operators.justext import (
        sql_blocks_from_text,
        sql_justext_classify,
    )
    from pdf_extraction_spark.operators.maintenance import (
        sql_compaction_plan,
        sql_mixture_plan,
        sql_temperature_mix,
    )
    from pdf_extraction_spark.operators.agg import (
        sql_group_discrete_quantiles,
        sql_robust_outliers,
    )
    from pdf_extraction_spark.operators.curation import sql_scrub_credit_cards
    from pdf_extraction_spark.operators.htmlmeta import (
        sql_hreflang_alternates,
        sql_link_profile,
        sql_meta_keywords,
        sql_og_card,
        sql_pub_date,
    )
    from pdf_extraction_spark.operators.webshape import (
        sql_page_shape,
        sql_soft404_flags,
    )
    from pdf_extraction_spark.operators.htmlstruct import (
        sql_explode_headings,
        sql_html_table_cells,
        sql_img_alt_pairs,
        sql_jsonld_types,
    )
    from pdf_extraction_spark.operators.curation import _sql_lower_words
    _WORD_SRC = (
        "(SELECT unnest(" + _sql_lower_words("coalesce(text, '')")
        + ") AS word FROM documents)"
    )
    from pdf_extraction_spark.kernels.wsre import (
        JAVA_WS_SPLIT,
        WHITE_SPACE_BODY,
        java_i_twin,
        java_ws_exact,
    )
    from pdf_extraction_spark.operators.financial import (
        COMBINED_PATTERN,
        FY_DIRECT_PATTERN,
        FY_RANGE_PATTERN,
        QUARTER_PATTERN,
        URL_QFY_PATTERN,
    )

    def _fin_pat(pat):
        r"""Twin form of a Spark '(?i)'+pat regex: explicit ASCII dual
        casing (Java (?i) folds ASCII only; RE2's folds Unicode) +
        explicit Java \s class, single-quote escaped."""
        return java_i_twin(pat).replace("'", "''")
    from pdf_extraction_spark.operators.hostcap import (
        sql_group_sample,
        sql_host_cap,
        sql_host_wilson_rank,
    )
    from pdf_extraction_spark.operators.mlfilter import (
        sql_ppl_buckets,
        sql_dsir_select,
        sql_score_bigram_lm,
        sql_score_stupid_backoff,
        sql_gate_auc,
        sql_gate_pr_curve,
        sql_rank_corr,
        sql_gate_calibration,
        sql_score_quality,
    )
    from pdf_extraction_spark.operators.curation import (
        WORD_SPLIT_RE,
        sql_dedup_lines,
        sql_dedup_spans,
        sql_dedup_paragraphs,
        sql_dup_ngram_char_frac,
        sql_top_ngram_char_frac,
        sql_dedup_lines_keep_first,
        sql_flag_contaminated,
        sql_gopher_flags,
        sql_pack_sequences,
        sql_scrub_pii,
        sql_stratified_sample,
        sql_weighted_mix,
        sql_canonical_url,
        sql_surt_key,
        sql_url_filter,
        sql_c4_flags as _sql_c4_flags,
        sql_refinedweb_flags as _sql_rw_flags,
    )
    from pdf_extraction_spark.operators.similarity import (
        sql_dimsum_cosine,
        sql_semantic_dedup,
    )
    from pdf_extraction_spark.operators.dedup import (
        sql_embedding_lsh_neardups,
        sql_source_overlap,
        sql_minhash_incremental_drops,
        sql_minhash_lsh_pairs,
        sql_simhash_pairs,
        sql_winnow_fingerprints,
    )
    from pdf_extraction_spark.operators.executives import sql_extract_executives
    from pdf_extraction_spark.operators.filters import sql_keep_chunk, sql_word_count
    from pdf_extraction_spark.operators.project import sql_quality_score, sql_speaker_role
    from pdf_extraction_spark.operators.retrieval import (
        sql_bm25_topk as _sql_bm25_topk,
        sql_chunk_sliding_window as _sql_chunk_sliding_window,
        sql_phrase_match as _sql_phrase_match,
    )
    from pdf_extraction_spark.operators.textanalysis import (
        sql_detect_language,
        sql_token_count,
    )
    from pdf_extraction_spark.operators.topk import sql_complete_vec, sql_cosine

    wc = sql_word_count("text")

    # q_minhash_lsh / q_dedup_clusters share the same pair list
    _minhash_pairs_sql = sql_minhash_lsh_pairs(
        _fixture("minhash_sigs_sf0_01.parquet"),
        num_hashes=32,
        bands=8,
        max_bucket=200,
        threshold=0.5,
    )

    def _embed_rerank_sql() -> str:
        # mirror of q_embed_rerank: quality gate BELOW the (precomputed)
        # embed, cosine vs the shared literal query vector, reference
        # rerank weights; date is the fixed literal so recency = 1.0
        # (17 days ≤ 90 between 2024-01-15 and AS_OF).
        qsql = sql_quality_score("text", DOC_ADMIN, DOC_BUSINESS, DOC_QA, DOC_CLOSING)
        from pdf_extraction_spark.operators.embed import embed_text

        qv = embed_text("spark join window agg")
        return (
            "WITH j AS (SELECT d.doc_id, d.text, e.embedding FROM documents d "
            "JOIN " + _fixture("doc_embeddings_sf0_01.parquet") + " e ON d.doc_id = e.doc_id), "
            f"g AS (SELECT doc_id, embedding, {qsql} AS quality_score FROM j "
            f"WHERE {qsql} >= {QUALITY_GATE}), "
            "s AS (SELECT doc_id, '2024-01-15' AS date, quality_score, "
            + sql_cosine("embedding", qv, 6)
            + " AS similarity FROM g) "
            "SELECT doc_id, date, quality_score, similarity, "
            f"round(similarity * {SIM_WEIGHT} + 1.0 * {RECENCY_WEIGHT} + "
            f"(quality_score / 10.0) * {QUALITY_WEIGHT}, 4) AS weighted_score "
            "FROM s ORDER BY weighted_score DESC, doc_id LIMIT 10"
        )

    speakers_values = _sql_values(list(enumerate(SPEAKERS)), ["sid", "speaker"])
    turns_values = _sql_values(TURN_ROWS, ["tid", "speaker", "content"])
    fin_values = _sql_values(FIN_SNIPPETS, ["doc_id", "content"])

    # F1/F3 shared SQL shape: per-pattern UNION ALL of regexp hits with
    # pattern order preserved via pat_no ordering handled by hit_pos
    def sql_amounts(patterns):
        selects = []
        for pi, pat in enumerate(patterns):
            p = _fin_pat(pat)
            selects.append(
                f"SELECT doc_id, {pi} AS pat_no, "
                f"unnest(regexp_extract_all(content, '{p}', 0)) AS raw_text, "
                f"unnest(regexp_extract_all(content, '{p}', 1)) AS val "
                f"FROM {fin_values}"
            )
        hits = " UNION ALL ".join(selects)
        return (
            "SELECT doc_id, raw_text, "
            "CAST(replace(val, ',', '') AS DOUBLE) AS value, "
            "CASE WHEN contains(raw_text, 'Rs') OR contains(raw_text, 'INR') THEN 'INR' ELSE 'USD' END AS currency, "
            "CASE WHEN contains(lower(raw_text), 'crore') OR contains(lower(raw_text), 'cr') THEN 'crores' "
            "WHEN contains(lower(raw_text), 'million') OR contains(lower(raw_text), 'mn') THEN 'million' "
            f"ELSE 'billion' END AS unit FROM ({hits})"
        )

    def sql_growth():
        from pdf_extraction_spark.operators.financial import GROWTH_PATTERNS

        selects = []
        for pi, pat in enumerate(GROWTH_PATTERNS):
            p = _fin_pat(pat)
            selects.append(
                f"SELECT doc_id, {pi} AS pat_no, "
                f"unnest(regexp_extract_all(content, '{p}', 0)) AS raw_text, "
                f"unnest(regexp_extract_all(content, '{p}', 1)) AS val "
                f"FROM {fin_values}"
            )
        hits = " UNION ALL ".join(selects)
        return (
            "SELECT doc_id, raw_text, CAST(val AS DOUBLE) AS value, "
            "CASE WHEN contains(lower(raw_text),'year-on-year') OR contains(lower(raw_text),'yoy') OR contains(lower(raw_text),'y-o-y') THEN 'YoY' "
            "WHEN contains(lower(raw_text),'quarter-on-quarter') OR contains(lower(raw_text),'qoq') OR contains(lower(raw_text),'q-o-q') THEN 'QoQ' "
            "ELSE 'general' END AS growth_type, "
            "CASE WHEN contains(lower(raw_text),'down') THEN 'negative' ELSE 'positive' END AS direction "
            f"FROM ({hits})"
        )

    def sql_margins():
        from pdf_extraction_spark.operators.financial import MARGIN_PATTERNS

        selects = []
        for pi, pat in enumerate(MARGIN_PATTERNS):
            p = _fin_pat(pat)
            selects.append(
                f"SELECT doc_id, {pi} AS pat_no, "
                f"unnest(regexp_extract_all(content, '{p}', 0)) AS raw_text, "
                f"unnest(regexp_extract_all(content, '{p}', 1)) AS val "
                f"FROM {fin_values}"
            )
        hits = " UNION ALL ".join(selects)
        return (
            "SELECT doc_id, raw_text, CAST(val AS DOUBLE) AS value, "
            "CASE WHEN contains(lower(raw_text),'ebitda') THEN 'EBITDA' "
            "WHEN contains(lower(raw_text),'gross') THEN 'gross' "
            "WHEN contains(lower(raw_text),'operating') THEN 'operating' "
            "WHEN contains(lower(raw_text),'net') THEN 'net' ELSE 'general' END AS margin_type "
            f"FROM ({hits})"
        )

    from pdf_extraction_spark.operators.financial import EBITDA_PATTERNS, REVENUE_PATTERNS

    qvec = _query_vec()

    sql = {
        "filter_short": (
            f"SELECT doc_id, {wc} AS word_count FROM documents WHERE {wc} >= 25"
        ),
        "word_stats": (
            f"SELECT doc_id, CAST(length(text) AS INT) AS content_length, "
            f"{wc} AS word_count FROM documents"
        ),
        "quality_score": (
            "SELECT doc_id, round("
            + sql_quality_score("text", DOC_ADMIN, DOC_BUSINESS, DOC_QA, DOC_CLOSING)
            + ", 2) AS quality_score FROM documents"
        ),
        "speaker_role": (
            f"SELECT sid, {sql_speaker_role('speaker')} AS speaker_role FROM {speakers_values}"
        ),
        "chunk_filter": (
            f"SELECT tid, speaker FROM {turns_values} WHERE "
            + sql_keep_chunk("speaker", "content")
        ),
        "categorize": sql_categories("text", DOC_CATEGORIES, "doc_id"),
        "category_counts": (
            "SELECT category, lang, count(*) AS n_docs FROM ("
            + sql_categories("text", DOC_CATEGORIES, "doc_id")
            + ") c JOIN documents d ON c.doc_id = d.doc_id GROUP BY category, lang "
            "ORDER BY category, lang"
        ),
        "fin_revenue": sql_amounts(REVENUE_PATTERNS),
        "fin_growth": sql_growth(),
        "fin_ebitda": sql_amounts(EBITDA_PATTERNS),
        "fin_margins": sql_margins(),
        # patterns derived from the SAME constants the Spark operators
        # use, via _fin_pat (explicit ASCII casing + explicit Java \s)
        "fin_quarters": (
            "SELECT doc_id, "
            f"coalesce(array_to_string(list_sort(list_distinct(regexp_extract_all(content, '{_fin_pat(QUARTER_PATTERN)}', 1)"
            ")), '|'), '') AS quarters, "
            "coalesce(array_to_string(list_sort(list_distinct("
            f"list_transform(regexp_extract_all(content, '{_fin_pat(FY_DIRECT_PATTERN)}', 1), "
            "y -> CASE WHEN length(y) = 2 THEN 'FY' || y ELSE 'FY' || substring(y, length(y)-1, 2) END) || "
            f"list_transform(regexp_extract_all(content, '{_fin_pat(FY_RANGE_PATTERN)}', 2), y -> 'FY' || y)"
            ")), '|'), '') AS fiscal_years, "
            "coalesce(array_to_string(list_sort(list_distinct("
            "list_transform(list_zip("
            f"regexp_extract_all(content, '{_fin_pat(COMBINED_PATTERN)}', 1), "
            f"regexp_extract_all(content, '{_fin_pat(COMBINED_PATTERN)}', 2)), "
            "p -> upper(p[1]) || ' FY' || (CASE WHEN length(p[2]) = 2 THEN p[2] ELSE substring(p[2], length(p[2])-1, 2) END)"
            "))), '|'), '') AS combined "
            f"FROM {fin_values}"
        ),
        "executive_join": (
            "WITH chunks AS (SELECT * FROM "
            + _sql_values(MATCH_SPEAKERS, ["cid", "speaker", "content"])
            + "), roster AS (SELECT * FROM "
            + _sql_values(ROSTER_ROWS, ["roster_pos", "executive", "role"])
            + "), norm AS (SELECT cid, speaker, "
            # \p classes ≈ Java (?U)\w / Python \w (RE2 bare \w is ASCII)
            # Spark norm is (?U)[^\w\s]: \s there is White_Space — spell
            # that body explicitly so RE2 preserves the same chars
            # (\w ≈ \p{L}\p{N}_ residual stays documented)
            "trim(regexp_replace(upper(speaker), '[^\\p{L}\\p{N}_"
            + WHITE_SPACE_BODY
            + "]', '', 'g')) AS cs FROM chunks WHERE speaker <> 'MANAGEMENT'), "
            "matched AS (SELECT n.cid, n.speaker, r.executive, r.role, r.roster_pos, "
            "row_number() OVER (PARTITION BY n.cid ORDER BY r.roster_pos) AS rn "
            "FROM norm n JOIN roster r ON "
            # last-token split mirrors Spark's bare Java \s (ASCII six)
            f"list_extract(string_split_regex(n.cs, '{JAVA_WS_SPLIT}'), len(string_split_regex(n.cs, '{JAVA_WS_SPLIT}'))) = "
            f"list_extract(string_split_regex(r.executive, '{JAVA_WS_SPLIT}'), len(string_split_regex(r.executive, '{JAVA_WS_SPLIT}')))) "
            "SELECT cid, speaker, executive, role AS executive_role FROM matched WHERE rn = 1"
        ),
        "top3_per_segment": (
            "WITH per AS (SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders, "
            "round(sum(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment, o_orderpriority) "
            "SELECT c_mktsegment, o_orderpriority, n_orders, CAST(rank AS INT) AS rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY c_mktsegment "
            "ORDER BY n_orders DESC, o_orderpriority) AS rank FROM per) WHERE rank <= 3"
        ),
        "events_rollup": (
            "SELECT event_type, count(*) AS n_events, "
            "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts, "
            "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts, "
            "count(DISTINCT user_id) AS n_users, round(sum(value), 2) AS total_value "
            "FROM events GROUP BY event_type"
        ),
        "recency_weights": (
            f"SELECT event_id, CAST(date_diff('day', CAST(ts AS DATE), DATE '{AS_OF}') AS INT) AS days_ago, "
            "CAST(CASE WHEN date_diff('day', CAST(ts AS DATE), DATE '" + AS_OF + "') <= 90 THEN 1.0 "
            "WHEN date_diff('day', CAST(ts AS DATE), DATE '" + AS_OF + "') <= 365 THEN 0.8 "
            "WHEN date_diff('day', CAST(ts AS DATE), DATE '" + AS_OF + "') <= 730 THEN 0.6 "
            "ELSE 0.4 END AS DOUBLE) AS recency_weight FROM events"
        ),
        "weighted_rerank": (
            "WITH s AS (SELECT event_id, round(value / 10.0, 6) AS sim, ts, value FROM events) "
            "SELECT event_id, round(sim * 0.7 + "
            "(CASE WHEN date_diff('day', CAST(ts AS DATE), DATE '" + AS_OF + "') <= 90 THEN 1.0 "
            "WHEN date_diff('day', CAST(ts AS DATE), DATE '" + AS_OF + "') <= 365 THEN 0.8 "
            "WHEN date_diff('day', CAST(ts AS DATE), DATE '" + AS_OF + "') <= 730 THEN 0.6 "
            "ELSE 0.4 END) * 0.2 + (value / 10.0) * 0.1, 6) AS weighted_score "
            "FROM s ORDER BY weighted_score DESC, event_id LIMIT 20"
        ),
        "cosine_topk": (
            f"SELECT vec_id, {sql_cosine('embedding', qvec)} AS similarity "
            "FROM embeddings WHERE embedding IS NOT NULL "
            "ORDER BY similarity DESC, vec_id LIMIT 10"
        ),
        "corpus_profile": (
            "WITH d AS (SELECT lang, " + sql_token_count("text") + " AS tc FROM documents) "
            "SELECT lang, count(*) AS n_docs, "
            "round(quantile_cont(tc, 0.5), 4) AS median_tokens, "
            "round(quantile_cont(tc, 0.9), 4) AS p90_tokens, "
            "min(tc) AS min_tokens, max(tc) AS max_tokens FROM d GROUP BY lang"
        ),
        "category_pivot": (
            "SELECT category, "
            "CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de, "
            "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en, "
            "CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es, "
            "CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr, "
            "CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh "
            "FROM (" + sql_categories("text", DOC_CATEGORIES, "doc_id") + ") c "
            "JOIN documents d ON c.doc_id = d.doc_id GROUP BY category"
        ),
        "zscore_by_group": __import__("pdf_extraction_spark.operators.groupedmap", fromlist=["sql_zscore_by_group"]).sql_zscore_by_group(),
        "session_stats": __import__("pdf_extraction_spark.streaming.stateful", fromlist=["sql_session_stats"]).sql_session_stats(30),
        "windowed_counts": (
            "SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
            # Spark window() cannot bucket a NULL timestamp — it drops
            # the row; time_bucket(NULL) would keep a NULL group
            "event_type, count(*) AS n_events FROM events "
            "WHERE ts IS NOT NULL GROUP BY 1, 2"
        ),
        "dedup_exact": (
            "SELECT count(*) AS n_dups, min(doc_id) AS keep_id FROM documents "
            "GROUP BY md5(lower(trim(text))) HAVING count(*) > 1"
        ),
        "dedup_wordset": (
            "SELECT count(*) AS n_dups, min(doc_id) AS keep_id FROM documents "
            "GROUP BY md5(array_to_string(list_sort(list_distinct("
            # Spark splits with Java \s ( = the explicit class below,
            # \x0B included); RE2's \s lacks \x0B, so spell it out
            f"list_filter(string_split_regex(lower(text), '{WORD_SPLIT_RE}'), x -> x <> ''))), ' ')) "
            "HAVING count(*) > 1"
        ),
        "ngram_jaccard": (
            f"WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '{WORD_SPLIT_RE}'), x -> x <> '') AS w FROM documents), "
            "grams AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN "
            "list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) "
            "WHEN len(w) > 0 THEN [array_to_string(w, ' ')] "
            "ELSE [] END AS gs FROM toks), "
            "sh AS (SELECT doc_id, unnest(gs) AS shingle FROM grams), "
            "sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common "
            "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
            "GROUP BY a.doc_id, b.doc_id) "
            "SELECT id_a, id_b, round(CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common), 6) AS jaccard "
            "FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id "
            "WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5"
        ),
        "embedding_neardup": (
            # finite-vector gate on both sides mirrors the operator's
            # finite_vec_pred (NaN/Inf vectors are outside the universe)
            "WITH fe AS (SELECT vec_id, embedding FROM embeddings WHERE "
            + __import__(
                "pdf_extraction_spark.operators.topk", fromlist=["sql_finite_vec"]
            ).sql_finite_vec("embedding")
            + ") "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
            "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine "
            "FROM fe a JOIN fe b ON a.vec_id < b.vec_id "
            "WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
            "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35"
        ),
        "text_ratios": (
            "WITH w AS (SELECT doc_id, text, length(text) AS n_chars, "
            f"list_filter(string_split_regex(lower(text), '{WORD_SPLIT_RE}'), x -> x <> '') AS words FROM documents) "
            "SELECT doc_id, CAST(len(words) AS INT) AS n_words, "
            "round(CAST(n_chars AS DOUBLE) / greatest(len(words), 1), 4) AS avg_word_len, "
            # \p classes: RE2's bare \w is ASCII, Spark's (?U)[^\w\s] is
            # Unicode — accented letters must not count as punctuation,
            # and (?U)\s = White_Space, spelled as the explicit body so
            # exotic spaces don't count as punctuation either
            "round(CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{M}\\p{N}_"
            + WHITE_SPACE_BODY
            + "]')) AS DOUBLE) / greatest(n_chars, 1), 4) AS punct_ratio, "
            "round(CAST(len(list_filter(words, x -> list_contains(['the','a','of','to','and','in','is'], x))) AS DOUBLE) / greatest(len(words), 1), 4) AS stopword_ratio "
            "FROM w"
        ),
        "token_count": (
            f"SELECT doc_id, {sql_token_count('text')} AS token_count FROM documents"
        ),
        "bm25_topk": _sql_bm25_topk(
            "documents", ["table", "join", "window"], k=10
        ),
        "chunk_docs": _sql_chunk_sliding_window("documents", size=64, overlap=16),
        "phrase_search": _sql_phrase_match(["table", "hash"]),
        "c4_filter": _sql_c4_flags("text", "doc_id"),
        "dedup_url": (
            "WITH d AS (SELECT doc_id, n_chars, "
            + sql_canonical_url(
                "'HTTPS://' || upper(source) || '.Example.com/p/' || "
                "CAST(doc_id % 50 AS VARCHAR) || '?utm_source=feed&ref=rss'"
            )
            + " AS curl FROM documents) "
            "SELECT curl, doc_id, n_chars FROM ("
            "SELECT curl, doc_id, n_chars, row_number() OVER ("
            "PARTITION BY curl ORDER BY coalesce(n_chars, -1) DESC, doc_id) AS rn FROM d) "
            "WHERE rn = 1"
        ),
        "refinedweb_lines": _sql_rw_flags(
            # identical augmentation to q_refinedweb (concat_ws skips no
            # NULLs here: text is coalesced on both sides)
            "concat_ws(chr(10), coalesce(text, ''), upper(source), "
            "CAST(n_chars AS VARCHAR), '12 likes', 'Read More', "
            "'This closing line survives.')",
            "doc_id",
        ),
        "nation_revenue": (
            "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "count(*) AS n_items FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ),
        "host_cap": sql_host_cap("CAST(n_chars AS DOUBLE)", k=5),
        "group_sample": sql_group_sample(k=4),
        "qual_classify": sql_score_quality(
            "(SELECT printf('%03x', i) AS bucket, "
            "((i * 2654435761) % 2001 - 1000) / 1000.0 AS w "
            "FROM range(4096) t(i)) w",
            bias=0.1,
        ),
        "lm_score": sql_score_bigram_lm(),
        "sb_trigram": sql_score_stupid_backoff(),
        "dimsum": sql_dimsum_cosine(sqrt_gamma=8.0, min_sim=0.25),
        "gate_auc": (
            "SELECT grp AS lang, n_pos, n_neg, auc_ppm FROM ("
            + sql_gate_auc(
                "(SELECT lang, n_chars AS score, "
                + "len(" + _sql_lower_words("coalesce(text, '')") + ") >= 30 AS label "
                + "FROM documents)",
                "score",
                "label",
                "lang",
            )
            + ")"
        ),
        "gate_pr": sql_gate_pr_curve(
            "(SELECT n_chars AS score, "
            + "len(" + _sql_lower_words("coalesce(text, '')")
            + ") >= 30 AS label FROM documents)",
            "score",
            "label",
        ),
        "rank_corr": (
            "SELECT grp AS lang, n, rho FROM ("
            + sql_rank_corr(
                "(SELECT lang, n_chars AS x, CAST(len("
                + _sql_lower_words("coalesce(text, '')")
                + ") AS BIGINT) AS y FROM documents)",
                "x",
                "y",
                "lang",
            )
            + ")"
        ),
        "gate_calibration": sql_gate_calibration(
            "(SELECT n_chars / CAST(1000.0 AS DOUBLE) AS prob, "
            + "len(" + _sql_lower_words("coalesce(text, '')")
            + ") >= 30 AS label FROM documents)",
            "prob",
            "label",
        ),
        "blocklist_gate": sql_blocklist_gate(
            "(VALUES "
            + ", ".join(f"('{p}', {t})" for p, t in BLOCKLIST_ROWS)
            + ") p(phrase, tier)"
        ),
        "simhash_native": sql_native_simhash(),
        "layout_order": sql_layout_gain(
            "SELECT doc_id, sig FROM (" + sql_native_simhash() + ")",
            n_shards=16,
        ),
        "sentence_chunks": sql_sentence_chunks(
            "(SELECT doc_id, " + SENT_CHUNK_TEXT_EXPR + " AS text "
            "FROM documents)",
            budget=32,
        ),
        "ppl_buckets": sql_ppl_buckets(),
        "dsir_select": sql_dsir_select(100, "lang = 'en'"),
        "host_pagerank": sql_pagerank(
            "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 + doc_id) % 29 "
            "AS VARCHAR) AS dst FROM documents",
            n_iter=5,
        ),
        "host_trustrank": sql_trustrank(
            "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 + doc_id) % 29 "
            "AS VARCHAR) AS dst FROM documents",
            "SELECT source AS node FROM documents "
            "WHERE source IN ('src0', 'src7', 'src14')",
            n_iter=5,
        ),
        "winnow_fp": sql_winnow_fingerprints(k=3, w=4),
        "script_profile": sql_script_profile(
            "(SELECT doc_id, text || " + _SCRIPT_AUG + " AS text FROM documents)"
        ),
        "html_meta": sql_html_meta(
            "(SELECT doc_id, " + _HTML_AUG + " AS html FROM documents)"
        ),
        "html_outlinks": sql_host_link_graph(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        ),
        "outlink_pagerank": sql_pagerank(
            "WITH " + sql_links_ctes(
                "(SELECT doc_id, " + _LINKS_URL + " AS url, "
                + _LINKS_AUG + " AS html FROM documents)"
            )
            + " SELECT src_host AS src, dst_host AS dst FROM links",
            n_iter=4,
        ),
        "anchor_terms": sql_anchor_terms(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)",
            min_count=2,
        ),
        "host_boilerplate": sql_host_boilerplate(
            min_docs=3,
            rel="(SELECT doc_id, source, " + _BOILER_AUG
            + " AS text FROM documents)",
        ),
        "robots_gate": sql_robots_flags(
            "(SELECT doc_id, " + _ROBOTS_AUG + " AS html FROM documents)"
        ),
        "pmi_colloc": sql_pmi_collocations(min_count=5),
        "doc_keyterms": sql_doc_key_terms(k=3),
        "bpe_merges": sql_bpe_merges(16),
        "bpe_encode": sql_bpe_encode(12),
        "bpe_fertility": sql_bpe_fertility(12),
        "vocab_growth": sql_vocab_growth(n_buckets=64),
        "hll_words": sql_hll_distinct("word", _WORD_SRC),
        "cms_topwords": sql_cms_heavy_hitters("word", _WORD_SRC, k=20),
        "bloom_dedup": sql_bloom_dedup_flags(
            "documents",
            "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
            m_bits=1024,
        ),
        "unigram_entropy": sql_unigram_entropy(),
        "source_kl": sql_source_divergence(),
        "zipf_slope": sql_zipf_slope(k=50),
        "source_overlap": sql_source_overlap(
            # the ngram_jaccard twin's shingle construction carrying
            # source (the hll_by_source fragment, one home)
            "SELECT source, unnest(gs) AS shingle FROM ("
            "SELECT source, CASE WHEN len(w) >= 3 THEN "
            "list_distinct([array_to_string(w[i:i+2], ' ') "
            "FOR i IN range(1, len(w) - 1)]) "
            "WHEN len(w) > 0 THEN [array_to_string(w, ' ')] "
            "ELSE [] END AS gs FROM ("
            f"SELECT source, list_filter(string_split_regex("
            "lower(replace(replace(text, 'İ', 'i'), 'Σ', 'σ')), "
            f"'{WORD_SPLIT_RE}'), x -> x <> '') AS w FROM documents))"
        ),
        "host_quality": sql_host_quality_gate(),
        "host_wilson": sql_host_wilson_rank(),
        "hll_by_source": sql_hll_distinct_by(
            "source",
            "shingle",
            # the ngram_jaccard twin's shingle construction, nested (no
            # CTE — this lands inside the helper's own WITH), carrying
            # source instead of doc_id
            "(SELECT source, unnest(gs) AS shingle FROM ("
            "SELECT source, CASE WHEN len(w) >= 3 THEN "
            "list_distinct([array_to_string(w[i:i+2], ' ') "
            "FOR i IN range(1, len(w) - 1)]) "
            "WHEN len(w) > 0 THEN [array_to_string(w, ' ')] "
            "ELSE [] END AS gs FROM ("
            f"SELECT source, list_filter(string_split_regex("
            "lower(replace(replace(text, 'İ', 'i'), 'Σ', 'σ')), "
            f"'{WORD_SPLIT_RE}'), x -> x <> '') AS w FROM documents)))",
            key_alias="source",
        ),
        "hist_quantiles": sql_histogram_quantiles(
            "length(coalesce(text, ''))",
            "documents",
            [10, 250, 500, 750, 900, 990, 999],
        ),
        "fix_mojibake": (
            "SELECT doc_id, fixed_text FROM "
            + _fixture("mojibake_sf0_01.parquet")
        ),
        "weighted_mix": sql_weighted_mix(
            "doc_id",
            "source",
            rates={"src0": 2.5, "src1": 0.4, "src2": 1.0},
            default_rate=0.25,
        ),
        "incremental_dedup": sql_minhash_incremental_drops(
            _fixture("minhash_sigs_sf0_01.parquet"),
            _fixture("minhash_sigs_new_sf0_01.parquet"),
            num_hashes=32,
            bands=8,
            max_bucket=200,
            threshold=0.5,
        ),
        "url_dates": (
            "WITH u AS (SELECT uid, url, CAST(ts AS TIMESTAMP) AS warc_ts, "
            "regexp_replace(list_extract(string_split(url, '/'), len(string_split(url, '/'))), '\\.[^.]*\\z', '') AS name "
            "FROM " + _sql_values(URL_ROWS, ["uid", "url", "ts"]) + "), "
            "d AS (SELECT uid, name, warc_ts, "
            "try_strptime(substring(regexp_extract(name, '([A-Za-z]{3,9})_(\\d{4})', 1), 1, 3) || ' ' || "
            "regexp_extract(name, '([A-Za-z]{3,9})_(\\d{4})', 2), '%b %Y') AS month_year, "
            # no 'i' flag: DuckDB's folds Unicode, Spark's (?i) is
            # ASCII-only — explicit dual casing via _fin_pat instead
            f"TRY_CAST(regexp_extract(name, '{_fin_pat(URL_QFY_PATTERN)}', 1) AS INT) AS qn, "
            f"regexp_extract(name, '{_fin_pat(URL_QFY_PATTERN)}', 2) AS fy_raw, "
            "TRY_CAST(regexp_extract(name, '(\\d{4})', 1) AS INT) AS bare_year "
            "FROM u), "
            "e AS (SELECT *, "
            "CASE WHEN fy_raw = '' THEN NULL WHEN length(fy_raw) = 2 THEN "
            "(CASE WHEN CAST(fy_raw AS INT) < 50 THEN CAST(fy_raw AS INT) + 2000 ELSE CAST(fy_raw AS INT) + 1900 END) "
            "ELSE CAST(fy_raw AS INT) END AS fy, "
            "CASE qn WHEN 1 THEN 4 WHEN 2 THEN 7 WHEN 3 THEN 10 WHEN 4 THEN 1 END AS qmonth FROM d), "
            "f AS (SELECT uid, name, coalesce(month_year, "
            "CASE WHEN qn IS NOT NULL AND fy IS NOT NULL THEN "
            "make_timestamp(CASE WHEN qmonth = 1 THEN fy + 1 ELSE fy END, qmonth, 1, 0, 0, 0) END, "
            "CASE WHEN bare_year IS NOT NULL THEN make_timestamp(bare_year, 1, 1, 0, 0, 0) END, "
            "warc_ts) AS doc_date FROM e) "
            "SELECT uid, strftime(doc_date, '%Y-%m-%d') AS doc_date, "
            "CASE WHEN regexp_extract(lower(name), 'q(\\d)', 1) = '' THEN '' "
            "ELSE 'Q' || regexp_extract(lower(name), 'q(\\d)', 1) END AS quarter, "
            "CASE WHEN regexp_extract(lower(name), 'fy(\\d{2,4})', 1) <> '' THEN "
            "(CASE WHEN length(regexp_extract(lower(name), 'fy(\\d{2,4})', 1)) = 2 "
            "THEN 'FY' || regexp_extract(lower(name), 'fy(\\d{2,4})', 1) "
            "ELSE 'FY' || right(regexp_extract(lower(name), 'fy(\\d{2,4})', 1), 2) END) "
            "WHEN month(doc_date) >= 4 THEN 'FY' || right(CAST(year(doc_date) + 1 AS VARCHAR), 2) "
            "ELSE 'FY' || right(CAST(year(doc_date) AS VARCHAR), 2) END AS fiscal_year "
            "FROM f"
        ),
        "pass_rate": (
            "SELECT lang, count(*) AS total, "
            # CAST: DuckDB sum(INTEGER) returns HUGEINT which pandas renders as
            # float64 ("3.0") and breaks the driver's value hash vs Spark's long.
            "CAST(sum(CASE WHEN " + sql_word_count("text") + " >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS kept "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "keep_last": (
            "SELECT o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate FROM ("
            "SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER ("
            "PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) "
            "WHERE rn = 1"
        ),
        "salted_agg": (
            "SELECT source, count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars "
            "FROM documents GROUP BY source"
        ),
        "categorize_join": sql_categories("text", DOC_CATEGORIES, "doc_id"),
        "topk_batch": _topk_batch_sql(),
        # --- curation suite (native expressions, exact SQL twins) ----------
        "gopher_quality": sql_gopher_flags("text"),
        "dedup_lines": sql_dedup_lines(min_occurrences=3),
        "dedup_paragraphs": sql_dedup_paragraphs(min_occurrences=2),
        "top_ngram_frac": sql_top_ngram_char_frac(n=2),
        "dup_ngram_frac": sql_dup_ngram_char_frac(n=2),
        "dedup_keepfirst": sql_dedup_lines_keep_first(),
        "pii_scrub": sql_scrub_pii("text"),
        "stratified_sample": (
            "SELECT doc_id, source FROM documents WHERE "
            + sql_stratified_sample("doc_id", "source", SAMPLE_FRACTIONS, 0.05)
        ),
        "pack_sequences": sql_pack_sequences(
            sql_token_count("text"), budget=512, n_shards=8
        ),
        "url_filter": (
            "SELECT uid, url FROM "
            + _sql_values(URL_FILTER_ROWS, ["uid", "url"])
            + " WHERE "
            + sql_url_filter("url", blocked_hosts=URL_BLOCKED_HOSTS)
        ),
        "nfc_normalize": (
            "SELECT uid, nfc_normalize(s) AS normalized FROM "
            + _sql_values(NFC_ROWS, ["uid", "s"])
        ),
        "fold_accents": (
            "SELECT uid, strip_accents(s) AS folded FROM "
            + _sql_values(FOLD_ROWS, ["uid", "s"])
        ),
        "dedup_spans": sql_dedup_spans(k=8),
        "url_canonical": (
            "SELECT uid, "
            + sql_canonical_url("url")
            + " AS canonical FROM "
            + _sql_values(URL_CANON_ROWS, ["uid", "url"])
        ),
        "surt_keys": (
            "SELECT uid, "
            + sql_surt_key("url")
            + " AS surt FROM "
            + _sql_values(SURT_ROWS, ["uid", "url"])
        ),
        "decontaminate": (
            "SELECT * FROM ("
            + sql_flag_contaminated(
                _sql_values([(t,) for _, t in EVAL_ROWS], ["text"]), n=5
            )
            + ") WHERE contaminated"
        ),
        # --- kernel-input fixtures + relational recompute (see
        # tests/make_oracle_fixtures.py): the kernel hash/embed outputs
        # are precomputed in pure Python; the LSH banding / bucket caps /
        # candidate pairs / est-jaccard / hamming / cosine+rerank math is
        # recomputed independently in DuckDB.
        "langid": sql_detect_language("text"),
        "roster_extract": sql_extract_executives(
            _sql_values([(i, c) for i, c in ROSTER_CONTENTS], ["url", "content"])
        ),
        "minhash_lsh": _minhash_pairs_sql,
        "dedup_clusters": sql_dedup_clusters(_minhash_pairs_sql),
        "simhash": sql_simhash_pairs(_fixture("simhash_sf0_01.parquet"), max_hamming=3),
        "embedding_lsh": sql_embedding_lsh_neardups(
            _fixture("emb_sketches_sf0_01.parquet"),
            n_bands=8,
            max_bucket=200,
            threshold=0.35,
        ),
        "embedding_clusters": sql_dedup_clusters(
            sql_embedding_lsh_neardups(
                _fixture("emb_sketches_sf0_01.parquet"),
                n_bands=8,
                max_bucket=200,
                threshold=0.35,
            )
        ),
        "semdedup": sql_semantic_dedup(
            _fixture("ivf_centroids_sf0_01.parquet"), threshold=0.35
        ),
        "ivf_topk": (
            # end-to-end fixed-centroid IVF (n_probe=2, k=4, cell kept in
            # the output): argmax assignment, probe = top-2 cells by
            # centroid·query, exact cosine top-k within the probed cells
            "WITH s AS (SELECT e.vec_id, c.cell, "
            "CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) = 0 "
            "THEN 0.0 ELSE "
            "list_dot_product(e.embedding::DOUBLE[], c.centroid) / "
            "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(c.centroid, c.centroid))) END AS sim "
            "FROM embeddings e, " + _fixture("ivf_centroids_sf0_01.parquet") + " c "
            "WHERE " + sql_complete_vec("e.embedding") + "), "
            "assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk FROM s) "
            "WHERE rk = 1), "
            "probe AS (SELECT cell FROM " + _fixture("ivf_centroids_sf0_01.parquet") + " c "
            "ORDER BY " + sql_cosine("c.centroid", qvec, round_digits=9) + " DESC, cell LIMIT 2), "
            "cand AS (SELECT e.vec_id, a.cell, e.embedding FROM embeddings e "
            "JOIN assign a ON e.vec_id = a.vec_id WHERE a.cell IN (SELECT cell FROM probe)) "
            f"SELECT vec_id, cell, {sql_cosine('embedding', qvec)} AS similarity FROM cand "
            "ORDER BY similarity DESC, vec_id, cell LIMIT 4"
        ),
        "ivf_probe": (
            # full fixed-centroid IVF recomputed relationally: argmax
            # assignment (same CTE as ivf_assign), probe = top-3 cells by
            # centroid·query (high-precision cosine, ties to lowest cell
            # = the numpy argsort rule), exact cosine top-k within
            "WITH s AS (SELECT e.vec_id, c.cell, "
            "CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) = 0 "
            "THEN 0.0 ELSE "
            "list_dot_product(e.embedding::DOUBLE[], c.centroid) / "
            "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(c.centroid, c.centroid))) END AS sim "
            "FROM embeddings e, " + _fixture("ivf_centroids_sf0_01.parquet") + " c "
            "WHERE " + sql_complete_vec("e.embedding") + "), "
            "assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk FROM s) "
            "WHERE rk = 1), "
            "probe AS (SELECT cell FROM " + _fixture("ivf_centroids_sf0_01.parquet") + " c "
            "ORDER BY " + sql_cosine("c.centroid", qvec, round_digits=9) + " DESC, cell LIMIT 3), "
            "cand AS (SELECT e.vec_id, e.embedding FROM embeddings e "
            "JOIN assign a ON e.vec_id = a.vec_id WHERE a.cell IN (SELECT cell FROM probe)) "
            f"SELECT vec_id, {sql_cosine('embedding', qvec)} AS similarity FROM cand "
            "ORDER BY similarity DESC, vec_id LIMIT 5"
        ),
        "ivf_assign": (
            # exact argmax twin of assign_cells over the committed fixed
            # centroids (normalized; ties break to the lowest cell, the
            # numpy argmax rule)
            "WITH s AS (SELECT e.vec_id, c.cell, "
            "CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) = 0 "
            "THEN 0.0 ELSE "
            "list_dot_product(e.embedding::DOUBLE[], c.centroid) / "
            "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(c.centroid, c.centroid))) END AS sim "
            "FROM embeddings e, " + _fixture("ivf_centroids_sf0_01.parquet") + " c "
            "WHERE " + sql_complete_vec("e.embedding") + ") "
            "SELECT vec_id, cell FROM (SELECT vec_id, cell, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk FROM s) "
            "WHERE rk = 1"
        ),
        "embed_rerank": _embed_rerank_sql(),
        # --- independent-path recompute goldens: the full expected output
        # recomputed sequentially through the pure-Python kernel path (no
        # Spark) — checks the distributed plumbing against a sequential
        # re-execution, not a frozen copy of Spark output.
        "extract_pipeline": (
            "SELECT url, turn_pos, speaker, speaker_role, content, word_count FROM "
            + _fixture("extract_turns.parquet")
        ),
        "curate_corpus": (
            "SELECT url, token_count, detected_lang FROM "
            + _fixture("curate_docs.parquet")
        ),
        "media_features_real": (
            "SELECT media_id, media_type, n_bytes, mean_intensity FROM "
            + _fixture("media_features_real.parquet")
        ),
        "media_features": (
            "SELECT media_id, n_bytes, mean_intensity FROM "
            + _fixture("media_features.parquet")
        ),
        # ---- round-4 continuation additions ----
        "host_hits": sql_hits(
            "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 + doc_id) % 29 "
            "AS VARCHAR) AS dst FROM documents",
            n_iter=5,
        ),
        "readability": sql_readability(),
        "snapshot_delta": sql_snapshot_changes(
            "SELECT " + _LINKS_URL + " AS url, "
            "CAST(" + _SNAP_TS + " AS BIGINT) AS ts, "
            + _SNAP_TEXT + " AS text "
            "FROM documents, (SELECT unnest(range(1, 6)) AS j) r "
            "WHERE j <= 1 + doc_id % 5"
        ),
        "frontier_sched": sql_frontier_schedule(
            "SELECT " + _LINKS_URL + " AS url, "
            + _FRONTIER_HOST + " AS host, "
            "CAST(n_chars % 97 AS BIGINT) AS priority FROM documents"
        ),
        "robots_rules": sql_parse_robots(
            "SELECT " + _ROBOTS_HOST + " AS host, "
            + _ROBOTS_TXT + " AS robots_txt "
            "FROM (SELECT DISTINCT source FROM documents) s"
        ),
        "robots_allow": sql_robots_allowed(
            "SELECT " + _LINKS_URL + " AS url, "
            + _ROBOTS_HOST + " AS host FROM documents",
            sql_parse_robots(
                "SELECT " + _ROBOTS_HOST + " AS host, "
                + _ROBOTS_TXT + " AS robots_txt "
                "FROM (SELECT DISTINCT source FROM documents) s"
            ),
            agent="MyBot",
        ),
        "containment": sql_containment_pairs(threshold_pct=50),
        "domain_parse": sql_domain_parse(
            "SELECT DISTINCT " + _DOMAIN_HOST + " AS host FROM documents"
        ),
        "template_pages": sql_template_pages(
            "SELECT doc_id, " + _TEMPLATE_HTML + " AS html FROM documents",
            min_count=50,
        ),
        "url_traps": sql_url_trap_flags(
            "SELECT " + _TRAP_URL + " AS url FROM documents"
        ),
        "sitemap_parse": sql_parse_sitemap(
            "SELECT " + _ROBOTS_HOST + " AS host, "
            + _SITEMAP_XML + " AS sitemap_xml "
            "FROM (SELECT DISTINCT source FROM documents) s"
        ),
        "crawl_plan": sql_frontier_schedule(
            "SELECT u.url, u.host, u.priority FROM "
            "(SELECT " + _LINKS_URL + " AS url, "
            + _ROBOTS_HOST + " AS host, "
            "CAST(n_chars % 97 AS BIGINT) AS priority FROM documents) u "
            "JOIN ("
            + sql_robots_allowed(
                "SELECT " + _LINKS_URL + " AS url, "
                + _ROBOTS_HOST + " AS host FROM documents",
                sql_parse_robots(
                    "SELECT " + _ROBOTS_HOST + " AS host, "
                    + _ROBOTS_TXT + " AS robots_txt "
                    "FROM (SELECT DISTINCT source FROM documents) s"
                ),
                agent="MyBot",
            )
            + ") adm ON u.url = adm.url WHERE adm.allowed"
        ),
        "redirects": sql_resolve_redirects(_REDIR_EDGES, max_hops=16),
        "holdout_split": _sql_holdout_split(
            "SELECT doc_id, CASE WHEN doc_id % 31 = 0 THEN NULL WHEN doc_id % 31 = 1 THEN 'com' ELSE 'www.site' || CAST(doc_id % 97 AS VARCHAR) || '.co.uk' END AS host FROM documents",
            splits={"train": 0.90, "valid": 0.05, "test": 0.05},
        ),
        "quantize_emb": sql_quantize_embeddings(
            "SELECT vec_id, embedding FROM embeddings"
        ),
        "pq_encode": sql_pq_encode(_fixture("pq_codebook_sf0_01.parquet")),
        "pq_topk": sql_adc_topk(
            _fixture("pq_codebook_sf0_01.parquet"), _query_vec(), k=8
        ),
        "edit_verify": sql_edit_verify_pairs(
            "SELECT doc_id AS id_a, (doc_id * 7 + 13) % 500 AS id_b "
            "FROM documents WHERE doc_id < 250 "
            "UNION ALL SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 = 0",
            "SELECT doc_id, text FROM documents",
            max_dist_pct=60,
        ),
        "spam_mass": (
            "WITH pr AS ("
            + sql_pagerank(_SPAM_EDGES, n_iter=5)
            + "), tr AS ("
            + sql_trustrank(
                _SPAM_EDGES,
                "SELECT source AS node FROM documents "
                "WHERE source IN ('src0', 'src7', 'src14')",
                n_iter=5,
            )
            + ") SELECT pr.node, pr.rank AS pr, tr.rank AS tr, "
            "round(pr.rank - tr.rank, 6) AS spam_mass, "
            "CASE WHEN CAST(round(pr.rank * 1e6) AS BIGINT) = 0 THEN 'ham' "
            "WHEN 5 * (CAST(round(pr.rank * 1e6) AS BIGINT) "
            "- CAST(round(tr.rank * 1e6) AS BIGINT)) "
            "> 4 * CAST(round(pr.rank * 1e6) AS BIGINT) THEN 'spam' "
            "WHEN 2 * (CAST(round(pr.rank * 1e6) AS BIGINT) "
            "- CAST(round(tr.rank * 1e6) AS BIGINT)) "
            "> CAST(round(pr.rank * 1e6) AS BIGINT) THEN 'suspect' "
            "ELSE 'ham' END AS verdict "
            "FROM pr JOIN tr ON pr.node = tr.node"
        ),
        "shard_manifest": sql_shard_manifest(n_shards=16),
        # merge-of-disjoint-parts must equal the whole-corpus manifest
        # bit-for-bit (associative/commutative fold), so the oracle is
        # the SAME whole-table manifest SQL
        "manifest_merge": sql_shard_manifest(n_shards=16),
        "compaction_plan": sql_compaction_plan(
            "SELECT source || '-' || CAST(doc_id % 7 AS VARCHAR) AS file_id, "
            "CAST(sum(coalesce(octet_length(encode(text)), 0)) AS BIGINT) "
            "AS bytes FROM documents GROUP BY 1",
            target_bytes=16000,
        ),
        "mixture_plan": sql_mixture_plan(
            "SELECT source, len(string_split(coalesce(text, ''), ' ')) "
            "AS token_count FROM documents",
            {"src0": 600, "src1": 300, "src2": 200, "src5": 100},
            budget_tokens=3000,
        ),
        "temp_mixture": sql_temperature_mix(
            "SELECT source, len(string_split(coalesce(text, ''), ' ')) "
            "AS token_count FROM documents",
            budget_tokens=30000,
            inv_temp_pow2=1,
        ),
        "justext_blocks": sql_justext_classify(
            sql_blocks_from_text(
                "SELECT doc_id, "
                "concat_ws(chr(10), "
                "repeat('It was the best of times and it was the worst "
                "of times for all of us. ', 4), "
                "'Continue reading', "
                "repeat('It was the best of times and it was the worst "
                "of times for all of us. ', 3), "
                "'It was a bright cold day in April and the clocks "
                "were striking thirteen all over town.', "
                "'Home www.example.com/a www.example.com/b "
                "www.example.com/c', "
                "'He was the one who said that we could not go there "
                "on that day with them at all, ever.', "
                "'© ' || coalesce(source, ''), "
                "coalesce(text, ''), "
                "repeat('It was the best of times and it was the worst "
                "of times for all of us. ', 4), "
                "'More', "
                "'She said that it was not the only way to do it and "
                "that they would be there too.', "
                "'www.example.com/end', "
                "'Thanks') AS text "
                "FROM documents"
            )
        ),
        "host_communities": sql_label_propagation(
            "SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src, "
            "'h' || CAST((doc_id % 40) // 10 * 10 + "
            "((doc_id % 40) % 10 + 1 + doc_id % 7) % 10 AS VARCHAR) AS dst "
            "FROM documents "
            "UNION ALL SELECT 'h' || CAST((doc_id % 4) * 10 AS VARCHAR), "
            "'h' || CAST(((doc_id % 4 + 1) % 4) * 10 AS VARCHAR) "
            "FROM documents WHERE doc_id % 97 = 0",
            n_iter=5,
        ),
        "cc_scrub": sql_scrub_credit_cards(
            text_expr="coalesce(text, '') || " + _CC_AUG
        ),
        "soft404": sql_soft404_flags(
            "(SELECT doc_id, " + _ERR404_TEXT + " AS text FROM documents)"
        ),
        "group_quartiles": sql_group_discrete_quantiles(
            "documents", "lang", "n_chars"
        ),
        "robust_outliers": sql_robust_outliers(
            "(SELECT doc_id, source, CAST(n_chars * (CASE WHEN "
            "doc_id % 97 = 0 THEN 50 ELSE 1 END) AS BIGINT) AS v "
            "FROM documents)",
            "source",
            "v",
            "doc_id, source, v",
            k_num=3,
            k_den=1,
        ),
        "html_pubdate": sql_pub_date(
            "(SELECT doc_id, " + _PUBDATE_AUG + " AS html, "
            + _PUBDATE_URL + " AS url FROM documents)"
        ),
        "link_profile": sql_link_profile(
            "(SELECT doc_id, " + _LINKPROF_AUG + " AS html FROM documents)"
        ),
        "hreflang_alts": sql_hreflang_alternates(
            "(SELECT doc_id, " + _LINKPROF_AUG + " AS html FROM documents)"
        ),
        "sentences": sql_explode_sentences(
            "(SELECT doc_id, " + _SENT_AUG + " AS text FROM documents)"
        ),
        "meta_keywords": sql_meta_keywords(
            "(SELECT doc_id, " + _KW_AUG + " AS html FROM documents)"
        ),
        "heading_outline": sql_explode_headings(
            "(SELECT doc_id, " + _HSTRUCT_AUG + " AS html FROM documents)"
        ),
        "jsonld_types": sql_jsonld_types(
            "(SELECT doc_id, " + _HSTRUCT_AUG + " AS html FROM documents)"
        ),
        "html_tables": sql_html_table_cells(
            "(SELECT doc_id, " + _HSTRUCT_AUG + " AS html FROM documents)"
        ),
        "lang_mix": sql_language_mix("documents"),
        "lexical_diversity": sql_lexical_diversity("documents"),
        "og_card": sql_og_card(
            "(SELECT doc_id, " + _OGCARD_AUG + " AS html FROM documents)"
        ),
        "img_alt_pairs": sql_img_alt_pairs(
            "(SELECT doc_id, " + _IMGALT_AUG + " AS html FROM documents)"
        ),
        "page_shape": sql_page_shape(
            "(SELECT doc_id, " + _PAGESHAPE_AUG + " AS html FROM documents)"
        ),
        "content_spans": (
            "SELECT url, block_no, span_start, span_end, n_words, "
            "link_density, is_content FROM "
            + _fixture("content_spans.parquet")
        ),
        "norm_punct": sql_normalize_punct(
            "(SELECT doc_id, " + _PUNCT_AUG + " AS text FROM documents)"
        ),
        "rrf_fuse": _rrf_fuse_sql(),
        "gate_ndcg": _gate_ndcg_sql(),
        "rank_rbo": _rank_rbo_sql(),
        "mmr_topk": __import__(
            "pdf_extraction_spark.operators.fusion", fromlist=["sql_mmr_topk"]
        ).sql_mmr_topk(_query_vec(), lam=0.7, k=5, pool=16),
        "cocite_hosts": _cocite_sql(transpose=False),
        "couple_hosts": _cocite_sql(transpose=True),
        "mirror_hosts": _mirror_sql(),
        "apss_pairs": __import__(
            "pdf_extraction_spark.operators.apss", fromlist=["sql_apss_pairs"]
        ).sql_apss_pairs(tau=0.4, max_df=250),
        "funnel_steps": __import__(
            "pdf_extraction_spark.operators.funnel",
            fromlist=["sql_funnel_conversion"],
        ).sql_funnel_conversion(_FUNNEL_STEPS, window_s=_FUNNEL_WINDOW_S),
        "host_triangles": _host_triangles_sql(),
        "moore_lewis": __import__(
            "pdf_extraction_spark.operators.mlfilter",
            fromlist=["sql_moore_lewis"],
        ).sql_moore_lewis(
            "(SELECT * FROM documents WHERE source <> 'src0')",
            "(SELECT * FROM documents WHERE source = 'src0')",
            k=50,
        ),
        "mass_gini": __import__(
            "pdf_extraction_spark.operators.hostcap", fromlist=["sql_mass_gini"]
        ).sql_mass_gini("documents", "source", "n_chars"),
        "textrank_terms": __import__(
            "pdf_extraction_spark.operators.terms",
            fromlist=["sql_textrank_terms"],
        ).sql_textrank_terms("documents", k=3, n_iter=4),
        "hrw_shards": __import__(
            "pdf_extraction_spark.operators.release",
            fromlist=["sql_hrw_shard_counts"],
        ).sql_hrw_shard_counts(_HRW_SHARDS),
        "facility_location": __import__(
            "pdf_extraction_spark.operators.coreset",
            fromlist=["sql_facility_location"],
        ).sql_facility_location(k=4, pool=16),
        "bm25f_topk": __import__(
            "pdf_extraction_spark.operators.retrieval",
            fromlist=["sql_bm25f_topk"],
        ).sql_bm25f_topk(
            "(SELECT doc_id, text, " + _LINKS_URL + " AS url FROM documents)",
            ["table", "join", "src3"],
            fields=[("text", 1.0, 0.75), ("url", 4.0, 0.5)],
            k=15,
        ),
        "qlm_topk": __import__(
            "pdf_extraction_spark.operators.retrieval",
            fromlist=["sql_qlm_topk"],
        ).sql_qlm_topk("documents", ["table", "join", "window"], k=15),
        "prf_bm25": __import__(
            "pdf_extraction_spark.operators.retrieval",
            fromlist=["sql_rocchio_bm25_topk"],
        ).sql_rocchio_bm25_topk(
            "documents", ["table", "join"], k=15, k_fb=5, m_exp=5
        ),
        "nepotism": __import__(
            "pdf_extraction_spark.operators.htmlgraph",
            fromlist=["sql_nepotistic_links"],
        ).sql_nepotistic_links(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        ),
        "bot_regularity": __import__(
            "pdf_extraction_spark.operators.forensics",
            fromlist=["sql_bot_regularity"],
        ).sql_bot_regularity("events", min_events=5),
        "benford": __import__(
            "pdf_extraction_spark.operators.forensics",
            fromlist=["sql_benford_digits"],
        ).sql_benford_digits("documents", "n_chars"),
        "hyperball": _hyperball_sql(),
        "rake_phrases": __import__(
            "pdf_extraction_spark.operators.terms",
            fromlist=["sql_rake_phrases"],
        ).sql_rake_phrases("documents", k=3),
        "host_kcore": _host_kcore_sql(),
        "host_assort": _host_assort_sql(),
        "host_salsa": __import__(
            "pdf_extraction_spark.operators.components",
            fromlist=["sql_salsa"],
        ).sql_salsa(
            "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 + doc_id) "
            "% 29 AS VARCHAR) AS dst FROM documents"
        ),
        "bursts": __import__(
            "pdf_extraction_spark.operators.forensics",
            fromlist=["sql_kleinberg_bursts"],
        ).sql_kleinberg_bursts("events", min_events=5),
        "harmonic": _harmonic_sql(),
        "snippets": __import__(
            "pdf_extraction_spark.operators.retrieval",
            fromlist=["sql_snippet_best_window"],
        ).sql_snippet_best_window(
            "documents", ["table", "join", "window"], window=12
        ),
        "texttiles": __import__(
            "pdf_extraction_spark.operators.texttiling",
            fromlist=["sql_texttile"],
        ).sql_texttile("documents", w=10, k=3),
        "porter_stems": (
            "SELECT word, expected AS stem FROM "
            + _fixture("porter_sf0_01.parquet")
        ),
        "readability_panel": __import__(
            "pdf_extraction_spark.operators.textanalysis",
            fromlist=["sql_readability_panel"],
        ).sql_readability_panel("documents"),
        "compress_gate": (
            "SELECT doc_id, n_bytes, n_compressed, ratio_ppm FROM "
            + _fixture("compress_sf0_01.parquet")
        ),
        "yule_k": __import__(
            "pdf_extraction_spark.operators.textanalysis",
            fromlist=["sql_yule_k"],
        ).sql_yule_k("documents"),
        "modularity": _modularity_sql(),
        "link_predict": _link_predict_sql(),
        "bowtie": __import__(
            "pdf_extraction_spark.operators.graphstats",
            fromlist=["sql_bowtie"],
        ).sql_bowtie(
            "SELECT source AS src_host, 'src' || CAST((doc_id * doc_id * 5 "
            "+ doc_id) % 29 AS VARCHAR) AS dst_host FROM documents"
        ),
        "gate_map": _gate_map_sql(),
        "gate_kappa": _gate_kappa_sql(),
        "host_quota": (
            "SELECT host, url, rn AS admitted_no FROM ("
            "SELECT host, url, CAST(row_number() OVER (PARTITION BY host "
            "ORDER BY ts_us, url) AS BIGINT) AS rn FROM ("
            "SELECT 'h' || CAST(user_id % 7 AS VARCHAR) AS host, "
            "'u' || CAST(event_id AS VARCHAR) AS url, "
            "CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events "
            "WHERE ts IS NOT NULL AND user_id IS NOT NULL "
            "AND event_id IS NOT NULL)) WHERE rn <= 3"
        ),
        "good_turing": __import__(
            "pdf_extraction_spark.operators.terms",
            fromlist=["sql_good_turing"],
        ).sql_good_turing("documents"),
        "keyness": __import__(
            "pdf_extraction_spark.operators.terms",
            fromlist=["sql_keyness"],
        ).sql_keyness("documents", min_count=5, k=8),
        "nb_classify": __import__(
            "pdf_extraction_spark.operators.mlfilter",
            fromlist=["sql_naive_bayes"],
        ).sql_naive_bayes("documents"),
        "ams_f2": __import__(
            "pdf_extraction_spark.operators.sketches",
            fromlist=["sql_ams_f2"],
        ).sql_ams_f2(
            "SELECT word AS key FROM " + _WORD_SRC + " w"
        ),
        "host_katz": __import__(
            "pdf_extraction_spark.operators.components",
            fromlist=["sql_katz_centrality"],
        ).sql_katz_centrality(
            "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 "
            "+ doc_id) % 29 AS VARCHAR) AS dst FROM documents",
            n_iter=4,
            alpha_shift=5,
        ),
        "clean_bleu": _clean_bleu_sql(),
        "ks_drift": __import__(
            "pdf_extraction_spark.operators.mlfilter",
            fromlist=["sql_ks_test"],
        ).sql_ks_test("documents", "n_chars", "source"),
        "gate_mcnemar": _gate_mcnemar_sql(),
        "js_sources": __import__(
            "pdf_extraction_spark.operators.textanalysis",
            fromlist=["sql_js_divergence"],
        ).sql_js_divergence("documents"),
        "cusum_drift": __import__(
            "pdf_extraction_spark.operators.forensics",
            fromlist=["sql_cusum"],
        ).sql_cusum(
            "(SELECT event_id, user_id, ts, CASE WHEN value IS NOT NULL "
            "AND isfinite(value) AND abs(value) < 1e15 "
            "THEN CAST(round(value * 100) AS BIGINT) "
            "END AS v100 FROM events) ev",
            "v100", "user_id", "ts", "event_id",
            target=4960, allowance=1000, threshold=30000,
        ),
        "centroid_classify": __import__(
            "pdf_extraction_spark.operators.similarity",
            fromlist=["sql_centroid_classify"],
        ).sql_centroid_classify("embeddings"),
        "ct_langid": __import__(
            "pdf_extraction_spark.operators.textanalysis",
            fromlist=["sql_ct_langid"],
        ).sql_ct_langid(
            "(SELECT doc_id, lang, coalesce(text, '') || ' ' || "
            "repeat('m' || coalesce(lang, '') || ' ', 30) AS text "
            "FROM documents) a",
            k=40,
        ),
        "bigram_entropy": __import__(
            "pdf_extraction_spark.operators.textanalysis",
            fromlist=["sql_bigram_cond_entropy"],
        ).sql_bigram_cond_entropy("documents"),
        "burrows_delta": __import__(
            "pdf_extraction_spark.operators.textanalysis",
            fromlist=["sql_burrows_delta"],
        ).sql_burrows_delta("documents", k=30),
        "kmv_overlap": __import__(
            "pdf_extraction_spark.operators.sketches",
            fromlist=["sql_kmv_overlap"],
        ).sql_kmv_overlap(
            # the ngram_jaccard twin's shingle construction carrying
            # source (the source_overlap fragment, one home)
            "SELECT source AS grp, unnest(gs) AS v FROM ("
            "SELECT source, CASE WHEN len(w) >= 3 THEN "
            "list_distinct([array_to_string(w[i:i+2], ' ') "
            "FOR i IN range(1, len(w) - 1)]) "
            "WHEN len(w) > 0 THEN [array_to_string(w, ' ')] "
            "ELSE [] END AS gs FROM ("
            f"SELECT source, list_filter(string_split_regex("
            "lower(replace(replace(text, 'İ', 'i'), 'Σ', 'σ')), "
            f"'{WORD_SPLIT_RE}'), x -> x <> '') AS w FROM documents "
            "WHERE source IS NOT NULL))",
            k=64,
        ),
        "cooccur_rules": __import__(
            "pdf_extraction_spark.operators.terms",
            fromlist=["sql_cooccur_rules"],
        ).sql_cooccur_rules("documents", min_docs=20, k=30),
        "table_profile": __import__(
            "pdf_extraction_spark.operators.profile",
            fromlist=["sql_table_profile"],
        ).sql_table_profile(
            "documents", ["doc_id", "lang", "source", "n_chars"]
        ),
        "table_checks": __import__(
            "pdf_extraction_spark.operators.profile",
            fromlist=["sql_table_checks"],
        ).sql_table_checks(
            "documents",
            [
                {"type": "completeness", "column": "text", "min_ppm": 990000},
                {"type": "completeness", "column": "source", "min_ppm": 1000000},
                {"type": "uniqueness", "column": "doc_id"},
                {
                    "type": "in_set",
                    "column": "lang",
                    "values": ["en", "fr", "es", "de", "zh"],
                },
                {"type": "non_negative", "column": "n_chars"},
            ],
        ),
        "runs_test": __import__(
            "pdf_extraction_spark.operators.forensics",
            fromlist=["sql_runs_test"],
        ).sql_runs_test(
            "(SELECT event_id, user_id, ts, CASE WHEN value IS NOT NULL "
            "AND isfinite(value) AND abs(value) < 1e15 "
            "THEN CAST(round(value * 100) AS BIGINT) "
            "END AS v100 FROM events) ev",
            "v100", "user_id", "ts", "event_id",
            threshold=3459,
        ),
        "cramers_v": __import__(
            "pdf_extraction_spark.operators.mlfilter",
            fromlist=["sql_cramers_v"],
        ).sql_cramers_v("documents", "lang", "source"),
        "powerlaw_fit": __import__(
            "pdf_extraction_spark.operators.graphstats",
            fromlist=["sql_powerlaw_fit"],
        ).sql_powerlaw_fit(
            "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 "
            "+ doc_id) % 29 AS VARCHAR) AS dst FROM documents",
            k_mins=(1, 2, 5),
        ),
        "graph_summary": __import__(
            "pdf_extraction_spark.operators.graphstats",
            fromlist=["sql_graph_summary"],
        ).sql_graph_summary(
            "SELECT source AS src, 'src' || CAST((doc_id * doc_id * 5 "
            "+ doc_id) % 29 AS VARCHAR) AS dst FROM documents"
        ),
    }
    return sql


def _clean_bleu_sql() -> str:
    from pdf_extraction_spark.operators.curation import sql_refinedweb_flags
    from pdf_extraction_spark.operators.textanalysis import sql_bleu_pair

    aug = (
        "concat_ws(chr(10), coalesce(text, ''), upper(source), "
        "CAST(n_chars AS VARCHAR), '12 likes', 'Read More', "
        "'This closing line survives.')"
    )
    pair = (
        "SELECT rw.doc_id, rw.rw_text AS cand, a.ref "
        "FROM (" + sql_refinedweb_flags(aug, "doc_id") + ") rw "
        "JOIN (SELECT doc_id, " + aug + " AS ref FROM documents) a "
        "ON a.doc_id = rw.doc_id"
    )
    return sql_bleu_pair(pair, "cand", "ref")


def _rrf_fuse_sql() -> str:
    from pdf_extraction_spark.operators.fusion import (
        sql_rank_from_topk,
        sql_rrf_fuse,
    )
    from pdf_extraction_spark.operators.retrieval import sql_bm25_topk
    from pdf_extraction_spark.operators.topk import sql_cosine

    sem = (
        f"SELECT vec_id AS doc_id, {sql_cosine('embedding', _query_vec())} AS similarity "
        "FROM embeddings WHERE embedding IS NOT NULL "
        "ORDER BY similarity DESC, vec_id LIMIT 20"
    )
    return sql_rrf_fuse(
        [
            sql_rank_from_topk(
                sql_bm25_topk("documents", ["table", "join", "window"], k=20),
                "bm25",
                "doc_id",
            ),
            sql_rank_from_topk(sem, "similarity", "doc_id"),
        ],
        k0=60,
        k=10,
    )


def _gate_ndcg_sql() -> str:
    from pdf_extraction_spark.operators.fusion import sql_ndcg_at_k
    from pdf_extraction_spark.operators.retrieval import _sql_tokens

    toks = _sql_tokens("coalesce(text, '')", True)
    base = (
        "SELECT doc_id, n_chars AS score, "
        f"CAST(least(len(list_filter({toks}, x -> x = 'table')), 5) AS BIGINT) AS gain "
        "FROM documents"
    )
    return sql_ndcg_at_k(base, k=20)


def _gate_map_sql() -> str:
    from pdf_extraction_spark.operators.fusion import sql_avg_precision_at_k
    from pdf_extraction_spark.operators.retrieval import _sql_tokens

    toks = _sql_tokens("coalesce(text, '')", True)
    base = (
        "SELECT doc_id, n_chars AS score, "
        f"CAST(len(list_filter({toks}, x -> x = 'table')) AS BIGINT) AS gain "
        "FROM documents"
    )
    return sql_avg_precision_at_k(base, k=20)


def _gate_mcnemar_sql() -> str:
    from pdf_extraction_spark.operators.curation import _sql_lower_words
    from pdf_extraction_spark.operators.fusion import sql_gate_mcnemar

    w = _sql_lower_words("coalesce(text, '')")
    base = (
        f"SELECT len({w}) >= 30 AS a, "
        "coalesce(n_chars, 0) >= 120 AS b FROM documents"
    )
    return sql_gate_mcnemar(base)


def _gate_kappa_sql() -> str:
    from pdf_extraction_spark.operators.curation import _sql_lower_words
    from pdf_extraction_spark.operators.fusion import sql_cohen_kappa

    w = _sql_lower_words("coalesce(text, '')")
    base = (
        f"SELECT len({w}) >= 30 AS a, "
        "coalesce(n_chars, 0) >= 120 AS b FROM documents"
    )
    return sql_cohen_kappa(base)


def _rank_rbo_sql() -> str:
    from pdf_extraction_spark.operators.fusion import (
        sql_rank_from_topk,
        sql_rbo_overlap,
    )
    from pdf_extraction_spark.operators.retrieval import _sql_tokens

    toks = _sql_tokens("coalesce(text, '')", True)
    a = sql_rank_from_topk(
        "SELECT doc_id, n_chars AS s FROM documents ORDER BY s DESC, doc_id LIMIT 50",
        "s",
        "doc_id",
    )
    b = sql_rank_from_topk(
        f"SELECT doc_id, len({toks}) AS s FROM documents ORDER BY s DESC, doc_id LIMIT 50",
        "s",
        "doc_id",
    )
    return sql_rbo_overlap(a, b, p=0.9, depth=50)


def _cocite_sql(transpose: bool) -> str:
    from pdf_extraction_spark.operators.hostsim import sql_host_overlap
    from pdf_extraction_spark.operators.htmlgraph import sql_links_ctes

    key, item = ("dst_host", "src_host") if transpose else ("src_host", "dst_host")
    pairs = (
        "WITH "
        + sql_links_ctes(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        )
        + f" SELECT {key} AS key, {item} AS item FROM links "
        "WHERE dst_host IS NOT NULL"
    )
    return sql_host_overlap(pairs, max_degree=64, min_shared=2, k=20)


def _mirror_sql() -> str:
    from pdf_extraction_spark.operators.hostsim import sql_host_overlap

    pairs = (
        "SELECT md5(coalesce(text, '')) AS key, source AS item FROM documents "
        "UNION ALL "
        "SELECT md5(coalesce(text, '')) AS key, source || '-m' AS item "
        "FROM documents WHERE doc_id % 3 = 0"
    )
    return sql_host_overlap(pairs, max_degree=64, min_shared=2, k=20)


def _hyperball_sql() -> str:
    from pdf_extraction_spark.operators.graphstats import sql_hyperball_r2
    from pdf_extraction_spark.operators.htmlgraph import sql_links_ctes

    edges = (
        "WITH "
        + sql_links_ctes(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        )
        + " SELECT src_host, dst_host FROM links WHERE dst_host IS NOT NULL"
    )
    return sql_hyperball_r2(edges)


def _host_triangles_sql() -> str:
    from pdf_extraction_spark.operators.graphstats import sql_triangle_stats
    from pdf_extraction_spark.operators.htmlgraph import sql_links_ctes

    edges = (
        "WITH "
        + sql_links_ctes(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        )
        + " SELECT src_host, dst_host FROM links WHERE dst_host IS NOT NULL"
    )
    return sql_triangle_stats(edges)


def _host_kcore_sql() -> str:
    from pdf_extraction_spark.operators.graphstats import sql_kcore
    from pdf_extraction_spark.operators.htmlgraph import sql_links_ctes

    edges = (
        "WITH "
        + sql_links_ctes(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        )
        + " SELECT src_host, dst_host FROM links WHERE dst_host IS NOT NULL"
    )
    return sql_kcore(edges, k=3, n_rounds=4)


def _host_assort_sql() -> str:
    from pdf_extraction_spark.operators.graphstats import sql_assortativity
    from pdf_extraction_spark.operators.htmlgraph import sql_links_ctes

    edges = (
        "WITH "
        + sql_links_ctes(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        )
        + " SELECT src_host, dst_host FROM links WHERE dst_host IS NOT NULL"
    )
    return sql_assortativity(edges)


def _harmonic_sql() -> str:
    from pdf_extraction_spark.operators.graphstats import sql_harmonic_centrality
    from pdf_extraction_spark.operators.htmlgraph import sql_links_ctes

    edges = (
        "WITH "
        + sql_links_ctes(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        )
        + " SELECT src_host, dst_host FROM links WHERE dst_host IS NOT NULL"
    )
    return sql_harmonic_centrality(edges, r_max=3)


def _modularity_sql() -> str:
    from pdf_extraction_spark.operators.components import (
        sql_label_propagation,
        sql_modularity,
    )

    edges = (
        "SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src, "
        "'h' || CAST((doc_id % 40) // 10 * 10 + "
        "((doc_id % 40) % 10 + 1 + doc_id % 7) % 10 AS VARCHAR) AS dst "
        "FROM documents "
        "UNION ALL SELECT 'h' || CAST((doc_id % 4) * 10 AS VARCHAR), "
        "'h' || CAST(((doc_id % 4 + 1) % 4) * 10 AS VARCHAR) "
        "FROM documents WHERE doc_id % 97 = 0"
    )
    labels = sql_label_propagation(edges, n_iter=5)
    return sql_modularity(edges, labels)


def _link_predict_sql() -> str:
    from pdf_extraction_spark.operators.graphstats import sql_adamic_adar
    from pdf_extraction_spark.operators.htmlgraph import sql_links_ctes

    edges = (
        "WITH "
        + sql_links_ctes(
            "(SELECT doc_id, " + _LINKS_URL + " AS url, "
            + _LINKS_AUG + " AS html FROM documents)"
        )
        + " SELECT src_host, dst_host FROM links WHERE dst_host IS NOT NULL"
    )
    return sql_adamic_adar(edges, max_degree=64, k=20)
