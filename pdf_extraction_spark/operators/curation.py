"""Web-corpus curation operators beyond the reference: Gopher-style
repetition/quality rules, corpus-level line dedup, PII scrubbing, and
deterministic stratified sampling.

These are the standard published building blocks of LLM training-data
pipelines (Gopher quality heuristics — Rae et al. 2021 §A1.1; CCNet /
C4-style line-level boilerplate dedup; C4 PII masking; hash-based
deterministic sampling). All are native Catalyst expressions — no
Python in the hot path — and every one has an exact DuckDB twin
(``sql_*`` helpers) for the oracle gate.

Scale shapes:
- gopher flags / PII scrub: narrow maps, fully codegen'd, shuffle-free.
- line dedup: explode → ONE shuffle on the md5 line key (128-bit — at
  10^12 lines a 64-bit key would collide) → anti-join → per-doc
  rebuild. The frequency side is NOT broadcast: the dup-line set is
  corpus-sized at web scale.
- sampling: stateless per-row hash predicate — embarrassingly parallel,
  reproducible across engines/runs, prunable by Catalyst.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Gopher-style quality rules (public thresholds, Rae et al. 2021 §A1.1)
# --------------------------------------------------------------------------

GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_PARA_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_DUP_PARA_CHAR_FRAC = 0.20
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.10
GOPHER_MAX_BULLET_LINE_FRAC = 0.90
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.30
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80

# Java's \s is [ \t\n\x0B\f\r]; RE2's omits \x0B. Every twin regex that
# splits or skips whitespace spells the Java set explicitly so both
# engines agree on EVERY input, vertical tabs included (same fix class
# as PARA_SPLIT_RE below). Classes live in kernels.wsre (measured sets).
from ..kernels.wsre import JAVA_WS as _WS
from ..kernels.wsre import JAVA_WS_SPLIT as WORD_SPLIT_RE

_SYMBOL_RE = r"#|\.\.\.|…"
_BULLET_RE = rf"^{_WS}*[-*•]"
# \z not $: Java's $ also matches before a FINAL NEL/LS/PS line
# terminator, RE2's does not — \z is absolute-end in both engines
_ELLIPSIS_END_RE = rf"(\.\.\.|…){_WS}*\z"
_ALPHA_RE = r"[A-Za-z]"


def _nonempty_lines(c: Column) -> Column:
    return F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != F.lit(""))


def _words(c: Column) -> Column:
    return F.filter(F.split(c, WORD_SPLIT_RE), lambda w: w != F.lit(""))


def _lower_words(c: Column) -> Column:
    """Shared tokenization for the word-n-gram repetition rules.

    Two Unicode case-mapping special cases are pre-mapped because the
    engines pick different sides of them (both caught by the
    case-folding parity fuzz, tests/test_regex_parity_fuzz.py):

    - İ (U+0130, Turkish dotted capital I) — Unicode's one one-to-many
      lowercase mapping: Java/ICU lower() emits ``i`` + combining dot
      (full mapping), DuckDB emits ``i`` (simple mapping);
    - Σ (U+03A3) — Java applies the Greek final-sigma CONTEXTUAL rule
      (word-final Σ → ς, else σ) while DuckDB always emits σ.

    Pre-mapping İ→i and Σ→σ on BOTH engines' inputs removes the
    context/width sensitivity; for word KEYS the dot and the
    final-form distinction carry no signal (ς that arrives already
    lowercase is left alone — both engines preserve it)."""
    return F.filter(
        F.split(F.lower(F.translate(c, "İΣ", "iσ")), WORD_SPLIT_RE),
        lambda w: w != F.lit(""),
    )


def _sql_lower_words(tx: str) -> str:
    """DuckDB fragment twin of :func:`_lower_words` (same İ/Σ pre-map —
    DuckDB's lower() already takes the simple non-contextual mappings,
    but the explicit replaces keep the two fragments parallel and
    future-proof against DuckDB adopting full/contextual case maps)."""
    return (
        "list_filter(string_split_regex(lower("
        f"replace(replace({tx}, 'İ', 'i'), 'Σ', 'σ')), "
        f"'{WORD_SPLIT_RE}'), x -> x <> '')"
    )


def _sql_grams(n: int) -> str:
    """DuckDB fragment: word ``n``-grams with 0-based start index ``i0``
    from a CTE ``t(doc_id, w)`` — shared by both n-gram repetition
    twins so gram construction can't drift between them."""
    return (
        f"SELECT doc_id, i - 1 AS i0, array_to_string(w[i:i+{n - 1}], ' ') AS gram "
        f"FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {n - 1})) AS i "
        f"FROM t WHERE len(w) >= {n})"
    )


def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0), lambda acc, x: acc + F.length(x))


def with_gopher_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc repetition/quality signals + the combined pass flag.

    Columns: dup_line_frac, dup_para_frac, dup_line_char_frac,
    dup_para_char_frac, symbol_word_ratio, bullet_line_frac,
    ellipsis_line_frac, alpha_word_frac (all rounded to 4), gopher_pass.

    The four duplicate fractions are Gopher §A1.1's full repetition set
    at line/paragraph granularity: count fractions are repeats beyond
    the first occurrence over total units; char fractions count the
    characters of those repeat occurrences over the characters of all
    units (unit lengths, separator-agnostic) — computed shuffle-free via
    the identity repeat_chars = total_chars − distinct_chars.

    Total on NULL text (treated as empty — one bad crawl row must not
    produce NULL flags that silently drop from boolean filters).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = _nonempty_lines(c)
    n_lines = F.size(lines)
    safe_lines = F.greatest(n_lines, F.lit(1))
    words = _words(c)
    safe_words = F.greatest(F.size(words), F.lit(1))
    paras = F.filter(
        F.split(c, PARA_SPLIT_RE), lambda p: F.trim(p) != F.lit("")
    )
    n_paras = F.size(paras)
    safe_paras = F.greatest(n_paras, F.lit(1))

    dup_line = F.round(
        (n_lines - F.size(F.array_distinct(lines))) / safe_lines, 4
    )
    dup_para = F.round(
        (n_paras - F.size(F.array_distinct(paras))) / safe_paras, 4
    )
    dup_line_char = F.round(
        (_sum_lengths(lines) - _sum_lengths(F.array_distinct(lines)))
        / F.greatest(_sum_lengths(lines), F.lit(1)),
        4,
    )
    dup_para_char = F.round(
        (_sum_lengths(paras) - _sum_lengths(F.array_distinct(paras)))
        / F.greatest(_sum_lengths(paras), F.lit(1)),
        4,
    )
    symbol_ratio = F.round(
        F.size(F.regexp_extract_all(c, F.lit(_SYMBOL_RE), F.lit(0))) / safe_words, 4
    )
    bullet = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE))) / safe_lines, 4
    )
    ellipsis = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_END_RE))) / safe_lines, 4
    )
    alpha = F.round(
        F.size(F.filter(words, lambda w: w.rlike(_ALPHA_RE))) / safe_words, 4
    )

    out = (
        df.withColumn("dup_line_frac", dup_line)
        .withColumn("dup_para_frac", dup_para)
        .withColumn("dup_line_char_frac", dup_line_char)
        .withColumn("dup_para_char_frac", dup_para_char)
        .withColumn("symbol_word_ratio", symbol_ratio)
        .withColumn("bullet_line_frac", bullet)
        .withColumn("ellipsis_line_frac", ellipsis)
        .withColumn("alpha_word_frac", alpha)
    )
    return out.withColumn(
        "gopher_pass",
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("dup_para_frac") <= GOPHER_MAX_DUP_PARA_FRAC)
        & (F.col("dup_line_char_frac") <= GOPHER_MAX_DUP_LINE_CHAR_FRAC)
        & (F.col("dup_para_char_frac") <= GOPHER_MAX_DUP_PARA_CHAR_FRAC)
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_WORD_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_LINE_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC),
    )


def sql_gopher_flags(text_expr: str, id_expr: str = "doc_id") -> str:
    """DuckDB twin of with_gopher_flags (identical regexes — all chosen
    RE2∩Java-compatible — identical rounding, and the same
    total−distinct identity for the char fractions)."""
    sym = _SYMBOL_RE.replace("'", "''")
    para_split = PARA_SPLIT_RE.replace("'", "''")
    text_expr = f"coalesce({text_expr}, '')"  # total on NULL, like the operator
    chars = "coalesce(list_sum(list_transform({0}, x -> length(x))), 0)"
    return (
        f"WITH g AS (SELECT {id_expr} AS doc_id, {text_expr} AS t, "
        f"list_filter(string_split({text_expr}, chr(10)), l -> trim(l) <> '') AS lines, "
        f"list_filter(string_split_regex({text_expr}, '{para_split}'), p -> trim(p) <> '') AS paras, "
        f"list_filter(string_split_regex({text_expr}, '{WORD_SPLIT_RE}'), w -> w <> '') AS words FROM documents), "
        "m AS (SELECT doc_id, "
        "greatest(len(lines), 1) AS sl, greatest(len(words), 1) AS sw, "
        "greatest(len(paras), 1) AS sp, "
        "len(lines) AS nl, "
        "len(lines) - len(list_distinct(lines)) AS ndup, "
        "len(paras) - len(list_distinct(paras)) AS ndup_p, "
        f"{chars.format('lines')} - {chars.format('list_distinct(lines)')} AS dupc_l, "
        f"greatest({chars.format('lines')}, 1) AS slc, "
        f"{chars.format('paras')} - {chars.format('list_distinct(paras)')} AS dupc_p, "
        f"greatest({chars.format('paras')}, 1) AS spc, "
        f"len(regexp_extract_all(t, '{sym}')) AS nsym, "
        f"len(list_filter(lines, l -> regexp_matches(l, '{_BULLET_RE}'))) AS nbul, "
        f"len(list_filter(lines, l -> regexp_matches(l, '{_ELLIPSIS_END_RE}'))) AS nell, "
        f"len(list_filter(words, w -> regexp_matches(w, '{_ALPHA_RE}'))) AS nalpha "
        "FROM g) "
        "SELECT doc_id, "
        "round(CAST(ndup AS DOUBLE) / sl, 4) AS dup_line_frac, "
        "round(CAST(ndup_p AS DOUBLE) / sp, 4) AS dup_para_frac, "
        "round(CAST(dupc_l AS DOUBLE) / slc, 4) AS dup_line_char_frac, "
        "round(CAST(dupc_p AS DOUBLE) / spc, 4) AS dup_para_char_frac, "
        "round(CAST(nsym AS DOUBLE) / sw, 4) AS symbol_word_ratio, "
        "round(CAST(nbul AS DOUBLE) / sl, 4) AS bullet_line_frac, "
        "round(CAST(nell AS DOUBLE) / sl, 4) AS ellipsis_line_frac, "
        "round(CAST(nalpha AS DOUBLE) / sw, 4) AS alpha_word_frac, "
        f"(round(CAST(ndup AS DOUBLE) / sl, 4) <= {GOPHER_MAX_DUP_LINE_FRAC} "
        f"AND round(CAST(ndup_p AS DOUBLE) / sp, 4) <= {GOPHER_MAX_DUP_PARA_FRAC} "
        f"AND round(CAST(dupc_l AS DOUBLE) / slc, 4) <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC} "
        f"AND round(CAST(dupc_p AS DOUBLE) / spc, 4) <= {GOPHER_MAX_DUP_PARA_CHAR_FRAC} "
        f"AND round(CAST(nsym AS DOUBLE) / sw, 4) <= {GOPHER_MAX_SYMBOL_WORD_RATIO} "
        f"AND round(CAST(nbul AS DOUBLE) / sl, 4) <= {GOPHER_MAX_BULLET_LINE_FRAC} "
        f"AND round(CAST(nell AS DOUBLE) / sl, 4) <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC} "
        f"AND round(CAST(nalpha AS DOUBLE) / sw, 4) >= {GOPHER_MIN_ALPHA_WORD_FRAC}) AS gopher_pass "
        "FROM m"
    )


def top_ngram_char_frac(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Gopher §A1.1 repetition rule: the fraction of a document's
    characters contained in its most frequent word ``n``-gram —
    ``count(top gram) × len(top gram) / len(text)``. Returns
    (doc_id, top_gram, top_ngram_char_frac); docs with < n tokens get
    frac 0 and a NULL gram. Total on NULL text.

    Scale shape: gram explode → count shuffle on (doc_id, gram) → the
    per-doc winner via a map-side-combinable ``max(struct(cnt, gram))``
    (count desc, gram desc tie-break — same combinable-winner pattern
    as dedup_lines_keep_first, never a single-reducer window)."""
    tx = F.coalesce(F.col(text_col), F.lit(""))
    toks = _lower_words(tx)
    grams_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(tx).alias("n_chars"),
        grams_arr.alias("grams"),
    )
    counts = (
        base.select("doc_id", F.explode("grams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    winners = counts.groupBy("doc_id").agg(
        F.max(F.struct("cnt", "gram")).alias("top")
    )
    return (
        base.select("doc_id", "n_chars")
        .join(winners, "doc_id", "left")
        .select(
            "doc_id",
            F.col("top.gram").alias("top_gram"),
            F.round(
                F.coalesce(
                    F.col("top.cnt") * F.length("top.gram"), F.lit(0)
                ) / F.greatest(F.col("n_chars"), F.lit(1)),
                6,
            ).alias("top_ngram_char_frac"),
        )
    )


def sql_top_ngram_char_frac(n: int = 2, text_expr: str = "text") -> str:
    """DuckDB twin: same gram construction, the per-doc winner via a
    window rank mirroring the max(struct) ordering (cnt desc, gram
    desc)."""
    tx = f"coalesce({text_expr}, '')"
    return (
        f"WITH t AS (SELECT doc_id, length({tx}) AS n_chars, "
        f"{_sql_lower_words(tx)} AS w "
        "FROM documents), "
        f"g AS ({_sql_grams(n)}), "
        "c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram), "
        "win AS (SELECT doc_id, gram, cnt FROM ("
        "SELECT doc_id, gram, cnt, row_number() OVER ("
        "PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rk FROM c) WHERE rk = 1) "
        "SELECT t.doc_id, win.gram AS top_gram, "
        "round(CAST(coalesce(win.cnt * length(win.gram), 0) AS DOUBLE) / "
        "greatest(t.n_chars, 1), 6) AS top_ngram_char_frac "
        "FROM t LEFT JOIN win ON t.doc_id = win.doc_id"
    )


def dup_ngram_char_frac(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Gopher §A1.1 repetition rule, the *duplicate* n-gram family
    (n = 5…10 in the paper): fraction of a document's characters covered
    by word n-grams that occur more than once within the document.

    Character spans are UNIONed — a token covered by several duplicate
    grams (or several occurrences of the same gram) counts once, which
    is the paper's "fraction of characters contained in duplicate
    n-grams" rather than a double-counting sum. Numerator and
    denominator both count non-whitespace characters (token lengths), so
    the measure is separator-agnostic and identical across engines.
    Docs with < n tokens (and NULL text) get 0.

    Scale shape: tokens and gram occurrences are narrow posexplodes; the
    duplicate test is ONE shuffle on (doc_id, gram) — the window key
    includes doc_id, so no corpus-global hot key exists; covered token
    positions dedup on (doc_id, idx) and re-join the token table on the
    same key. Everything is native Catalyst — no Python.
    """
    from pyspark.sql import Window

    tx = F.coalesce(F.col(text_col), F.lit(""))
    toks = _lower_words(tx)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    totals = base.select(
        "doc_id",
        F.aggregate("toks", F.lit(0), lambda acc, w: acc + F.length(w)).alias(
            "tot_chars"
        ),
    )
    toktbl = base.select("doc_id", F.posexplode("toks").alias("idx", "tok"))
    grams = base.filter(F.size("toks") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
            )
        ).alias("i", "gram"),
    )
    dup_occ = grams.withColumn(
        "cnt", F.count("*").over(Window.partitionBy("doc_id", "gram"))
    ).filter(F.col("cnt") >= 2)
    covered = dup_occ.select(
        "doc_id",
        F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias("idx"),
    ).distinct()
    cov_chars = (
        covered.join(toktbl, ["doc_id", "idx"])
        .groupBy("doc_id")
        .agg(F.sum(F.length("tok")).alias("cov_chars"))
    )
    return (
        totals.join(cov_chars, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("cov_chars"), F.lit(0))
                / F.greatest(F.col("tot_chars"), F.lit(1)),
                6,
            ).alias("dup_ngram_char_frac"),
        )
    )


def sql_dup_ngram_char_frac(n: int = 3, text_expr: str = "text") -> str:
    """DuckDB twin: same tokenization, gram construction, per-doc
    duplicate-count window, span union, and character accounting."""
    tx = f"coalesce({text_expr}, '')"
    return (
        f"WITH t AS (SELECT doc_id, "
        f"{_sql_lower_words(tx)} AS w "
        "FROM documents), "
        "tot AS (SELECT doc_id, "
        "coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS tot_chars FROM t), "
        "tok AS (SELECT doc_id, i - 1 AS idx, w[i] AS tok FROM ("
        "SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM t)), "
        f"g AS ({_sql_grams(n)}), "
        "d AS (SELECT doc_id, i0 FROM ("
        "SELECT doc_id, i0, count(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM g) "
        "WHERE cnt >= 2), "
        f"cov AS (SELECT DISTINCT doc_id, i0 + unnest(generate_series(0, {n - 1})) AS idx "
        "FROM d), "
        "cc AS (SELECT cov.doc_id, sum(length(tok.tok)) AS cov_chars "
        "FROM cov JOIN tok ON cov.doc_id = tok.doc_id AND cov.idx = tok.idx "
        "GROUP BY cov.doc_id) "
        "SELECT tot.doc_id, "
        "round(CAST(coalesce(cc.cov_chars, 0) AS DOUBLE) / greatest(tot.tot_chars, 1), 6) "
        "AS dup_ngram_char_frac "
        "FROM tot LEFT JOIN cc ON tot.doc_id = cc.doc_id"
    )


# --------------------------------------------------------------------------
# corpus-level line dedup (CCNet / C4-style boilerplate removal)
# --------------------------------------------------------------------------

# Blank-line paragraph separator, spelled with explicit ASCII classes so
# Java (Spark) and RE2 (DuckDB) agree — Java's \s includes \x0B, RE2's
# doesn't. Handles 2+ consecutive blank lines and space-padded blanks.
PARA_SPLIT_RE = r"\n[ \t\r]*\n(?:[ \t\r]*\n)*"


def _exploded_lines(
    df: DataFrame, text_col: str, id_col: str, split_re: str = r"\n"
) -> DataFrame:
    """Shared unit-dedup scaffolding: (doc_id, line_no, line, line_key)
    with whitespace-only units dropped and a 128-bit normalized key.
    ``split_re`` picks the unit: a newline for lines (default),
    :data:`PARA_SPLIT_RE` for blank-line-separated paragraphs."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), split_re)
            ).alias("line_no", "line"),
        )
        .filter(F.trim(F.col("line")) != "")
        .withColumn("line_key", F.md5(F.lower(F.trim(F.col("line")))))
    )


def _rebuild_docs(
    df: DataFrame,
    id_col: str,
    lines: DataFrame,
    kept: DataFrame,
    joiner: str = "\n",
) -> DataFrame:
    """Shared rebuild: surviving lines in original order, total on every
    input row — (doc_id, clean_text, n_lines_kept, n_lines_removed)."""
    n_total = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(
            lines.groupBy("doc_id").agg(F.count("*").alias("n_lines_total")),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("n_lines_total", F.lit(0)).alias("n_lines_total"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda x: x["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    return (
        n_total.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (F.col("n_lines_total") - F.coalesce("n_lines_kept", F.lit(0))).alias(
                "n_lines_removed"
            ),
        )
    )


def _dedup_units(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_occurrences: int,
    split_re: str,
    joiner: str,
) -> DataFrame:
    """Shared remove-all-copies core for line/paragraph dedup: drop every
    unit whose normalized key occurs ≥ ``min_occurrences`` corpus-wide,
    rebuild docs from the survivors in original order."""
    units = _exploded_lines(df, text_col, id_col, split_re=split_re)
    boilerplate = (
        units.groupBy("line_key")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= min_occurrences)
        .select("line_key")
    )
    kept = units.join(boilerplate, "line_key", "left_anti")
    return _rebuild_docs(df, id_col, units, kept, joiner=joiner)


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occurrences: int = 2,
) -> DataFrame:
    """Remove lines whose normalized form (lower+trim) occurs ≥
    ``min_occurrences`` times across the corpus; rebuild each doc from
    its surviving lines in original order.

    Returns (doc_id, clean_text, n_lines_kept, n_lines_removed) — one
    row per input row, always (total on NULL/empty text: such docs come
    back with clean_text='' rather than vanishing).
    One shuffle on the 128-bit line key + one anti-join + one per-doc
    rebuild shuffle. Whitespace-only lines are dropped up front."""
    return _dedup_units(df, text_col, id_col, min_occurrences, r"\n", "\n")


def dedup_lines_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The OTHER canonical corpus line-dedup semantic (C4-style): keep
    exactly ONE copy of every normalized line corpus-wide — the first by
    (doc_id, line_no) — and drop the rest. (:func:`dedup_lines` removes
    ALL copies of boilerplate lines; keep-first preserves the content
    once.)

    Scale shape: the winner per line key is found with a
    ``min(struct(doc_id, line_no))`` aggregation — map-side combinable,
    so a universal boilerplate line (billions of copies at 100 TB) costs
    one partial-aggregated shuffle, NOT a single-reducer window rank.
    Same rebuild/return contract as dedup_lines."""
    lines = _exploded_lines(df, text_col, id_col)
    first = lines.groupBy("line_key").agg(
        F.min(F.struct("doc_id", "line_no")).alias("first")
    )
    kept = (
        lines.join(first, "line_key")
        .filter(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("line_no") == F.col("first.line_no"))
        )
        .drop("first")
    )
    return _rebuild_docs(df, id_col, lines, kept)


def sql_dedup_lines_keep_first() -> str:
    """DuckDB twin of dedup_lines_keep_first: the keep-first winner is
    recomputed with a window rank (oracle-scale only; the Spark plan
    uses the combinable min-struct aggregation instead)."""
    return (
        "WITH lines AS (SELECT doc_id, i - 1 AS line_no, l AS line, "
        "md5(lower(trim(l))) AS line_key FROM ("
        "SELECT doc_id, unnest(string_split(coalesce(text, ''), chr(10))) AS l, "
        "unnest(generate_series(1, len(string_split(coalesce(text, ''), chr(10))))) AS i "
        "FROM documents) WHERE trim(l) <> ''), "
        "kept AS (SELECT doc_id, line_no, line FROM ("
        "SELECT *, row_number() OVER (PARTITION BY line_key ORDER BY doc_id, line_no) AS rk "
        "FROM lines) WHERE rk = 1), "
        "totals AS (SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_lines_total "
        "FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS n FROM lines GROUP BY doc_id) c "
        "ON d.doc_id = c.doc_id), "
        "rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean_text, "
        "count(*) AS n_lines_kept FROM kept GROUP BY doc_id) "
        "SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text, "
        "CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept, "
        "CAST(t.n_lines_total - coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_removed "
        "FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id"
    )


def _sql_dedup_units(
    split_sql: str, min_occurrences: int, joiner_sql: str, unit: str
) -> str:
    """DuckDB twin builder of :func:`_dedup_units`. ``split_sql`` is a
    format string over ``{t}`` (the coalesced text expr), ``joiner_sql``
    a SQL expression for the rebuild separator, ``unit`` the
    kept/removed column infix (``lines``/``paras``)."""
    sp = split_sql.format(t="coalesce(text, '')")
    return (
        "WITH units AS (SELECT doc_id, i - 1 AS line_no, u AS line, "
        "md5(lower(trim(u))) AS line_key FROM ("
        f"SELECT doc_id, unnest({sp}) AS u, "
        f"unnest(generate_series(1, len({sp}))) AS i "
        "FROM documents) WHERE trim(u) <> ''), "
        "boiler AS (SELECT line_key FROM units GROUP BY line_key "
        f"HAVING count(*) >= {min_occurrences}), "
        "kept AS (SELECT * FROM units WHERE line_key NOT IN (SELECT line_key FROM boiler)), "
        "totals AS (SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_total "
        "FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS n FROM units GROUP BY doc_id) c "
        "ON d.doc_id = c.doc_id), "
        f"rebuilt AS (SELECT doc_id, string_agg(line, {joiner_sql} ORDER BY line_no) AS clean_text, "
        "count(*) AS n_kept FROM kept GROUP BY doc_id) "
        "SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text, "
        f"CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_{unit}_kept, "
        f"CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_{unit}_removed "
        "FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id"
    )


def sql_dedup_lines(min_occurrences: int = 2) -> str:
    """DuckDB twin of dedup_lines over the ``documents`` view."""
    return _sql_dedup_units(
        "string_split({t}, chr(10))", min_occurrences, "chr(10)", "lines"
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occurrences: int = 2,
) -> DataFrame:
    """Paragraph-granularity corpus dedup (the RefinedWeb / Dolma
    companion to :func:`dedup_lines`): units are blank-line-separated
    paragraphs, normalized lower+trim, and every paragraph whose 128-bit
    key occurs ≥ ``min_occurrences`` times corpus-wide is removed from
    every doc. Docs are rebuilt from surviving paragraphs in original
    order, re-joined with a single blank line.

    Returns (doc_id, clean_text, n_paras_kept, n_paras_removed), one row
    per input row (total on NULL/empty text). Same scale shape as
    dedup_lines — ONE shuffle on the 128-bit paragraph key, an anti-join
    (the dup set is corpus-sized at web scale, never broadcast), one
    per-doc rebuild shuffle."""
    return _dedup_units(
        df, text_col, id_col, min_occurrences, PARA_SPLIT_RE, "\n\n"
    ).select(
        "doc_id",
        "clean_text",
        F.col("n_lines_kept").alias("n_paras_kept"),
        F.col("n_lines_removed").alias("n_paras_removed"),
    )


def sql_dedup_paragraphs(min_occurrences: int = 2) -> str:
    """DuckDB twin of dedup_paragraphs: same split regex (RE2∩Java by
    construction), normalization, threshold, and blank-line rebuild."""
    split = PARA_SPLIT_RE.replace("'", "''")
    return _sql_dedup_units(
        f"string_split_regex({{t}}, '{split}')",
        min_occurrences,
        "chr(10) || chr(10)",
        "paras",
    )


def host_boilerplate_strip(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "source",
    min_docs: int = 3,
) -> DataFrame:
    """HOST-scoped template removal — the navigation/footer/cookie-banner
    complement to corpus-wide :func:`dedup_lines`: a line whose normalized
    form (lower+trim) appears on ≥ ``min_docs`` DISTINCT documents of the
    SAME host is that host's page template and is stripped from every doc
    of the host. The same line on a different host is counted separately —
    a phrase used once per site across a million sites is content, not
    boilerplate, and survives (corpus-wide dedup_lines would remove it).

    NULL hosts group as one key (coalesce to ''), matching the DuckDB
    twin. Returns the dedup_lines contract: (doc_id, clean_text,
    n_lines_kept, n_lines_removed), one row per input row.

    Scale shape: countDistinct expands to two map-side-combinable
    aggregations keyed (host, line_key, doc_id) → (host, line_key), so a
    banner on 10^9 pages of one host ships as partial rows, never a
    single-reducer funnel; the anti-join is co-keyed on the same
    (host, line_key) pair. No window, no Python, no broadcast of the
    (host-count-sized) template set."""
    units = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(host_col), F.lit("")).alias("host"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n")
            ).alias("line_no", "line"),
        )
        .filter(F.trim(F.col("line")) != "")
        .withColumn("line_key", F.md5(F.lower(F.trim(F.col("line")))))
    )
    template = (
        units.groupBy("host", "line_key")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("host", "line_key")
    )
    kept = units.join(template, ["host", "line_key"], "left_anti")
    return _rebuild_docs(df, id_col, units, kept)


def sql_host_boilerplate(
    min_docs: int = 3, rel: str = "documents", host_expr: str = "source"
) -> str:
    """DuckDB twin of :func:`host_boilerplate_strip` over ``rel``
    (same normalization, per-host distinct-doc threshold, anti-join and
    ordered rebuild)."""
    return (
        "WITH units AS (SELECT doc_id, host, i - 1 AS line_no, u AS line, "
        "md5(lower(trim(u))) AS line_key FROM ("
        f"SELECT doc_id, coalesce({host_expr}, '') AS host, "
        "unnest(string_split(coalesce(text, ''), chr(10))) AS u, "
        "unnest(generate_series(1, len(string_split(coalesce(text, ''), chr(10))))) AS i "
        f"FROM {rel}) WHERE trim(u) <> ''), "
        "template AS (SELECT host, line_key FROM units GROUP BY host, line_key "
        f"HAVING count(DISTINCT doc_id) >= {min_docs}), "
        "kept AS (SELECT u.* FROM units u LEFT JOIN template t "
        "ON u.host = t.host AND u.line_key = t.line_key WHERE t.line_key IS NULL), "
        "totals AS (SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_lines_total "
        f"FROM {rel} d LEFT JOIN (SELECT doc_id, count(*) AS n FROM units GROUP BY doc_id) c "
        "ON d.doc_id = c.doc_id), "
        "rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean_text, "
        "count(*) AS n_kept FROM kept GROUP BY doc_id) "
        "SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text, "
        "CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_kept, "
        "CAST(t.n_lines_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_removed "
        "FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id"
    )


# --------------------------------------------------------------------------
# PII scrubbing (C4-style masking, sequential passes)
# --------------------------------------------------------------------------

# Cross-engine patterns. Email and phone are lookaround-free and
# engine-identical. The IPv4 boundary needs care: Java's \b is
# Unicode-aware (even without (?U)) while RE2's \b is ASCII, so the
# Spark side spells the RE2-\b semantics out explicitly with ASCII-class
# lookarounds (Java supports them; zero-width, so adjacent IPs and
# extract_all counts are unaffected) and the DuckDB twin keeps RE2's \b
# — the two are now equivalent on EVERY input, including an accented
# letter glued to an IP ("ü1.2.3.4" masks in both).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"(?<![0-9A-Za-z_])\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(?![0-9A-Za-z_])"
PII_IPV4_RE2 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d().\- ]{7,}\d"


def scrub_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Mask emails → IPv4s → phones (in that order, each pass on the
    previous pass's output, so counts are disjoint). Returns
    (doc_id, scrubbed, n_emails, n_ips, n_phones). Total on NULL text
    (treated as empty)."""
    t0 = F.coalesce(F.col(text_col), F.lit(""))
    n_email = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL), F.lit(0)))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    n_ip = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4), F.lit(0)))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_phone = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE), F.lit(0)))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        t3.alias("scrubbed"),
        n_email.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_phone.alias("n_phones"),
    )


def sql_scrub_pii(text_expr: str = "text", id_expr: str = "doc_id") -> str:
    def esc(p):
        return p.replace("'", "''")

    em, ip, ph = esc(PII_EMAIL), esc(PII_IPV4_RE2), esc(PII_PHONE)
    return (
        f"WITH s0 AS (SELECT {id_expr} AS doc_id, coalesce({text_expr}, '') AS t0 FROM documents), "
        f"s1 AS (SELECT doc_id, t0, CAST(len(regexp_extract_all(t0, '{em}')) AS INT) AS n_emails, "
        f"regexp_replace(t0, '{em}', '<EMAIL>', 'g') AS t1 FROM s0), "
        f"s2 AS (SELECT doc_id, n_emails, CAST(len(regexp_extract_all(t1, '{ip}')) AS INT) AS n_ips, "
        f"regexp_replace(t1, '{ip}', '<IP>', 'g') AS t2 FROM s1), "
        f"s3 AS (SELECT doc_id, n_emails, n_ips, CAST(len(regexp_extract_all(t2, '{ph}')) AS INT) AS n_phones, "
        f"regexp_replace(t2, '{ph}', '<PHONE>', 'g') AS scrubbed FROM s2) "
        "SELECT doc_id, scrubbed, n_emails, n_ips, n_phones FROM s3"
    )


# --------------------------------------------------------------------------
# Credit-card PII (Luhn-validated masking)
# --------------------------------------------------------------------------

# Candidate = 13..19 digits joined by at most one space/hyphen between
# neighbours. RE2 has NO lookarounds, so (unlike the IPv4 pattern above,
# which can spell boundaries with Java lookaheads because its RE2 twin
# uses \b) the candidate scan here is boundary-free in BOTH engines and
# relies on the Luhn check to reject digit runs that are not card
# numbers. Both engines scan leftmost-greedy and resume AFTER a match,
# so a 32-digit run yields the same two candidates in each. A >19-digit
# run truncated at 19 by the quantifier is a documented heuristic FP
# *iff* its 19-digit prefix passes Luhn — identically in both engines.
# Dual limitation (pinned by test): digits glued onto the FRONT of a
# card through spaces/hyphens ("id16 4111...") extend the candidate
# leftward, the widened candidate fails Luhn, and the scan resumes past
# the real card — a deterministic false NEGATIVE, same in both engines.
CC_CANDIDATE_RE = r"[0-9](?:[ -]?[0-9]){12,18}"


def _luhn_ok(cand: Column) -> Column:
    """Luhn checksum over the separator-stripped candidate — pure
    integer HOF math (sequence + aggregate), bit-free of floats. The
    doubled positions are those at even distance-from-right-minus-one
    ((n - i) % 2 == 1 for 1-based i), i.e. every second digit leftward
    from the check digit."""
    c2 = F.regexp_replace(cand, "[ -]", "")
    n = F.length(c2)

    def term(s, i):
        d = F.ascii(F.substr(c2, i, F.lit(1))) - F.lit(48)
        doubled = F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
        return s + F.when((n - i) % 2 == 1, doubled).otherwise(d)

    total = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), term)
    return (total % 10 == 0) & (n >= 13) & (n <= 19)


def scrub_credit_cards(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask Luhn-valid card numbers with ``<CC>``; returns
    (doc_id, cc_masked, n_cc). Fully native (regexp scan + array HOFs,
    zero Python, zero exchanges): candidates that fail Luhn are left
    untouched, so order numbers / timestamps / phone digits survive.
    Masking folds left over the validated candidates with plain (non
    regex) replace — each replaces ALL occurrences of that exact
    candidate string, same semantics both engines. NULL text masks to
    ''."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    valid = F.filter(
        F.regexp_extract_all(t, F.lit(CC_CANDIDATE_RE), F.lit(0)), _luhn_ok
    )
    masked = F.aggregate(valid, t, lambda acc, c: F.replace(acc, c, F.lit("<CC>")))
    return df.select(
        F.col(id_col).alias("doc_id"),
        masked.alias("cc_masked"),
        F.size(valid).cast("int").alias("n_cc"),
    )


def sql_scrub_credit_cards(text_expr: str = "text", id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`scrub_credit_cards` — same candidate
    pattern, same integer Luhn fold (list_transform over range),
    same left fold for masking (list_reduce over list_prepend, so the
    empty-candidate case returns the text unchanged, like Spark's
    aggregate with the text as init)."""
    pat = CC_CANDIDATE_RE.replace("'", "''")
    # DuckDB forbids subqueries inside lambdas, so the stripped form is
    # built ONCE per candidate by pairing each candidate with its
    # stripped twin (list_transform to a two-element list), filtering
    # on the Luhn of element 2 and projecting element 1 back out.
    c2 = "p[2]"
    luhn = (
        f"(list_sum(list_transform(range(1, length({c2}) + 1), "
        f"i -> CASE WHEN (length({c2}) - i) % 2 = 1 "
        f"THEN CASE WHEN (ascii(substr({c2}, i, 1)) - 48) * 2 > 9 "
        f"THEN (ascii(substr({c2}, i, 1)) - 48) * 2 - 9 "
        f"ELSE (ascii(substr({c2}, i, 1)) - 48) * 2 END "
        f"ELSE ascii(substr({c2}, i, 1)) - 48 END)) % 10 = 0 "
        f"AND length({c2}) BETWEEN 13 AND 19)"
    )
    return (
        f"WITH s0 AS (SELECT {id_expr} AS doc_id, coalesce({text_expr}, '') AS t "
        "FROM documents), "
        f"s1 AS (SELECT doc_id, t, list_transform(list_filter(list_transform("
        f"regexp_extract_all(t, '{pat}'), "
        "c -> [c, replace(replace(c, ' ', ''), '-', '')]), "
        f"p -> {luhn}), p -> p[1]) AS valid FROM s0) "
        "SELECT doc_id, "
        "list_reduce(list_prepend(t, valid), (acc, c) -> replace(acc, c, '<CC>')) "
        "AS cc_masked, CAST(len(valid) AS INT) AS n_cc FROM s1"
    )


# --------------------------------------------------------------------------
# URL filtering (crawl hygiene — C4/RefinedWeb-style front gate)
# --------------------------------------------------------------------------

_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
# \z not $: Java's $ matches before a final line terminator, RE2's only
# at absolute end — a stray trailing newline in a scraped URL would
# silently diverge the two engines. \z is absolute-end in BOTH.
_URL_EXT_RE = r"(\.[A-Za-z0-9]{1,5})(?:[?#].*)?\z"

DEFAULT_BLOCKED_EXTENSIONS = (
    ".jpg", ".jpeg", ".png", ".gif", ".webp", ".svg", ".ico",
    ".css", ".js", ".woff", ".woff2", ".mp3", ".mp4", ".avi", ".zip",
)


def url_filter_pred(
    url: Column,
    blocked_hosts=(),
    blocked_extensions=DEFAULT_BLOCKED_EXTENSIONS,
    allowed_schemes=("http", "https"),
) -> Column:
    """Keep-predicate for crawl hygiene: scheme allowlist, media/asset
    extension blocklist, host blocklist. Pure column math (prunable,
    shuffle-free); for blocklists beyond a few thousand hosts use a
    broadcast LEFT ANTI join on the host instead of the isin literal.
    The host/scheme come from regexes (not parse_url) so the DuckDB
    twin is exact."""
    scheme = F.lower(F.regexp_extract(url, _URL_SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(url, _URL_HOST_RE, 1))
    ext = F.lower(F.regexp_extract(url, _URL_EXT_RE, 1))
    pred = scheme.isin([s.lower() for s in allowed_schemes])
    if blocked_extensions:
        pred = pred & ~ext.isin([e.lower() for e in blocked_extensions])
    if blocked_hosts:
        pred = pred & ~host.isin([h.lower() for h in blocked_hosts])
    return pred


def filter_urls(df: DataFrame, url_col: str = "url", **kw) -> DataFrame:
    return df.filter(url_filter_pred(F.col(url_col), **kw))


def sql_url_filter(
    url_expr: str,
    blocked_hosts=(),
    blocked_extensions=DEFAULT_BLOCKED_EXTENSIONS,
    allowed_schemes=("http", "https"),
) -> str:
    """DuckDB twin predicate of url_filter_pred."""
    def inlist(vals):
        return ", ".join("'" + v.lower().replace("'", "''") + "'" for v in vals)

    scheme = f"lower(regexp_extract({url_expr}, '{_URL_SCHEME_RE}', 1))"
    host = f"lower(regexp_extract({url_expr}, '{_URL_HOST_RE}', 1))"
    ext = f"lower(regexp_extract({url_expr}, '{_URL_EXT_RE}', 1))"
    parts = [f"{scheme} IN ({inlist(allowed_schemes)})"]
    if blocked_extensions:
        parts.append(f"{ext} NOT IN ({inlist(blocked_extensions)})")
    if blocked_hosts:
        parts.append(f"{host} NOT IN ({inlist(blocked_hosts)})")
    return "(" + " AND ".join(parts) + ")"


# URL canonicalization — the pre-URL-dedup normalization every crawl
# pipeline runs. Conservative, well-defined subset: strip the fragment,
# drop tracking params (utm_*/gclid/fbclid) preserving the order of the
# rest (empty '&&' segments and a bare trailing '?' also go),
# lowercase the scheme://host[:port] head only (path/query case is
# significant), and remove explicit default ports (http:80, https:443).
# Non-URL strings pass through untouched; NULL stays NULL. Pure native
# expressions in Spark, RE2∩Java-safe patterns shared with the twin.

_URL_TRACKING_RE = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid)(=|\z)"
_URL_CANON_HEAD_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def canonical_url_col(url: Column) -> Column:
    no_frag = F.substring_index(url, "#", 1)
    qpos = F.instr(no_frag, "?")
    base = F.when(qpos > 0, no_frag.substr(F.lit(1), qpos - F.lit(1))).otherwise(no_frag)
    query = F.when(qpos > 0, no_frag.substr(qpos + F.lit(1), F.length(no_frag)))
    kept = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda x: (x != "") & ~x.rlike(_URL_TRACKING_RE),
    )
    q_str = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    joined = F.concat(base, q_str)
    head = F.regexp_extract(joined, _URL_CANON_HEAD_RE, 1)
    tail = joined.substr(F.length(head) + F.lit(1), F.length(joined))
    head_low = F.regexp_replace(
        F.regexp_replace(F.lower(head), r"^(http://[^/:?#]*):80\z", r"$1"),
        r"^(https://[^/:?#]*):443\z",
        r"$1",
    )
    is_url = F.regexp_extract(F.coalesce(url, F.lit("")), _URL_CANON_HEAD_RE, 1) != ""
    return (
        F.when(url.isNull(), F.lit(None).cast("string"))
        .when(~is_url, url)  # not a URL shape: pass through UNTOUCHED
        .otherwise(F.concat(head_low, tail))
    )


def sql_canonical_url(url_expr: str) -> str:
    """DuckDB twin of canonical_url_col (same RE2∩Java patterns; \\1
    backreference form for RE2, $1 on the Java side)."""
    nf = f"split_part({url_expr}, '#', 1)"
    base = f"CASE WHEN position('?' IN {nf}) > 0 THEN substr({nf}, 1, position('?' IN {nf}) - 1) ELSE {nf} END"
    qs = f"CASE WHEN position('?' IN {nf}) > 0 THEN substr({nf}, position('?' IN {nf}) + 1) ELSE '' END"
    kept = (
        f"list_filter(string_split({qs}, '&'), "
        f"x -> x <> '' AND NOT regexp_matches(x, '{_URL_TRACKING_RE}'))"
    )
    joined = (
        f"({base} || CASE WHEN len({kept}) > 0 "
        f"THEN '?' || array_to_string({kept}, '&') ELSE '' END)"
    )
    head = f"coalesce(regexp_extract({joined}, '{_URL_CANON_HEAD_RE}', 1), '')"
    head_low = (
        f"regexp_replace(regexp_replace(lower({head}), "
        r"'^(http://[^/:?#]*):80$', '\1'), "
        r"'^(https://[^/:?#]*):443$', '\1')"
    )
    is_url = (
        f"coalesce(regexp_extract(coalesce({url_expr}, ''), "
        f"'{_URL_CANON_HEAD_RE}', 1), '') <> ''"
    )
    return (
        f"CASE WHEN {url_expr} IS NULL THEN NULL "
        f"WHEN NOT ({is_url}) THEN {url_expr} "
        f"ELSE {head_low} || substr({joined}, length({head}) + 1) END"
    )



# --------------------------------------------------------------------------
# SURT keys (Sort-friendly URI Reordering Transform)
# --------------------------------------------------------------------------
#
# The canonical ordering the Internet Archive / Common Crawl CDX
# indexes shard by (public convention: webarchive-commons SURT.java,
# the pywb `surt` package): host labels reversed and comma-joined so a
# range-sharded index clusters every page of a host -- and every host
# of a domain -- contiguously ("com,example)/" prefix-scans all of
# example.com; "com,example" all of *.example.com). That locality is
# the entire point at 10^12-URL scale: a per-domain read becomes one
# contiguous range instead of a full-index scatter, and it is what
# shard_manifest's range partitioner expects as its sort key.
#
# Key shape: rev_host[:port])lower_path[?sorted_query] with the scheme
# dropped, default ports (http:80 / https:443) and a leading www\d*.
# removed, the fragment discarded and query params sorted -- each rule
# straight from the public canonicalizer. Pure native string/array
# expressions in both engines (RE2∩Java-safe patterns), zero UDFs,
# zero exchanges: a narrow map over the url column.

_SURT_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_SURT_PORT_RE = r":([0-9]+)\z"


def surt_key_col(url: Column) -> Column:
    """SURT key for ``url`` -- NULL for NULL or non-URL-shaped input
    (a row with no authority cannot land in a host-clustered shard;
    callers route those to a quarantine partition)."""
    scheme = F.lower(F.regexp_extract(F.coalesce(url, F.lit("")), _SURT_SCHEME_RE, 1))
    head = F.regexp_extract(F.coalesce(url, F.lit("")), _URL_CANON_HEAD_RE, 1)
    # authority = head minus "scheme://"; userinfo (up to last @) dropped
    hostport = F.lower(
        F.substring_index(
            head.substr(F.length(scheme) + F.lit(4), F.length(head)), "@", -1
        )
    )
    port = F.regexp_extract(hostport, _SURT_PORT_RE, 1)
    host = F.regexp_replace(hostport, _SURT_PORT_RE, "")
    host_n = F.regexp_replace(host, r"^www[0-9]*\.", "")
    rev = F.array_join(F.reverse(F.split(host_n, r"\.")), ",")
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    rest = F.substring_index(
        F.coalesce(url, F.lit("")).substr(
            F.length(head) + F.lit(1), F.length(F.coalesce(url, F.lit("")))
        ),
        "#",
        1,
    )
    qpos = F.instr(rest, "?")
    path = F.lower(F.when(qpos > 0, rest.substr(F.lit(1), qpos - F.lit(1))).otherwise(rest))
    query = F.when(qpos > 0, F.lower(rest.substr(qpos + F.lit(1), F.length(rest)))).otherwise(F.lit(""))
    kept = F.filter(F.split(query, "&"), lambda x: x != "")
    q_str = F.when(
        F.size(kept) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(kept), "&")),
    ).otherwise(F.lit(""))
    key = F.concat(
        rev,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.lit(")"),
        path,
        q_str,
    )
    return F.when(url.isNull() | (head == "") | (host_n == ""), F.lit(None).cast("string")).otherwise(key)


def sql_surt_key(url_expr: str) -> str:
    """DuckDB twin of :func:`surt_key_col` -- same patterns, same
    label reversal (list_reverse) and param sort (list_sort)."""
    u = f"coalesce({url_expr}, '')"
    scheme = f"lower(coalesce(regexp_extract({u}, '{_SURT_SCHEME_RE}', 1), ''))"
    head = f"coalesce(regexp_extract({u}, '{_URL_CANON_HEAD_RE}', 1), '')"
    hostport = (
        f"lower(CASE WHEN position('@' IN substr({head}, length({scheme}) + 4)) > 0 "
        f"THEN regexp_replace(substr({head}, length({scheme}) + 4), '^.*@', '') "
        f"ELSE substr({head}, length({scheme}) + 4) END)"
    )
    port = f"coalesce(regexp_extract({hostport}, ':([0-9]+)$', 1), '')"
    host = f"regexp_replace({hostport}, ':[0-9]+$', '')"
    host_n = rf"regexp_replace({host}, '^www[0-9]*\.', '')"
    rev = f"array_to_string(list_reverse(string_split({host_n}, '.')), ',')"
    keep_port = (
        f"({port} <> '' AND NOT (({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443')))"
    )
    rest = f"split_part(substr({u}, length({head}) + 1), '#', 1)"
    path = (
        f"lower(CASE WHEN position('?' IN {rest}) > 0 "
        f"THEN substr({rest}, 1, position('?' IN {rest}) - 1) ELSE {rest} END)"
    )
    query = (
        f"CASE WHEN position('?' IN {rest}) > 0 "
        f"THEN lower(substr({rest}, position('?' IN {rest}) + 1)) ELSE '' END"
    )
    kept = f"list_filter(string_split({query}, '&'), x -> x <> '')"
    q_str = (
        f"CASE WHEN len({kept}) > 0 "
        f"THEN '?' || array_to_string(list_sort({kept}), '&') ELSE '' END"
    )
    return (
        f"CASE WHEN {url_expr} IS NULL OR {head} = '' OR {host_n} = '' THEN NULL "
        f"ELSE {rev} || CASE WHEN {keep_port} THEN ':' || {port} ELSE '' END "
        f"|| ')' || {path} || {q_str} END"
    )


# --------------------------------------------------------------------------
# benchmark decontamination (eval-set n-gram overlap)
# --------------------------------------------------------------------------

def flag_contaminated(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Flag training docs sharing ≥ ``min_overlap`` word ``n``-grams with
    an evaluation set — the standard pre-training decontamination pass
    (GPT-3 App. C / PaLM-style n-gram overlap).

    Scale shape, two phases, result EXACT:

    1. **Hash prefilter over the whole corpus**: the doc scan computes
       64-bit xxhash64 gram keys (:func:`~.dedup.shingle_hash_df` — no
       gram STRING is ever materialized) and broadcast-semi-joins the
       hashed eval set. Before this prefilter the corpus scan allocated
       an ~n-word string per gram; that garbage, not the (tiny, 28 MB
       at 1.2M docs) shuffle, made wall time grow 12.9× for 10× input
       (BENCH/BASELINE.md, round 3). Eval sets are small by
       construction, so the hashed eval grams broadcast at 8
       bytes/gram.
    2. **Exact string recheck on candidates only**: docs with ≥1 hash
       hit (a vanishing fraction of a clean corpus) recompute real
       string shingles and the exact overlap count. Hash equality has
       no false negatives (equal token tuples hash equal), so
       non-candidates are exactly the n_overlaps=0 docs, and a phase-1
       collision just sends one extra doc to the recheck where its true
       count (possibly 0) is restored.

    Returns (doc_id, n_overlaps, contaminated)."""
    from .dedup import shingle_df, shingle_hash_df

    eval_named = eval_df.select(F.col(eval_text_col).alias("__t"), F.lit(0).alias("__i"))
    eval_gh = shingle_hash_df(eval_named, "__t", "__i", n).select("gh").distinct()
    doc_gh = shingle_hash_df(docs, text_col, id_col, n)
    cand = (
        doc_gh.join(F.broadcast(eval_gh), "gh")
        .select("doc_id")
        .distinct()
        .withColumnRenamed("doc_id", "__cand_id")
    )
    # NO broadcast hint on cand: it is corpus-derived and unbounded — a
    # dirty corpus (eval set scraped from the training dump, or one
    # common boilerplate gram) can flag most of the corpus, and a hinted
    # broadcast would collect all of it to the driver. On a clean corpus
    # AQE broadcasts the (tiny) side at runtime anyway; on a dirty one
    # this degrades gracefully to a shuffled semi-join.
    cand_docs = docs.join(cand, docs[id_col] == F.col("__cand_id"), "left_semi")
    eval_sh = shingle_df(eval_named, "__t", "__i", n).select("shingle").distinct()
    hits = (
        shingle_df(cand_docs, text_col, id_col, n)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlaps"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlaps", F.lit(0)).alias("n_overlaps"),
            (F.coalesce("n_overlaps", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def sql_flag_contaminated(eval_values: str, n: int = 8, min_overlap: int = 1) -> str:
    """DuckDB twin over the ``documents`` view; ``eval_values`` is an
    inline relation with a ``text`` column (same literal rows as the
    Spark query's eval_df)."""
    def grams(text_expr, idexpr):
        return (
            f"SELECT {idexpr} AS gid, unnest(CASE WHEN len(w) >= {n} THEN "
            f"list_distinct([array_to_string(w[i:i+{n - 1}], ' ') FOR i IN range(1, len(w) - {n - 2})]) "
            f"ELSE [array_to_string(w, ' ')] END) AS shingle FROM "
            f"(SELECT {idexpr}, list_filter(string_split_regex(lower({text_expr}), '{WORD_SPLIT_RE}'), x -> x <> '') AS w "
        )

    return (
        "WITH doc_sh AS ("
        + grams("text", "doc_id")
        + "FROM documents)), "
        "eval_sh AS (SELECT DISTINCT shingle FROM ("
        + grams("text", "0")
        + f"FROM {eval_values}))), "
        "hits AS (SELECT gid AS doc_id, count(*) AS n_overlaps FROM doc_sh "
        "JOIN eval_sh USING (shingle) GROUP BY gid) "
        "SELECT d.doc_id, CAST(coalesce(h.n_overlaps, 0) AS BIGINT) AS n_overlaps, "
        f"coalesce(h.n_overlaps, 0) >= {min_overlap} AS contaminated "
        "FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"
    )


# --------------------------------------------------------------------------
# sequence packing (training-batch assembly)
# --------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    token_col: str = "token_count",
    id_col: str = "doc_id",
    budget: int = 2048,
    n_shards: int = 32,
    salt: str = "pack",
) -> DataFrame:
    """Assign each doc to a fixed-token-budget training sequence —
    the concatenate-then-chunk packing LLM pipelines run after curation
    (docs are laid head-to-tail per shard; a doc belongs to the sequence
    its first token falls in).

    Deterministic and engine-portable: shard = md5-bucket of the doc id
    (one shuffle), order within shard = doc id, sequence = running-token
    offset ÷ budget — a window function, not a sequential driver loop,
    so it scales with shards and is reproducible run-to-run.

    Returns (doc_id, token_count, shard, seq_id, offset_in_seq)."""
    from pyspark.sql import Window

    shard = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % n_shards
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = F.col(token_col).cast("long")
    out = (
        df.select(F.col(id_col), toks.alias("token_count"), shard.alias("shard"))
        .withColumn("__cum", F.sum("token_count").over(w))
        .withColumn("__start", F.col("__cum") - F.col("token_count"))
    )
    return out.select(
        id_col,
        "token_count",
        "shard",
        F.floor(F.col("__start") / budget).alias("seq_id"),
        (F.col("__start") % budget).alias("offset_in_seq"),
    )


def pack_stats(packed: DataFrame, budget: int = 2048) -> DataFrame:
    """Per-sequence fill report: (shard, seq_id, n_docs, total_tokens,
    fill_ratio) — the packing-efficiency corpus card."""
    return packed.groupBy("shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("token_count").alias("total_tokens"),
        F.round(F.sum("token_count") / F.lit(float(budget)), 4).alias("fill_ratio"),
    )


def sql_pack_sequences(
    token_expr: str,
    id_expr: str = "doc_id",
    budget: int = 2048,
    n_shards: int = 32,
    salt: str = "pack",
) -> str:
    """DuckDB twin of pack_sequences (same md5 shard, same window)."""
    shard = (
        _sql_md5_bucket(id_expr, salt, n_shards)
    )
    return (
        f"WITH t AS (SELECT {id_expr} AS doc_id, CAST({token_expr} AS BIGINT) AS token_count, "
        f"{shard} AS shard FROM documents), "
        "c AS (SELECT doc_id, token_count, shard, "
        "sum(token_count) OVER (PARTITION BY shard ORDER BY doc_id "
        "ROWS UNBOUNDED PRECEDING) - token_count AS strt FROM t) "
        # CASTs: DuckDB's windowed sum yields HUGEINT (→ pandas float64),
        # breaking the driver's value hash vs Spark's long
        f"SELECT doc_id, token_count, shard, "
        f"CAST(floor(strt / {budget}) AS BIGINT) AS seq_id, "
        f"CAST(strt % {budget} AS BIGINT) AS offset_in_seq FROM c"
    )


# --------------------------------------------------------------------------
# deterministic stratified sampling
# --------------------------------------------------------------------------

def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``k``-token window whose exact token sequence occurs ≥
    ``min_occurrences`` times corpus-wide is removed from EVERY doc —
    finer than doc/line dedup (it catches boilerplate sentences pasted
    into otherwise-unique pages), coarser than a true suffix array
    (fixed window length; overlapping repeated windows union into one
    span, so a long repeated passage is removed wholesale).

    Relational shape, all native: explode tokens with positions → one
    groupBy on the 128-bit window key (corpus-wide counts — the dup
    set is corpus-sized at web scale and is NOT broadcast) → join
    flagged windows back → explode covered positions → distinct →
    anti-join against the token table → per-doc ordered rebuild.
    Returns (doc_id, clean_text, n_tokens_kept, n_tokens_removed);
    docs shorter than ``k`` tokens keep their full token sequence.
    ``clean_text`` is the surviving token stream single-space-joined —
    original whitespace structure is NOT preserved (even for untouched
    docs), exactly like the published method's token-level output: run
    span dedup AFTER the line/paragraph operators, or feed its output
    to token-level consumers (packing, LM scoring).

    Tokens are taken verbatim (no lowering — the published method is
    byte-exact); the window key is md5 over the newline-joined tokens —
    newline is IN the whitespace split class, so it can never survive
    inside a token and window boundaries cannot be forged (chr(31)
    would be forgeable: it is not whitespace)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        _words(F.coalesce(F.col(text_col), F.lit(""))).alias("toks"),
    )
    pt = toks.select(
        "doc_id", F.posexplode_outer("toks").alias("pos", "tok")
    )
    win = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - k),
                    lambda i: F.struct(
                        i.alias("i0"),
                        F.md5(
                            F.array_join(
                                F.slice(F.col("toks"), i + 1, k), "\n"
                            )
                        ).alias("wkey"),
                    ),
                ),
            ).otherwise(F.array()),
        ).alias("w"),
    ).select("doc_id", F.col("w.i0").alias("i0"), F.col("w.wkey").alias("wkey"))
    dup_keys = (
        win.groupBy("wkey")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= min_occurrences)
        .select("wkey")
    )
    drop_pos = (
        win.join(dup_keys, "wkey")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i0"), F.col("i0") + (k - 1))).alias("pos"),
        )
        .distinct()
    )
    kept = pt.filter(F.col("tok").isNotNull()).join(
        drop_pos, ["doc_id", "pos"], "left_anti"
    )
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # per-doc totals come from the PRE-explode frame — aggregating the
    # exploded token table to recover a per-row constant would shuffle
    # the whole corpus for nothing (and diverge from the twin's
    # non-aggregated shape on pathological duplicate ids)
    totals = toks.select("doc_id", F.size("toks").alias("n_total"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
        (F.col("n_total") - F.coalesce("n_tokens_kept", F.lit(0)))
        .cast("long")
        .alias("n_tokens_removed"),
    )


def sql_dedup_spans(k: int = 8, min_occurrences: int = 2) -> str:
    """DuckDB twin of :func:`dedup_spans` over the ``documents`` view —
    same tokenization, window key, threshold, span union, and ordered
    rebuild, recomputed relationally."""
    toks = f"list_filter(string_split_regex(coalesce(text, ''), '{WORD_SPLIT_RE}'), x -> x <> '')"
    return (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents), "
        "pt AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM ("
        "SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t)), "
        f"win AS (SELECT doc_id, i - 1 AS i0, "
        f"md5(array_to_string(toks[i:i+{k - 1}], chr(10))) AS wkey FROM ("
        f"SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {k - 1})) AS i "
        f"FROM t WHERE len(toks) >= {k})), "
        "dup AS (SELECT wkey FROM win GROUP BY wkey "
        f"HAVING count(*) >= {min_occurrences}), "
        "dp AS (SELECT DISTINCT doc_id, i0 + s AS pos FROM win "
        f"JOIN dup USING (wkey), (SELECT unnest(range(0, {k})) AS s)), "
        "kept AS (SELECT pt.doc_id, pt.pos, pt.tok FROM pt "
        "LEFT JOIN dp ON pt.doc_id = dp.doc_id AND pt.pos = dp.pos "
        "WHERE dp.pos IS NULL), "
        "rebuilt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept, "
        "string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id), "
        "totals AS (SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_total FROM t) "
        "SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text, "
        "CAST(coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept, "
        "CAST(t.n_total - coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_removed "
        "FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id"
    )


def _sql_md5_bucket(key_expr: str, salt: str, mod: int) -> str:
    """DuckDB twin of :func:`sample_bucket_col` / the md5 shard key —
    ONE home for the bucket expression so the sampling, mixing, and
    packing twins cannot drift from each other or from the Column
    form."""
    return (
        f"(CAST('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || '{salt}'), 1, 8) "
        f"AS BIGINT) % {mod})"
    )


def _rate_case_col(stratum_col: str, rates: dict, default_rate: float) -> Column:
    """Per-stratum rate ×10000 as an int column (shared by the sampling
    and mixing operators so rate resolution cannot drift)."""
    rate = None
    for value, r in sorted(rates.items()):
        cond = F.col(stratum_col) == value
        branch = F.lit(int(round(r * 10000)))
        rate = F.when(cond, branch) if rate is None else rate.when(cond, branch)
    default = int(round(default_rate * 10000))
    return rate.otherwise(default) if rate is not None else F.lit(default)


def _sql_rate_case(stratum_expr: str, rates: dict, default_rate: float) -> str:
    whens = " ".join(
        "WHEN {} = '{}' THEN {}".format(
            stratum_expr, str(v).replace("'", "''"), int(round(r * 10000))
        )
        for v, r in sorted(rates.items())
    )
    default = int(round(default_rate * 10000))
    return f"CASE {whens} ELSE {default} END" if rates else str(default)


def weighted_mix(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict,
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Epoch-weighted training mix (the Pile/LLaMA data-mixture step):
    per-stratum rate r emits floor(r) copies of every row plus one more
    for a deterministic frac(r) of rows — r=0.4 downsamples to 40%,
    r=2.5 means "2.5 epochs" (2 copies + a 3rd for half the rows).

    Output = input columns + ``copy_no`` (0-based) so downstream
    packing can distinguish epochs. Same md5-bucket device as
    stratified_sample: reproducible across runs, engines, and cluster
    sizes, and a pure narrow map — no shuffle, the explode is the only
    row-count change."""
    for col in ("copy_no", "__n_copies"):
        if col in df.columns:
            raise ValueError(
                f"weighted_mix: input already has a '{col}' column — "
                "re-mixing mixed output would silently clobber it"
            )
    bucket = sample_bucket_col(F.col(key_col), salt)
    rate = _rate_case_col(stratum_col, rates, default_rate)
    n_copies = (
        F.floor(rate / F.lit(10000)).cast("int")
        + F.when(bucket < rate % 10000, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        df.withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") > 0)
        .withColumn(
            "copy_no",
            F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)),
        )
        .drop("__n_copies")
    )


def sql_weighted_mix(
    key_expr: str,
    stratum_expr: str,
    rates: dict,
    default_rate: float = 0.0,
    salt: str = "mix",
    select_cols: str = "doc_id, source",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`weighted_mix` (same bucket math, same rate
    resolution, same floor+frac copy count)."""
    bucket = (
        _sql_md5_bucket(key_expr, salt, 10000)
    )
    rate = _sql_rate_case(stratum_expr, rates, default_rate)
    return (
        f"WITH t AS (SELECT {select_cols}, "
        f"CAST(floor(({rate}) / 10000) AS INT) + "
        f"CASE WHEN {bucket} < ({rate}) % 10000 THEN 1 ELSE 0 END AS n_copies "
        f"FROM {table}) "
        f"SELECT {select_cols}, CAST(unnest(range(0, CAST(n_copies AS BIGINT))) AS INT) AS copy_no "
        "FROM t WHERE n_copies > 0"
    )


def sample_bucket_col(key: Column, salt: str = "sample") -> Column:
    """Stable [0, 10000) bucket from md5 of (key || salt) — identical in
    any engine with md5 (reproducible across runs, engines, cluster
    sizes; unlike ``rand()`` it is join-stable and re-runnable)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 10000).alias("bucket")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Keep each row iff its deterministic bucket < fraction·10000 for
    its stratum — exact, reproducible downsampling by source/domain/lang
    (the standard way a training mix is drawn from a web corpus)."""
    bucket = sample_bucket_col(F.col(key_col), salt)
    rate = _rate_case_col(stratum_col, fractions, default_fraction)
    return df.filter(bucket < rate)


def sql_stratified_sample(
    key_expr: str,
    stratum_expr: str,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> str:
    """DuckDB twin predicate (same md5-bucket math)."""
    rate = _sql_rate_case(stratum_expr, fractions, default_fraction)
    bucket = (
        _sql_md5_bucket(key_expr, salt, 10000)
    )
    return f"{bucket} < {rate}"


# --------------------------------------------------------------------------
# C4-style document cleaning (Raffel et al. 2020 §2.2)
# --------------------------------------------------------------------------
#
# The published C4 rule set, restated deterministically so the Spark and
# DuckDB sides agree byte-for-byte:
#   line level (a line is kept iff ALL hold, after whitespace trim):
#     - ends in a terminal punctuation mark (. ! ? " ')
#     - has >= C4_MIN_WORDS_PER_LINE words (Java-WS split)
#     - does not contain "javascript" (case-insensitive)
#   page level (c4_pass is true iff ALL hold):
#     - the cleaned page has >= C4_MIN_SENTENCES sentences (sentence =
#       one non-overlapping match of [.!?] in the kept-lines text — a
#       deterministic stand-in for C4's language-aware splitter)
#     - the ORIGINAL page does not contain "lorem ipsum" (case-insens.)
#     - the ORIGINAL page does not contain "{"
#     - no word of the original page is on the bad-word blocklist
#
# Everything is native Catalyst expression math (split / transform /
# filter / rlike / regexp_count): a narrow shuffle-free map — all JVM,
# no Python crossing — that scales linearly with input bytes. The
# blocklist is inlined as a literal set — at the real LDNOOBW list size
# (~400 words/language) that is still a literal-array `exists`, far
# below broadcast-join territory.

C4_MIN_WORDS_PER_LINE = 5
C4_MIN_SENTENCES = 3
# ends-with terminal punct; \z not $ (Java's $ also matches before a
# final NEL/LS/PS terminator, RE2's does not)
_C4_TERMINAL_RE = "[.!?\"']\\z"
_C4_TRIM_RE = rf"^{_WS}+|{_WS}+\z"
_C4_SENTENCE_RE = r"[.!?]"
# Representative subset of the public "List of Dirty, Naughty, Obscene
# or Otherwise Bad Words" C4 uses; production swaps in the full list
# (still a literal-array membership test, same plan shape).
C4_BAD_WORDS = ("fuck", "shit", "porn", "bitch", "viagra", "xxx")


def _c4_kept_lines(c: Column, min_words: int) -> Column:
    trimmed = F.transform(
        F.split(c, r"\n"), lambda l: F.regexp_replace(l, _C4_TRIM_RE, "")
    )
    return F.filter(
        trimmed,
        lambda l: l.rlike(_C4_TERMINAL_RE)
        & (F.size(_words(l)) >= F.lit(min_words))
        & ~F.lower(l).contains("javascript"),
    )


def with_c4_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = C4_MIN_WORDS_PER_LINE,
    min_sentences: int = C4_MIN_SENTENCES,
    bad_words=C4_BAD_WORDS,
) -> DataFrame:
    """Per-doc C4 cleaning: the kept-lines text plus the page-level keep
    flag. Columns: c4_text, n_lines_kept, n_sentences, c4_pass.

    NULL text is treated as empty (flags must stay non-NULL so boolean
    filters never silently drop a bad crawl row).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    # staged projections so the higher-order kept-lines scan runs ONCE
    # per row: HOF lambdas are interpreted (not codegen-CSE'd), and
    # CollapseProject keeps multiply-referenced non-cheap expressions in
    # their own project instead of re-inlining them 4x
    staged = df.select(
        F.col(id_col),
        c.alias("__c4_src"),
        F.lower(c).alias("__c4_low"),
        _c4_kept_lines(c, min_words).alias("__c4_kept"),
    )
    kept = F.col("__c4_kept")
    src = F.col("__c4_src")
    low = F.col("__c4_low")
    staged = staged.select(
        id_col,
        src.alias("__c4_src"),
        low.alias("__c4_low"),
        kept.alias("__c4_kept"),
        F.array_join(kept, "\n").alias("__c4_text"),
    )
    staged = staged.select(
        id_col,
        src.alias("__c4_src"),
        low.alias("__c4_low"),
        kept.alias("__c4_kept"),
        F.col("__c4_text"),
        F.regexp_count(F.col("__c4_text"), F.lit(_C4_SENTENCE_RE))
        .cast("long")
        .alias("__c4_nsent"),
    )
    n_sent = F.col("__c4_nsent")
    # bad-word split + lorem-ipsum scan both read the ONE staged
    # lowercase column — lowering a large crawl page is itself O(len)
    bad_hit = F.exists(
        F.filter(F.split(low, WORD_SPLIT_RE), lambda w: w != F.lit("")),
        lambda w: w.isin(list(bad_words)),
    )
    c4_pass = (
        (n_sent >= F.lit(min_sentences))
        & ~low.contains("lorem ipsum")
        & ~src.contains("{")
        & ~bad_hit
    )
    return staged.select(
        F.col(id_col),
        F.col("__c4_text").alias("c4_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        n_sent.alias("n_sentences"),
        c4_pass.alias("c4_pass"),
    )


def c4_filter(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", **kw) -> DataFrame:
    """The filtering form: docs that pass, with the cleaned text."""
    flagged = with_c4_flags(df, text_col, id_col, **kw)
    return flagged.filter(F.col("c4_pass")).select(id_col, "c4_text")


def sql_c4_flags(
    text_expr: str = "text",
    id_expr: str = "doc_id",
    min_words: int = C4_MIN_WORDS_PER_LINE,
    min_sentences: int = C4_MIN_SENTENCES,
    bad_words=C4_BAD_WORDS,
) -> str:
    """DuckDB twin of :func:`with_c4_flags` (same Java-WS classes, same
    \\z anchors; regexp_replace needs the explicit 'g' flag DuckDB
    requires for replace-all)."""
    bad = ", ".join("'" + w.replace("'", "''") + "'" for w in bad_words)
    term = _C4_TERMINAL_RE.replace("'", "''")
    kept = (
        f"list_filter(list_transform(string_split(tx, chr(10)), "
        f"l -> regexp_replace(l, '{_C4_TRIM_RE}', '', 'g')), "
        f"l -> regexp_matches(l, '{term}') "
        f"AND len(list_filter(string_split_regex(l, '{WORD_SPLIT_RE}'), "
        f"x -> x <> '')) >= {min_words} "
        f"AND NOT contains(lower(l), 'javascript'))"
    )
    lower_words = (
        f"list_filter(string_split_regex(lowtx, '{WORD_SPLIT_RE}'), x -> x <> '')"
    )
    return (
        f"WITH t AS (SELECT {id_expr} AS doc_id, coalesce({text_expr}, '') AS tx, "
        f"lower(coalesce({text_expr}, '')) AS lowtx FROM documents), "
        f"k AS (SELECT doc_id, tx, lowtx, {kept} AS kept FROM t), "
        # DuckDB array_to_string([]) is NULL where Spark array_join([])
        # is '' — coalesce pins the empty-page case to the Spark value;
        # n_sent reads the c4_text lateral alias so the two can't drift
        "s AS (SELECT doc_id, tx, lowtx, kept, "
        "coalesce(array_to_string(kept, chr(10)), '') AS c4_text, "
        f"len(regexp_extract_all(c4_text, '{_C4_SENTENCE_RE}')) AS n_sent "
        "FROM k) "
        "SELECT doc_id, c4_text, CAST(len(kept) AS BIGINT) AS n_lines_kept, "
        "CAST(n_sent AS BIGINT) AS n_sentences, "
        f"(n_sent >= {min_sentences} "
        "AND NOT contains(lowtx, 'lorem ipsum') "
        "AND NOT contains(tx, '{') "
        f"AND NOT list_has_any({lower_words}, [{bad}])) AS c4_pass "
        "FROM s"
    )


# --------------------------------------------------------------------------
# RefinedWeb-style line-wise correction (Penedo et al. 2023, §G.2).
# Line removal rules (applied to the whitespace-trimmed line):
#     - mainly uppercase: cased ASCII letters exist and MORE than half
#       are uppercase (2·upper > cased — integer math, no float ratio);
#     - numeric-only: at least one digit and zero ASCII letters (dates,
#       bare counters, phone fragments);
#     - social counter: "<n> likes/comments/shares/..." exactly;
#     - navigation phrase: the whole lowercased line is one of the
#       known nav/boilerplate phrases ("home", "sign in", "read more").
# Page rule: if the removed lines account for MORE than 5% of the
# document's characters the whole document is dropped — again integer
# math (20·chars_removed > len(text)), so the twin needs no float
# convention. ASCII [A-Z]/[a-z]/[0-9] classes are engine-identical;
# Unicode letters are deliberately outside the heuristic (documented
# deviation: the paper's implementation is unspecified on this).
# --------------------------------------------------------------------------

RW_NAV_LINES = (
    "home", "menu", "search", "share", "reply", "more", "read more",
    "sign in", "sign up", "sign-in", "sign-up", "log in", "log out",
    "login", "logout", "register", "subscribe", "next", "previous",
    "skip to content", "accept cookies", "advertisement", "print",
    "email", "facebook", "twitter", "instagram", "rss",
)
_RW_COUNTER_RE = (
    r"\A[0-9]+" + _WS + r"+(likes?|comments?|shares?|views?|votes?|"
    r"points?|upvotes?|retweets?|repl(?:y|ies)|followers?)\z"
)


def _rw_line_structs(lines: Column) -> Column:
    """Per-line feature structs, each expensive expression evaluated
    ONCE per line: HOF lambdas are interpreted (no codegen CSE), so the
    trim/lower/counts are staged through two nested transforms — the
    second reads the first's fields (cheap struct access), mirroring the
    projection staging with_c4_flags does at row level."""
    trimmed = F.transform(
        lines,
        lambda l: F.struct(
            l.alias("raw"),
            F.regexp_replace(l, _C4_TRIM_RE, "").alias("t"),
        ),
    )
    return F.transform(
        trimmed,
        lambda s: F.struct(
            s["raw"].alias("raw"),
            F.lower(s["t"]).alias("low"),
            F.regexp_count(s["t"], F.lit("[A-Z]")).alias("up"),
            F.regexp_count(s["t"], F.lit("[a-z]")).alias("lo"),
            F.regexp_count(s["t"], F.lit("[0-9]")).alias("dg"),
        ),
    )


def _rw_removed_pred(s: Column) -> Column:
    """Removal rules over a :func:`_rw_line_structs` entry — every input
    is a precomputed field, so the predicate itself is arithmetic plus
    one anchored rlike and one literal IN."""
    cased = s["up"] + s["lo"]
    return (
        ((cased > F.lit(0)) & (s["up"] * 2 > cased))
        | ((s["dg"] > F.lit(0)) & (cased == F.lit(0)))
        | s["low"].rlike(_RW_COUNTER_RE)
        | s["low"].isin(list(RW_NAV_LINES))
    )


def with_refinedweb_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc RefinedWeb line-wise correction: the corrected text plus
    the page-level keep flag. Columns: rw_text, n_lines_removed,
    chars_removed, rw_pass. NULL text is treated as empty (non-NULL
    flags, the with_c4_flags contract); an untouched doc reproduces its
    text byte-for-byte (split + join on \\n is lossless)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    # staged projections for the same reason as with_c4_flags: the
    # interpreted HOF line scan must evaluate once per row
    staged = df.select(
        F.col(id_col),
        c.alias("__rw_src"),
        _rw_line_structs(F.split(c, r"\n")).alias("__rw_lines"),
    )
    staged = staged.select(
        id_col,
        F.col("__rw_src"),
        F.size(F.col("__rw_lines")).alias("__rw_nlines"),
        F.transform(
            F.filter(F.col("__rw_lines"), lambda s: ~_rw_removed_pred(s)),
            lambda s: s["raw"],
        ).alias("__rw_kept"),
    )
    staged = staged.select(
        id_col,
        F.col("__rw_src"),
        F.col("__rw_nlines"),
        F.col("__rw_kept"),
        F.array_join(F.col("__rw_kept"), "\n").alias("__rw_text"),
    )
    chars_removed = (
        F.length(F.col("__rw_src")) - F.length(F.col("__rw_text"))
    ).cast("long")
    return staged.select(
        F.col(id_col),
        F.col("__rw_text").alias("rw_text"),
        (F.col("__rw_nlines") - F.size(F.col("__rw_kept")))
        .cast("long")
        .alias("n_lines_removed"),
        chars_removed.alias("chars_removed"),
        (chars_removed * 20 <= F.length(F.col("__rw_src"))).alias("rw_pass"),
    )


def refinedweb_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The filtering form: docs whose corrections stay within the 5%
    budget, with the corrected text."""
    flagged = with_refinedweb_flags(df, text_col, id_col)
    return flagged.filter(F.col("rw_pass")).select(id_col, "rw_text")


def sql_refinedweb_flags(text_expr: str = "text", id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`with_refinedweb_flags` — same trim regex,
    same ASCII letter/digit counting, same integer 5% rule; pins the
    array_to_string([])→NULL vs array_join([])→'' divergence the C4
    twin documents."""
    nav = ", ".join("'" + w + "'" for w in RW_NAV_LINES)
    counter = _RW_COUNTER_RE.replace("'", "''")
    trim = _C4_TRIM_RE.replace("'", "''")
    t = f"regexp_replace(x, '{trim}', '', 'g')"  # the trimmed line
    removed = (
        f"(len(regexp_extract_all({t}, '[A-Z]')) * 2 > "
        f"len(regexp_extract_all({t}, '[A-Za-z]')) "
        f"AND len(regexp_extract_all({t}, '[A-Za-z]')) > 0) "
        f"OR (len(regexp_extract_all({t}, '[0-9]')) > 0 "
        f"AND len(regexp_extract_all({t}, '[A-Za-z]')) = 0) "
        f"OR regexp_matches(lower({t}), '{counter}') "
        f"OR lower({t}) IN ({nav})"
    )
    return (
        f"WITH d AS (SELECT {id_expr} AS doc_id, coalesce({text_expr}, '') AS tx "
        "FROM documents), "
        "l AS (SELECT doc_id, tx, string_split(tx, chr(10)) AS lines FROM d), "
        "k AS (SELECT doc_id, tx, len(lines) AS nlines, "
        f"list_filter(lines, x -> NOT ({removed})) AS kept FROM l), "
        "s AS (SELECT doc_id, tx, nlines, kept, "
        "coalesce(array_to_string(kept, chr(10)), '') AS rw_text FROM k) "
        "SELECT doc_id, rw_text, "
        "CAST(nlines - len(kept) AS BIGINT) AS n_lines_removed, "
        "CAST(length(tx) - length(rw_text) AS BIGINT) AS chars_removed, "
        "((length(tx) - length(rw_text)) * 20 <= length(tx)) AS rw_pass "
        "FROM s"
    )


# --------------------------------------------------------------------------
# domain-disjoint holdout splits
# --------------------------------------------------------------------------


def holdout_split(
    df: DataFrame,
    host_col: str = "host",
    splits: dict | None = None,
    salt: str = "split",
    psl: list | None = None,
) -> DataFrame:
    """Adds ``split_key`` / ``bucket`` / ``split``: leakage-safe
    train/valid/test assignment keyed by the REGISTRABLE domain
    (eTLD+1), so no site ever straddles a holdout boundary — the
    guarantee a per-doc random split cannot give (near-identical pages
    from one host land on both sides and the eval leaks). The standard
    web-corpus holdout discipline (e.g. C4's validation split is
    URL-disjoint; domain-disjoint is the stricter form).

    ``splits``: name → fraction (summing to 1.0; resolved at 1/10000
    granularity). Assignment is the md5 ``sample_bucket_col`` device on
    (registrable ‖ salt): a pure function of the domain, so it is
    reproducible across runs, engines, partitionings and cluster sizes,
    and an incremental crawl lands new pages of a known domain in the
    SAME split forever. Thresholds are cumulative over the
    name-sorted splits (deterministic bucket→split mapping).

    Hosts that ARE a bare public suffix parse to registrable NULL and
    fall back to the raw host; NULL hosts key as '' (one group — the
    conservative choice: all unattributable docs stay on one side).
    Pure narrow projection — zero exchanges, zero Python.
    """
    from .htmlgraph import domain_parse

    if splits is None:
        splits = {"train": 0.98, "valid": 0.01, "test": 0.01}
    items = sorted(splits.items())
    weights = [int(round(f * 10000)) for _, f in items]
    if sum(weights) != 10000:
        raise ValueError(f"holdout_split: fractions sum to {sum(weights)/10000}")
    added = [c for c in ("suffix", "registrable", "subdomain") if c not in df.columns]
    parsed = domain_parse(df, host_col=host_col, psl=psl)
    key = F.coalesce(F.col("registrable"), F.col(host_col), F.lit(""))
    bucket = sample_bucket_col(key, salt)
    split = None
    cum = 0
    for (name, _), w in zip(items, weights):
        cum += w
        cond = bucket < F.lit(cum)
        split = F.when(cond, name) if split is None else split.when(cond, name)
    return (
        parsed.withColumn("split_key", key)
        .withColumn("bucket", bucket)
        .withColumn("split", split)
        .drop(*added)
    )


def sql_holdout_split(
    docs_select: str,
    splits: dict | None = None,
    salt: str = "split",
    psl: list | None = None,
    select_cols: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`holdout_split` over a subquery yielding
    ``host`` plus ``select_cols`` — the sql_domain_parse CTE feeds the
    same md5 bucket and the same cumulative name-sorted CASE."""
    from .htmlgraph import sql_domain_parse

    if splits is None:
        splits = {"train": 0.98, "valid": 0.01, "test": 0.01}
    items = sorted(splits.items())
    weights = [int(round(f * 10000)) for _, f in items]
    if sum(weights) != 10000:
        raise ValueError(f"sql_holdout_split: fractions sum to {sum(weights)/10000}")
    key = "coalesce(dp.registrable, d.host, '')"
    bucket = _sql_md5_bucket(key, salt, 10000)
    cum = 0
    whens = []
    for (name, _), w in zip(items, weights):
        cum += w
        whens.append(f"WHEN {bucket} < {cum} THEN '{name}'")
    dp = sql_domain_parse("SELECT DISTINCT host FROM hs_docs", psl=psl)
    return (
        f"WITH hs_docs AS ({docs_select}), "
        f"hs_dp AS ({dp}) "
        f"SELECT {select_cols}, d.host, "
        f"{key} AS split_key, {bucket} AS bucket, "
        f"CASE {' '.join(whens)} END AS split "
        "FROM hs_docs d LEFT JOIN hs_dp dp ON d.host = dp.host"
    )


# --------------------------------------------------------------------------
# phrase-blocklist gate (UT1 / LDNOOBW / Dolma-style toxicity filtering)
# --------------------------------------------------------------------------
#
# C4's bad-word rule above is a LITERAL-ARRAY membership test — right for
# a few hundred single words, wrong for production blocklists: UT1 ships
# millions of entries and Dolma's taggers match multi-word PHRASES with
# per-entry severity. This operator is the dim-table form: the blocklist
# is a (phrase, tier) DataFrame, matching is word-n-gram equality (n = 1
# .. max words in any phrase), and the join is an explicit broadcast hash
# join — the blocklist is a dimension table, the corpus is the fact.
#
# Scale shape at 10^12 docs: one narrow gram explode (O(max_n · L) rows
# per doc, bounded by document length), one BROADCAST join (no shuffle of
# the corpus), one doc-keyed aggregation (map-side combinable counts),
# one doc-keyed left join back so every input doc gets a verdict row —
# zero-hit docs MUST surface as blocked=false rows, silent drops are how
# gates corrupt mixture accounting downstream.
#
# Verdict rule (deterministic, integer-only):
#   * worst_tier = max tier over matches (0 when no match);
#   * hit_tokens = total words covered by matches (a 2-word phrase
#     counts 2 — span accounting, not match counting);
#   * hit_ppm    = hit_tokens * 10^6 div n_tokens (exact int division);
#   * blocked    = worst_tier >= hard_tier OR hit_ppm >= hit_ppm_max.
# Tiered severity is the published shape: hard entries drop on ANY hit,
# soft entries drop only on density (Dolma's fraction-based taggers).


def blocklist_gate(
    df: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_n: int = 2,
    hard_tier: int = 2,
    hit_ppm_max: int = 60000,
) -> DataFrame:
    """Per-doc blocklist verdicts: (doc_id, n_tokens, n_hits, n_phrases,
    hit_tokens, hit_ppm, worst_tier, blocked).

    ``phrases`` is a (phrase string, tier int) dimension table; phrases
    are lowercase, single-space-joined words, at most ``max_n`` words
    (matching tokenization = the corpus-wide _lower_words split, so the
    blocklist and the corpus cannot disagree on word boundaries).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        _lower_words(F.coalesce(F.col(text_col), F.lit(""))).alias("w"),
    ).select("doc_id", "w", F.size("w").cast("long").alias("n_tokens"))

    # gram stream: for each n, every n-word window joined by one space.
    # flatten(transform(...)) keeps it ONE explode, not max_n explodes.
    # NB: the lambda must be built by a factory with exactly ONE
    # parameter — a `lambda i, n=n:` default arg makes F.transform pass
    # the element INDEX into n (transform supports 2-arg lambdas).
    def _gram_at(n: int):
        return lambda i: F.struct(
            F.array_join(F.slice("w", i + 1, n), " ").alias("gram"),
            F.lit(n).alias("gn"),
        )

    # sequence(0, size-n) DESCENDS when size < n (Spark sequences are
    # bidirectional) — short docs must yield an empty gram list, not a
    # slice(start=0) error, so each n is gated on size >= n
    empty = F.array().cast(
        "array<struct<gram:string,gn:int>>"
    )
    per_n = [
        F.when(
            F.size("w") >= n,
            F.transform(F.sequence(F.lit(0), F.size("w") - n), _gram_at(n)),
        ).otherwise(empty)
        for n in range(1, max_n + 1)
    ]
    grams = (
        toks.filter(F.size("w") >= 1)
        .select("doc_id", F.explode(F.flatten(F.array(*per_n))).alias("g"))
        .select("doc_id", F.col("g.gram").alias("gram"), F.col("g.gn").alias("gn"))
    )
    hits = (
        grams.join(F.broadcast(phrases), grams["gram"] == phrases["phrase"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("gram").alias("n_phrases"),
            F.sum(F.col("gn").cast("long")).alias("hit_tokens"),
            F.max("tier").alias("worst_tier"),
        )
    )
    out = toks.select("doc_id", "n_tokens").join(hits, "doc_id", "left")
    hit_tokens = F.coalesce(F.col("hit_tokens"), F.lit(0).cast("long"))
    worst = F.coalesce(F.col("worst_tier"), F.lit(0))
    hit_ppm = F.coalesce(
        F.expr("coalesce(hit_tokens, 0L) * 1000000L div nullif(n_tokens, 0L)"),
        F.lit(0).cast("long"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        F.coalesce(F.col("n_phrases"), F.lit(0).cast("long")).alias("n_phrases"),
        hit_tokens.alias("hit_tokens"),
        hit_ppm.alias("hit_ppm"),
        worst.alias("worst_tier"),
        (
            (worst >= F.lit(hard_tier)) | (hit_ppm >= F.lit(hit_ppm_max))
        ).alias("blocked"),
    )


def sql_blocklist_gate(
    phrases_values: str,
    text_expr: str = "text",
    id_expr: str = "doc_id",
    max_n: int = 2,
    hard_tier: int = 2,
    hit_ppm_max: int = 60000,
    rel: str = "documents",
) -> str:
    """DuckDB twin of :func:`blocklist_gate`. ``phrases_values`` is an
    inline relation literal ``(VALUES ...) p(phrase, tier)``."""
    tx = f"coalesce({text_expr}, '')"
    gram_selects = []
    for n in range(1, max_n + 1):
        gram_selects.append(
            f"SELECT doc_id, array_to_string(w[i:i+{n - 1}], ' ') AS gram, "
            f"{n} AS gn FROM (SELECT doc_id, w, "
            f"unnest(generate_series(1, len(w) - {n - 1})) AS i "
            f"FROM t WHERE len(w) >= {n})"
        )
    grams = " UNION ALL ".join(gram_selects)
    return (
        f"WITH t AS (SELECT {id_expr} AS doc_id, "
        f"{_sql_lower_words(tx)} AS w FROM {rel}), "
        f"g AS ({grams}), "
        f"h AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits, "
        "CAST(count(DISTINCT g.gram) AS BIGINT) AS n_phrases, "
        "CAST(sum(g.gn) AS BIGINT) AS hit_tokens, "
        "max(p.tier) AS worst_tier "
        f"FROM g JOIN {phrases_values} ON g.gram = p.phrase "
        "GROUP BY g.doc_id), "
        "v AS (SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens, "
        "coalesce(h.n_hits, 0) AS n_hits, "
        "coalesce(h.n_phrases, 0) AS n_phrases, "
        "coalesce(h.hit_tokens, 0) AS hit_tokens, "
        "coalesce(CAST(coalesce(h.hit_tokens, 0) * 1000000 "
        "// nullif(CAST(len(t.w) AS BIGINT), 0) AS BIGINT), 0) AS hit_ppm, "
        "coalesce(h.worst_tier, 0) AS worst_tier "
        "FROM t LEFT JOIN h ON t.doc_id = h.doc_id) "
        "SELECT doc_id, n_tokens, n_hits, n_phrases, hit_tokens, hit_ppm, "
        f"worst_tier, (worst_tier >= {hard_tier} OR hit_ppm >= {hit_ppm_max}) "
        "AS blocked FROM v"
    )
