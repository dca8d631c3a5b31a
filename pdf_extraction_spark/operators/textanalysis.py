"""Text analysis for training-data curation: language ID, token counts,
quality ratios, document fingerprinting.

Native where Catalyst can express it (token/char/punct/stopword ratios —
pure column math), pandas-UDF where the kernel is the contract
(fingerprint, langid over kernel stopword tables).
"""

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.textstats import detect_language, fingerprint, token_count
from ..session import per_call_pandas_udf

# regex-token count, native: word runs (with inner apostrophes) or single
# non-space punctuation — mirrors kernels.textstats.tokenize.
#
# Both engines run the LITERAL SAME pattern text: explicit Unicode
# classes [\p{L}\p{M}\p{N}_] and an explicit White_Space body
# (kernels.wsre — its text parses identically in Java and RE2). The
# previous Spark side used Java (?U)\w, whose semantics silently
# diverge from the class spelling in two hostile cases the adversarial
# sweep caught: Java \w includes the ZWNJ/ZWJ join controls (words
# joined by them counted as ONE token on Spark, three on DuckDB) and
# Java \p{Digit} is Nd-only (so superscript ²/³, gc=No, split off as
# punctuation on Spark but merged into words on DuckDB and in the
# Python kernel). With the shared class text, both cases agree — and
# agree with kernels.textstats.tokenize (Python \w ≈ alnum: includes
# No, excludes join controls). Residual kernel deviation (documented,
# deliberate): combining marks (gc=M) merge into words here and in the
# twin but tokenize separately in the Python kernel — use
# token_count_udf where exact kernel parity matters.
from ..kernels.wsre import WHITE_SPACE_BODY as _UWS

_CLS_W = r"[\p{L}\p{M}\p{N}_]"
_TOKEN_PATTERN = rf"{_CLS_W}+(?:'{_CLS_W}+)?|[^\p{{L}}\p{{N}}_{_UWS}]"
# punctuation = not word-class, not whitespace — the same shared class
# text on both engines (Java (?U)[^\w\s] had the join-control and
# gc=No divergences described above)
_PUNCT_PATTERN = rf"[^\p{{L}}\p{{M}}\p{{N}}_{_UWS}]"


def token_count_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(_TOKEN_PATTERN), F.lit(0)))


def sql_token_count(expr: str) -> str:
    pat = _TOKEN_PATTERN.replace("'", "''")
    return f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS INT)"


def with_quality_ratios(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ish ratios — cheap quality
    signals, all codegen'd."""
    c = F.col(text_col)
    n_chars = F.length(c)
    words = F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != F.lit(""))
    n_words = F.size(words)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(_PUNCT_PATTERN), F.lit(0)))
    stop = F.array(*[F.lit(w) for w in ["the", "a", "of", "to", "and", "in", "is"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    safe_words = F.greatest(n_words, F.lit(1))
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("avg_word_len", F.round(n_chars / safe_words, 4))
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4))
        .withColumn("stopword_ratio", F.round(n_stop / safe_words, 4))
    )


def with_unigram_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of each document's unigram distribution —
    RedPajama-v2's ``rps_doc_unigram_entropy`` quality signal (low
    entropy = repetitive/templated/keyword-stuffed text; gibberish
    byte soup scores anomalously high). H = -Σ (c/n)·ln(c/n) over the
    per-doc word counts, computed as H = (n·I(n) − Σ c·I(c)) / (n·10⁹)
    with I(x) = round(ln(x)·10⁹) as int64 — the md5-sketch fixed-point
    device: the only float op either engine performs per word is one
    ln() rounded to integer at 10⁹ scale (the engines' ln() disagree
    by ~1000 ulps, ≪ half a quantum), after which every sum is exact
    associative int64 arithmetic — bit-identical across engines,
    partitionings, and cluster sizes, no ordered-fold machinery even
    for million-word documents. Overflow bound: Σ c·I(c) ≤ n·ln(n)·10⁹
    stays inside int64 for docs up to ~3·10⁸ words.

    Scale shape: tokenize → explode → two map-side-combinable integer
    groupBys ((doc, word) then doc). No window, no Python stage, no
    driver state. Docs with zero tokens (NULL/empty/whitespace text)
    have no unigram distribution and emit no row — in both engines.

    Tokenization is the shared curation word splitter
    (:func:`curation._lower_words`) so the signal can't drift from the
    repetition/sketch family that feeds the same gates."""
    from .curation import _lower_words
    from .mlfilter import _round6z

    words = df.select(
        F.col(id_col),
        F.explode(_lower_words(F.coalesce(F.col(text_col), F.lit("")))).alias("w"),
    )
    counts = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))

    def iln(c: Column) -> Column:
        return F.round(F.log(c.cast("double")) * F.lit(1e9)).cast("long")

    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * iln(F.col("c"))).alias("s"),
    )
    n = F.col("n_words")
    entropy = (n * iln(n) - F.col("s")) / (n.cast("double") * F.lit(1e9))
    return per_doc.select(
        id_col, "n_words", _round6z(entropy).alias("entropy")
    )


def sql_unigram_entropy(rel: str = "documents", text_expr: str = "text") -> str:
    """DuckDB oracle twin of :func:`with_unigram_entropy` — identical
    fixed-point recursion; sums cast back to BIGINT (DuckDB widens
    integer SUM to HUGEINT, Spark keeps long)."""
    from .curation import _sql_lower_words
    from .mlfilter import _sql_round6z

    iln = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9) AS BIGINT)"
    h = _sql_round6z(
        "(n_words * " + iln.format(x="n_words")
        + " - s) / (CAST(n_words AS DOUBLE) * 1e9)"
    )
    return (
        "WITH w AS (SELECT doc_id, unnest("
        + _sql_lower_words(f"coalesce({text_expr}, '')")
        + f") AS w FROM {rel}), "
        "c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w), "
        "a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, "
        "CAST(sum(c * " + iln.format(x="c") + ") AS BIGINT) AS s "
        "FROM c GROUP BY doc_id) "
        f"SELECT doc_id, n_words, {h} AS entropy FROM a"
    )


@per_call_pandas_udf(T.StringType())
def langid_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: detect_language(t or ""))


@per_call_pandas_udf(T.LongType())
def token_count_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: token_count(t or ""))


@per_call_pandas_udf(T.LongType())
def fingerprint_udf(texts: pd.Series) -> pd.Series:
    def f(t):
        v = fingerprint(t or "")
        return v - (1 << 64) if v >= (1 << 63) else v

    return texts.map(f)


def sql_detect_language(text_expr: str) -> str:
    """DuckDB oracle twin of kernels.textstats.detect_language: stopword
    occurrence counts per language, first-in-dict-order language with
    the max count wins, 'und' below 2 hits. The word split spells the
    kernel's Python ``str.split()`` whitespace set explicitly
    (kernels.wsre.PY_WS) so both engines agree on every input, exotic
    whitespace included."""
    from ..kernels.textstats import _LANG_STOPWORDS
    from ..kernels.wsre import PY_WS_SPLIT

    langs = list(_LANG_STOPWORDS)  # dict order IS the tie-break order
    hit_cols = []
    for lang in langs:
        stops = ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(_LANG_STOPWORDS[lang]))
        hit_cols.append(
            f"len(list_filter(words, x -> list_contains([{stops}], x))) AS h_{lang}"
        )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    whens = " ".join(f"WHEN h_{lang} = best THEN '{lang}'" for lang in langs[:-1])
    return (
        "SELECT doc_id, CASE WHEN best < 2 THEN 'und' "
        + whens
        + f" ELSE '{langs[-1]}' END AS detected_lang FROM ("
        + f"SELECT doc_id, {best} AS best, * FROM ("
        + "SELECT doc_id, " + ", ".join(hit_cols)
        # NULL text must read as empty: otherwise every h_* is NULL, no
        # CASE arm fires, and the ELSE emits the LAST language
        + f" FROM (SELECT doc_id, list_filter(string_split_regex("
        f"lower(coalesce({text_expr}, '')), '{PY_WS_SPLIT}'), "
        "x -> x <> '') AS words FROM documents)))"
    )


def fix_mojibake_col(c: Column, passes: int = 1) -> Column:
    """Mojibake repair (UTF-8-as-Latin-1), entirely native — the JVM
    does the re-encode/re-decode, no Python crossing. Guard chain and
    semantics are the pure-Python contract in kernels/encoding.py:
    repair only when (1) every char ≤ 0xFF, (2) a lead-byte+
    continuation-byte marker pair is present, (3) the Latin-1 bytes
    are valid UTF-8 in full. Spark 4's strict ``encode`` never throws
    here: guard (1) makes ISO-8859-1 encoding total, and CASE WHEN
    evaluates the repair branch only on guarded rows. ``passes=2``
    unwinds doubly-damaged text."""
    from ..kernels.encoding import MARKER_PATTERN

    out = c
    for _ in range(passes):
        latin1 = F.encode(out, "ISO-8859-1")
        # nested WHEN: the encode must only ever run on rows that
        # passed the ≤0xFF range guard (branch evaluation is lazy per
        # row; relying on And short-circuit order would be fragile
        # under expression rewrites)
        # negated find, not '^[...]*$': Java's $ matches before a FINAL
        # U+2028/U+2029/NEL, so the anchored form would wave through a
        # text whose only supra-0xFF char is a trailing line separator —
        # and the strict encode below would then throw on it
        out = F.when(
            ~out.rlike(r"[^\x00-\xff]") & out.rlike(MARKER_PATTERN),
            F.when(
                F.is_valid_utf8(latin1), F.decode(latin1, "UTF-8")
            ).otherwise(out),
        ).otherwise(out)
    return out


# --------------------------------------------------------------------------
# Unicode NFC normalization (UAX #15)
# --------------------------------------------------------------------------

@per_call_pandas_udf(T.StringType())
def nfc_normalize_udf(s: pd.Series) -> pd.Series:
    import unicodedata

    return s.map(lambda t: None if t is None else unicodedata.normalize("NFC", t))


def nfc_normalize_col(text: Column) -> Column:
    """Unicode NFC normalization — the canonicalization that must
    precede any hash-keyed text dedup: composed ('é') and decomposed
    ('e' + U+0301) spellings of the same text otherwise get different
    128-bit keys and silently escape dedup_exact / dedup_lines. Spark
    has no native normalizer, so this is an Arrow-batched pandas UDF
    (unicodedata.normalize per batch); DuckDB's built-in nfc_normalize
    is the oracle twin. Total: NULL → NULL."""
    return nfc_normalize_udf(text)


@per_call_pandas_udf(T.StringType())
def fold_accents_udf(s: pd.Series) -> pd.Series:
    import unicodedata

    def fold(t):
        if t is None:
            return None
        stripped = "".join(
            c
            for c in unicodedata.normalize("NFD", t)
            if not unicodedata.category(c).startswith("M")
        )
        # recompose: without this, NFD leaves Hangul syllables as jamo
        # (they decompose but carry no marks) and the fold would
        # diverge from strip_accents on every precomposed syllable
        return unicodedata.normalize("NFC", stripped)

    return s.map(fold)


def fold_accents_col(text: Column) -> Column:
    """Accent/diacritic folding (NFC ∘ drop-gc=M* ∘ NFD): the
    aggressive text-key normalization one step past NFC — 'café',
    'café' (decomposed), and 'cafe' all collapse to one dedup key, the
    standard looser-matching key for near-dup mining and query-side
    folding. Dropping gc=M* (not just nonzero-combining-class — spacing
    marks like Devanagari matras are ccc=0 but still marks) then
    recomposing matches DuckDB's strip_accents builtin, verified by an
    exhaustive BMP sweep (tests/test_textstats.py::TestFoldAccents):
    the ONLY divergent code points are the 40 combining marks added in
    Unicode 13/14 (U+0898.., U+0B55, U+1AC1.., ...), which this
    Python's newer Unicode tables drop and DuckDB's older utf8proc
    keeps — a pinned engine-version skew, not an algorithm difference.
    Chars with no decomposition (ł, ø, ß) pass through unchanged in
    both. Total: NULL → NULL."""
    return fold_accents_udf(text)


# ---------------------------------------------------------------------------
# Unicode script profile (per-doc script histogram + homoglyph flag)
# ---------------------------------------------------------------------------
#
# Web-corpus QA signal the langid heuristic can't provide: WHICH
# writing system a page is in, and whether it mixes scripts (the
# Cyrillic-in-Latin homoglyph shape of SEO/phishing spam, or genuinely
# multilingual pages that need different downstream handling).
#
# Counts come from literal-codepoint-range character classes — the
# ranges are embedded as actual Unicode characters, so the same
# pattern string means the same thing to Java regex and RE2 with no
# escape-dialect translation. The mixed-script rule is INTEGER math
# (20 * off_script > n_scripted, i.e. > 5% of script-classified chars
# outside the dominant script), so the twin needs no float convention;
# the one float column (dominant-script fraction) is rounded half-up
# IN THE RATIONAL DOMAIN ((2*10^4*mx + ns) div (2*ns), the pagerank
# device) before the exact final division — Spark's F.round and
# DuckDB's round() disagree on double half-ties, so no engine's float
# rounding ever runs.
#
# Scale shape: ~11 vectorized JVM regex scans per row inside one
# codegen'd projection — narrow, zero exchanges.

_SCRIPT_RANGES = {
    # BMP ranges; ext planes are counted into `other`
    "latin": [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F), (0x1E00, 0x1EFF)],
    "cyrillic": [(0x400, 0x4FF), (0x500, 0x52F)],
    "greek": [(0x370, 0x3FF), (0x1F00, 0x1FFF)],
    "arabic": [(0x600, 0x6FF), (0x750, 0x77F)],
    "hebrew": [(0x590, 0x5FF)],
    "cjk": [(0x4E00, 0x9FFF), (0x3400, 0x4DBF)],
    "kana": [(0x3040, 0x30FF)],
    "hangul": [(0xAC00, 0xD7AF), (0x1100, 0x11FF)],
    "devanagari": [(0x900, 0x97F)],
}
_SCRIPT_ORDER = list(_SCRIPT_RANGES)  # tie-break: earlier wins


def _script_class(name: str) -> str:
    """Character class with LITERAL range endpoints (same bytes → same
    semantics in Java regex and RE2)."""
    body = "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in _SCRIPT_RANGES[name])
    return f"[{body}]"


def with_script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-script letter counts, ``n_letters`` (Unicode \\p{L}),
    ``main_script`` ('none' for letterless docs, 'other' when no listed
    script matches), the dominant-script letter fraction and the
    integer-rule ``mixed_script`` flag."""
    c = F.coalesce(F.col(text_col), F.lit(""))

    def cnt(pat: str) -> Column:
        return F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))

    out = df.withColumn("n_letters", cnt(r"\p{L}"))
    for name in _SCRIPT_ORDER:
        out = out.withColumn(f"n_{name}", cnt(_script_class(name)))
    out = out.withColumn("n_digits", cnt("[0-9]"))
    mx = F.greatest(*[F.col(f"n_{n}") for n in _SCRIPT_ORDER])
    # denominator = chars the script ranges CLASSIFIED (the ranges
    # include combining signs that are not \p{L} — e.g. Devanagari
    # vowel marks — so n_letters is the wrong base and would let the
    # fraction exceed 1)
    ns = sum(
        (F.col(f"n_{n}") for n in _SCRIPT_ORDER[1:]),
        F.col(f"n_{_SCRIPT_ORDER[0]}"),
    )
    main = F.when(F.col("n_letters") == 0, F.lit("none")).when(
        mx == 0, F.lit("other")
    )
    for name in _SCRIPT_ORDER:
        main = main.when(F.col(f"n_{name}") == mx, F.lit(name))
    return (
        out.withColumn("main_script", main)
        .withColumn("__mx", mx.cast("long"))
        .withColumn("__ns", ns.cast("long"))
        .withColumn(
            # exact rational half-up to 4 digits, entirely in int64
            # ((2e4*mx + ns) div (2*ns) <= 1e4 << 2^53, so the final
            # division is exact)
            "main_frac",
            F.when(F.col("__ns") == 0, F.lit(0.0)).otherwise(
                F.expr("(20000L * __mx + __ns) div (2L * __ns)").cast("double")
                / F.lit(1e4)
            ),
        )
        .withColumn(
            # >5% of script-classified chars outside the dominant
            # script, in integers
            "mixed_script",
            (F.lit(20) * (ns - mx)) > ns,
        )
        .drop("__mx", "__ns")
    )


def sql_script_profile(rel: str = "documents", text_expr: str = "text") -> str:
    """DuckDB twin of :func:`with_script_profile` (projects doc_id +
    the appended columns; the literal-range classes are byte-identical
    to the Spark patterns)."""
    c = f"coalesce({text_expr}, '')"

    def cnt(pat: str) -> str:
        return f"len(regexp_extract_all({c}, '{pat}'))"

    cols = [f"{cnt(chr(92) + 'p{L}')} AS n_letters"]
    for name in _SCRIPT_ORDER:
        cols.append(f"{cnt(_script_class(name))} AS n_{name}")
    cols.append(f"{cnt('[0-9]')} AS n_digits")
    mx = "greatest(" + ", ".join(cnt(_script_class(n)) for n in _SCRIPT_ORDER) + ")"
    nl = cnt(chr(92) + "p{L}")
    ns = "(" + " + ".join(cnt(_script_class(n)) for n in _SCRIPT_ORDER) + ")"
    branches = " ".join(
        f"WHEN {cnt(_script_class(n))} = {mx} THEN '{n}'" for n in _SCRIPT_ORDER
    )
    cols.append(
        f"CASE WHEN {nl} = 0 THEN 'none' WHEN {mx} = 0 THEN 'other' "
        f"{branches} END AS main_script"
    )
    cols.append(
        f"CASE WHEN {ns} = 0 THEN 0.0 ELSE "
        f"CAST((20000 * {mx} + {ns}) // (2 * {ns}) AS DOUBLE) / 1e4 "
        "END AS main_frac"
    )
    cols.append(f"(20 * ({ns} - {mx})) > {ns} AS mixed_script")
    return f"SELECT doc_id, {', '.join(cols)} FROM {rel}"


# ---------------------------------------------------------------------------
# Readability (Flesch 1948 / Kincaid 1975) — fixed-point, fully native
# ---------------------------------------------------------------------------
#
# The classic reading-ease / grade-level pair over the shared
# whitespace tokenizer (curation._lower_words), with the standard
# dictionary-free syllable approximation: a word's syllable count is
# its number of [aeiouy]+ vowel runs, floored at 1. Because the
# tokenizer splits on whitespace and a vowel run can never cross a
# whitespace character, the per-doc syllable total decomposes into ONE
# vectorized JVM regexp scan over the lowered text (total vowel runs)
# plus the count of vowelless tokens — no per-word regexp loop in the
# hot path.
#
# Both scores are computed in exact int64 fixed point at 10^-6
# precision: each rational term (words/sentence, syllables/word) is
# half-up rounded to 6 decimals by integer cross-multiplication BEFORE
# any float exists, so Spark and DuckDB produce bit-identical doubles
# regardless of their float-rounding conventions. Scores are clamped
# at 0 (the published formulas go negative on degenerate text, and
# engines disagree on floor-vs-truncate for negative integer division
# — clamping in the integer domain keeps every division non-negative
# where the two engines agree). Zero-word docs score NULL.
#
# Scale shape: pure narrow projection — two regexp scans + one array
# filter per row, zero exchanges, zero Python.


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``rd_words``, ``rd_sents``, ``rd_syllables``, ``flesch``
    (reading ease, clamped ≥ 0) and ``fk_grade`` (Flesch-Kincaid grade
    level, clamped ≥ 0) — all from the shared whitespace tokenizer and
    the vowel-run syllable approximation. NULL text counts as empty;
    zero-word docs get NULL scores; sentence count floors at 1 so a
    terminal-punctuation-free doc is one long sentence."""
    from .curation import _lower_words

    tx = F.coalesce(F.col(text_col), F.lit(""))
    words = _lower_words(tx)
    n_words = F.size(words).cast("long")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(tx, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("long")
    runs = F.size(F.regexp_extract_all(F.lower(tx), F.lit("[aeiouy]+"), F.lit(0)))
    vowelless = F.size(F.filter(words, lambda w: ~w.rlike("[aeiouy]")))
    n_syll = (runs + vowelless).cast("long")
    out = (
        df.withColumn("rd_words", n_words)
        .withColumn("rd_sents", n_sents)
        .withColumn("rd_syllables", n_syll)
    )
    wps6 = "(1015000L * rd_words + rd_sents div 2L) div rd_sents"
    spw6 = "(84600000L * rd_syllables + rd_words div 2L) div rd_words"
    g6 = "(390000L * rd_words + rd_sents div 2L) div rd_sents"
    g2_6 = "(11800000L * rd_syllables + rd_words div 2L) div rd_words"
    return out.withColumn(
        "flesch",
        F.expr(
            "CASE WHEN rd_words > 0 THEN "
            f"CAST(greatest(0L, 206835000L - ({wps6}) - ({spw6})) AS DOUBLE) / 1e6 "
            "END"
        ),
    ).withColumn(
        "fk_grade",
        F.expr(
            "CASE WHEN rd_words > 0 THEN "
            f"CAST(greatest(0L, ({g6}) + ({g2_6}) - 15590000L) AS DOUBLE) / 1e6 "
            "END"
        ),
    )


def sql_readability(
    rel: str = "documents", id_expr: str = "doc_id", text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`with_readability` — same tokenizer
    fragment, same vowel-run + vowelless-token syllable identity, same
    int64 fixed-point terms (all operands non-negative, so DuckDB's
    floor ``//`` equals Spark's ``div``)."""
    from .curation import _sql_lower_words

    w = _sql_lower_words(f"coalesce({text_expr}, '')")
    tx = f"coalesce({text_expr}, '')"
    wps6 = "(1015000 * rd_words + rd_sents // 2) // rd_sents"
    spw6 = "(84600000 * rd_syllables + rd_words // 2) // rd_words"
    g6 = "(390000 * rd_words + rd_sents // 2) // rd_sents"
    g2_6 = "(11800000 * rd_syllables + rd_words // 2) // rd_words"
    return (
        f"WITH b AS (SELECT {id_expr} AS doc_id, "
        f"CAST(len({w}) AS BIGINT) AS rd_words, "
        f"CAST(greatest(len(regexp_extract_all({tx}, '[.!?]+')), 1) AS BIGINT) "
        "AS rd_sents, "
        f"CAST(len(regexp_extract_all(lower({tx}), '[aeiouy]+')) "
        f"+ len(list_filter({w}, x -> NOT regexp_matches(x, '[aeiouy]'))) "
        f"AS BIGINT) AS rd_syllables FROM {rel}) "
        "SELECT doc_id, rd_words, rd_sents, rd_syllables, "
        "CASE WHEN rd_words > 0 THEN "
        f"CAST(greatest(0, 206835000 - ({wps6}) - ({spw6})) AS DOUBLE) / 1e6 "
        "END AS flesch, "
        "CASE WHEN rd_words > 0 THEN "
        f"CAST(greatest(0, ({g6}) + ({g2_6}) - 15590000) AS DOUBLE) / 1e6 "
        "END AS fk_grade FROM b"
    )


# --------------------------------------------------------------------------
# Sentence segmentation (native, cross-engine)
# --------------------------------------------------------------------------

# Terminator = [.!?]+ plus trailing closing quotes/brackets; a sentence
# boundary is terminator followed by whitespace. RE2 has no lookbehind,
# so the split is staged: (1) strip any pre-existing \x1E record
# separators (the marker must be unambiguous), (2) rewrite
# boundary-whitespace to \x1E keeping the terminator via a replacement
# backreference ($1 in Java, \1 in RE2 — the one sanctioned per-engine
# spelling difference, pattern TEXT is identical), (3) split on \x1E,
# (4) trim + drop empties. A trailing fragment without a terminator is
# kept (truncated crawls end mid-sentence; droppping them would bias
# short docs). Abbreviation dots ("Dr. Smith") split — the standard
# cost of regex segmentation, identical in both engines.
from ..kernels.wsre import JAVA_WS_BODY as _SENT_WS_BODY

_SENT_MARK = "\x1e"
_SENT_BOUNDARY = "([.!?][\"')\\]]*)[" + _SENT_WS_BODY + "]+"


def sentences_col(text: Column) -> Column:
    """Array of trimmed, non-empty sentences in document order."""
    t = F.coalesce(text, F.lit(""))
    t = F.regexp_replace(t, _SENT_MARK, "")
    marked = F.regexp_replace(t, _SENT_BOUNDARY, "$1" + _SENT_MARK)
    return F.filter(
        F.transform(F.split(marked, _SENT_MARK), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )


def explode_sentences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sent_no, sentence, n_words) — one row per sentence,
    0-based document order, Java-WS word count (the curation-family
    convention). Narrow map + explode: zero exchanges, zero Python."""
    from ..kernels.wsre import JAVA_WS_SPLIT

    pos = F.posexplode(sentences_col(F.col(text_col)))
    out = df.select(F.col(id_col).alias("doc_id"), pos.alias("sent_no", "sentence"))
    n_words = F.size(
        F.filter(
            F.split(F.col("sentence"), JAVA_WS_SPLIT), lambda w: w != F.lit("")
        )
    )
    return out.withColumn("sent_no", F.col("sent_no").cast("int")).withColumn(
        "n_words", n_words.cast("int")
    )


def sql_explode_sentences(rel: str, text_expr: str = "text") -> str:
    """DuckDB twin of :func:`explode_sentences` (\\1 replacement
    backreference — RE2's spelling of Java's $1; same pattern text)."""
    from ..kernels.wsre import JAVA_WS_SPLIT

    pat = _SENT_BOUNDARY.replace("'", "''")
    ws = JAVA_WS_SPLIT.replace("'", "''")
    sent_list = (
        "list_filter(list_transform(string_split("
        f"regexp_replace(replace(coalesce({text_expr}, ''), chr(30), ''), "
        f"'{pat}', '\\1' || chr(30), 'g'), chr(30)), s -> trim(s)), "
        "s -> s <> '')"
    )
    return (
        f"WITH s AS (SELECT doc_id, {sent_list} AS sents FROM {rel}), "
        "e AS (SELECT doc_id, unnest(sents) AS sentence, "
        "CAST(unnest(generate_series(0, len(sents) - 1)) AS INT) AS sent_no "
        "FROM s WHERE len(sents) > 0) "
        "SELECT doc_id, sent_no, sentence, "
        f"CAST(len(list_filter(string_split_regex(sentence, '{ws}'), "
        "w -> w <> '')) AS INT) AS n_words FROM e"
    )


# -- sentence-boundary RAG chunking -------------------------------------
#
# chunk_sliding_window cuts fixed token strides regardless of syntax;
# retrieval quality wants chunks that END at sentence boundaries. The
# deterministic form used here is BUDGET QUANTIZATION: sentence s goes
# to chunk floor(prefix_words_before_s / budget). Like greedy packing,
# a chunk can overshoot the budget by at most its closing sentence;
# unlike greedy-with-reset the assignment is a pure function of the
# prefix sums, so engines, partitionings and cluster sizes agree
# bit-for-bit and the chunk ids are stable under re-runs (resume-safe
# lineage keys). Integer math only.


def sentence_chunks(
    df: DataFrame,
    budget: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, n_sents, n_words, chunk_text): sentence-
    boundary chunks of ~``budget`` words. Scale shape: sentence
    explode + ONE doc-keyed window prefix sum (docs are length-bounded
    — the pack_sequences precedent; no corpus-global window), then a
    (doc, chunk) groupBy whose reassembly is order-pinned via
    array_sort over (sent_no, sentence) structs — collect_list order
    is undefined, the sort makes it deterministic."""
    from pyspark.sql import Window

    es = explode_sentences(df, text_col, id_col)
    w = Window.partitionBy("doc_id").orderBy("sent_no")
    cb = (
        F.sum(F.col("n_words").cast("long")).over(w) - F.col("n_words")
    ).alias("cb")
    chunked = es.select(
        "doc_id", "sent_no", "sentence", "n_words", cb
    ).withColumn("chunk_id", F.expr(f"cb div {int(budget)}").cast("int"))
    return (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_sents"),
            F.sum(F.col("n_words").cast("long")).alias("n_words"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sent_no", "sentence"))
                    ),
                    lambda s: s["sentence"],
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def sql_sentence_chunks(
    rel: str, budget: int = 64, text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`sentence_chunks` — same explode, same
    prefix sum, same integer quantization, string_agg ORDER BY
    sent_no."""
    return (
        f"WITH e AS ({sql_explode_sentences(rel, text_expr)}), "
        "c AS (SELECT doc_id, sent_no, sentence, n_words, "
        "CAST(sum(n_words) OVER (PARTITION BY doc_id ORDER BY sent_no "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_words "
        "AS BIGINT) AS cb FROM e) "
        f"SELECT doc_id, CAST(cb // {int(budget)} AS INT) AS chunk_id, "
        "CAST(count(*) AS BIGINT) AS n_sents, "
        "CAST(sum(n_words) AS BIGINT) AS n_words, "
        "string_agg(sentence, ' ' ORDER BY sent_no) AS chunk_text "
        f"FROM c GROUP BY doc_id, cb // {int(budget)}"
    )


# -- paragraph-level language mixing -----------------------------------
#
# Document-level langid (langid_udf / sql_detect_language) answers "what
# language is this page"; multilingual crawls also need "is this page
# ONE language" — boilerplate-translated footers, quoted sources, and
# CMS language soup produce pages whose paragraphs disagree, and the
# curation call (route to per-language pipelines vs drop) keys on the
# per-paragraph verdict. This operator runs the SAME stopword langid
# (kernels.textstats._LANG_STOPWORDS: hit counts per language, first in
# dict order wins ties, 'und' below 2 hits) per blank-line-separated
# paragraph (curation.PARA_SPLIT_RE, the dedup_paragraphs unit), fully
# NATIVE — nested array HOFs inside one codegen'd projection, zero
# Python, zero exchanges. At 10^12 docs it is a pure narrow map; the
# per-row cost is O(paragraphs² · 5 langs) comparisons, bounded by
# paragraph counts, not corpus size.
#
# Doc-level verdicts (documented, deterministic, identical in the twin):
#   * dominant_lang = modal paragraph language, 'und' rows included in
#     the vote; ties break to the lexicographically SMALLEST language
#     (a different rule than the per-paragraph dict-order tie — the
#     modal vote has no natural dict order);
#   * n_langs counts distinct REAL languages ('und' excluded);
#   * mix_frac = fraction of paragraphs outside the dominant language;
#   * is_mixed = n_langs >= 2.


def _para_langid(p: Column) -> Column:
    """Per-paragraph stopword langid as a native expression (the
    detect_language kernel's exact decision procedure)."""
    from ..kernels.textstats import _LANG_STOPWORDS
    from ..kernels.wsre import PY_WS_SPLIT

    words = F.filter(
        F.split(F.lower(p), PY_WS_SPLIT), lambda w: w != F.lit("")
    )
    langs = list(_LANG_STOPWORDS)

    def _hit_pred(stops):
        arr = F.array(*[F.lit(x) for x in stops])
        return lambda w: F.array_contains(arr, w)

    hits = {
        lang: F.size(F.filter(words, _hit_pred(sorted(_LANG_STOPWORDS[lang]))))
        for lang in langs
    }
    best = F.greatest(*hits.values())
    verdict = F.when(best < F.lit(2), F.lit("und"))
    for lang in langs[:-1]:
        verdict = verdict.when(hits[lang] == best, F.lit(lang))
    return verdict.otherwise(F.lit(langs[-1]))


def with_language_mix(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Append (n_paras, dominant_lang, n_langs, mix_frac, is_mixed):
    per-paragraph stopword langid aggregated to a page-level
    code-switching verdict. Zero-paragraph docs keep their row with
    NULL dominant_lang/mix_frac."""
    from .curation import PARA_SPLIT_RE

    paras = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), PARA_SPLIT_RE),
        lambda x: F.trim(x) != F.lit(""),
    )
    plangs = F.transform(paras, _para_langid)
    out = df.withColumn("_plangs", plangs)
    pl = F.col("_plangs")
    dl = F.array_distinct(pl)

    def cnt(l):
        return F.size(F.filter(pl, lambda x: x == l))

    max_cnt = F.array_max(F.transform(dl, cnt))
    dominant = F.array_min(F.filter(dl, lambda l: cnt(l) == max_cnt))
    n_paras = F.size(pl)
    return (
        out.withColumn("n_paras", n_paras.cast("int"))
        .withColumn("dominant_lang", dominant)
        .withColumn(
            "n_langs",
            F.size(F.filter(dl, lambda l: l != F.lit("und"))).cast("int"),
        )
        .withColumn(
            "mix_frac",
            F.when(
                n_paras > 0,
                F.lit(1.0) - max_cnt.cast("double") / n_paras.cast("double"),
            ),
        )
        .withColumn("is_mixed", F.col("n_langs") >= 2)
        .drop("_plangs")
    )


def sql_language_mix(rel: str, text_expr: str = "text") -> str:
    """DuckDB twin of :func:`with_language_mix` (same stopword tables,
    split regexes, tie rules; list HOFs mirror the array HOFs)."""
    from ..kernels.textstats import _LANG_STOPWORDS
    from ..kernels.wsre import PY_WS_SPLIT

    from .curation import PARA_SPLIT_RE

    langs = list(_LANG_STOPWORDS)
    ws = PY_WS_SPLIT.replace("'", "''")
    para = PARA_SPLIT_RE.replace("'", "''")

    def hit(lang):
        stops = ", ".join(
            "'" + w.replace("'", "''") + "'"
            for w in sorted(_LANG_STOPWORDS[lang])
        )
        return (
            "len(list_filter(list_filter(string_split_regex(lower(p), "
            f"'{ws}'), w -> w <> ''), w -> list_contains([{stops}], w)))"
        )

    best = "greatest(" + ", ".join(hit(lang) for lang in langs) + ")"
    whens = " ".join(
        f"WHEN {hit(lang)} = {best} THEN '{lang}'" for lang in langs[:-1]
    )
    plang = (
        f"CASE WHEN {best} < 2 THEN 'und' {whens} ELSE '{langs[-1]}' END"
    )
    cnt = "len(list_filter(plangs, x -> x = {l}))"
    max_cnt = (
        "list_max(list_transform(list_distinct(plangs), l -> "
        + cnt.format(l="l") + "))"
    )
    return (
        f"WITH p AS (SELECT doc_id, list_transform(list_filter("
        f"string_split_regex(coalesce({text_expr}, ''), '{para}'), "
        f"x -> trim(x) <> ''), p -> {plang}) AS plangs FROM {rel}), "
        f"m AS (SELECT doc_id, plangs, {max_cnt} AS max_cnt FROM p) "
        "SELECT doc_id, CAST(len(plangs) AS INT) AS n_paras, "
        "list_min(list_filter(list_distinct(plangs), l -> "
        + cnt.format(l="l")
        + " = max_cnt)) AS dominant_lang, "
        "CAST(len(list_filter(list_distinct(plangs), l -> l <> 'und')) "
        "AS INT) AS n_langs, "
        "CASE WHEN len(plangs) > 0 THEN 1.0 - CAST(max_cnt AS DOUBLE) / "
        "CAST(len(plangs) AS DOUBLE) END AS mix_frac, "
        "len(list_filter(list_distinct(plangs), l -> l <> 'und')) >= 2 "
        "AS is_mixed FROM m"
    )


# -- lexical diversity (type-token ratio + hapax mass) -------------------


def with_lexical_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, n_types, ttr, n_hapax, hapax_frac) — the
    classic lexical-diversity pair: type-token ratio (low = templated/
    repetitive text, the dual of unigram entropy on a 0-1 scale) and
    hapax-legomenon fraction of the vocabulary (high = productive
    prose OR OCR/byte noise; gates read it jointly with TTR).

    Same scale shape and tokenizer as :func:`with_unigram_entropy`:
    shared curation word split → explode → two map-side-combinable
    groupBys ((doc, word) then doc). Ratios are single exact int/int
    IEEE divisions — bit-identical cross-engine without fixed-point
    machinery. Zero-token docs emit no row (no distribution), in both
    engines."""
    from .curation import _lower_words

    words = df.select(
        F.col(id_col),
        F.explode(
            _lower_words(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("w"),
    )
    counts = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_types",
        (F.col("n_types").cast("double") / F.col("n_tokens").cast("double")).alias(
            "ttr"
        ),
        "n_hapax",
        (F.col("n_hapax").cast("double") / F.col("n_types").cast("double")).alias(
            "hapax_frac"
        ),
    )


def sql_lexical_diversity(rel: str = "documents", text_expr: str = "text") -> str:
    """DuckDB twin of :func:`with_lexical_diversity` (sums cast back to
    BIGINT — DuckDB widens integer SUM to HUGEINT, Spark keeps long)."""
    from .curation import _sql_lower_words

    return (
        "WITH w AS (SELECT doc_id, unnest("
        + _sql_lower_words(f"coalesce({text_expr}, '')")
        + f") AS w FROM {rel}), "
        "c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w), "
        "a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, "
        "count(*) AS n_types, "
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax "
        "FROM c GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, n_types, "
        "CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr, "
        "n_hapax, "
        "CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac "
        "FROM a"
    )


# -- smart-punctuation normalization -------------------------------------
#
# Web text arrives with typographic punctuation (curly quotes, en/em
# dashes, ellipsis, NBSP) and invisible joiners (zero-widths, BOM) that
# fragment token statistics and dedup keys across otherwise-identical
# documents. This is the standard pre-tokenization fold: 1:1 maps and
# deletions ride ONE translate() call (codegen'd, both engines delete
# unpaired from-chars), the 1:3 ellipsis expansion is a regexp_replace.
# NFC/accent folding live separately (nfc_normalize_col /
# fold_accents_col) — this fold is pure punctuation, lossless for
# letters.

_PUNCT_FROM = (
    "‘’‚‛"  # single curly quotes -> '
    "“”„‟"  # double curly quotes -> "
    "–—―"        # en/em/horizontal-bar dash -> -
    " "                    # NBSP -> space
    "​‌‍﻿"  # zero-widths + BOM -> deleted
)
_PUNCT_TO = "''''" + '""""' + "---" + " "


def normalize_punct_col(text: Column) -> Column:
    """Typographic-punctuation fold: curly quotes → ASCII quotes,
    en/em dashes → '-', NBSP → space, zero-widths/BOM deleted,
    '…' → '...'. NULL passes through."""
    folded = F.translate(text, _PUNCT_FROM, _PUNCT_TO)
    return F.regexp_replace(folded, "…", "...")


def with_normalized_punct(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, norm_text, was_changed) — the punctuation fold plus a
    did-anything-change flag (cheap pre-filter: downstream rewrite
    stages skip untouched docs). Pure projection."""
    t = F.col(text_col)
    norm = normalize_punct_col(t)
    return df.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("norm_text"),
        F.when(t.isNull(), F.lit(False)).otherwise(norm != t).alias("was_changed"),
    )


def sql_normalize_punct(rel: str, text_expr: str = "text") -> str:
    """DuckDB twin of :func:`with_normalized_punct` (same from/to
    strings; both engines delete unpaired translate chars)."""
    frm = _PUNCT_FROM
    to = _PUNCT_TO.replace("'", "''")
    norm = (
        f"regexp_replace(translate({text_expr}, '{frm}', '{to}'), "
        "'…', '...', 'g')"
    )
    return (
        f"SELECT doc_id, {norm} AS norm_text, "
        f"CASE WHEN {text_expr} IS NULL THEN FALSE "
        f"ELSE {norm} <> {text_expr} END AS was_changed FROM {rel}"
    )


# ---------------------------------------------------------------------------
# Per-source distribution divergence (corpus-drift diagnostic)
# ---------------------------------------------------------------------------


def source_divergence(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, n_words, n_types, kl_to_corpus): KL(P_source ‖ P_corpus)
    over the unigram distributions — the corpus-drift report that tells
    a mixture designer which sources are lexical outliers (high KL =
    off-distribution vocabulary: code, boilerplate floods, another
    language) and which are redundant with the pool (KL → 0).

    KL(P_s‖Q) needs no smoothing here because support(P_s) ⊆ support(Q)
    by construction (every source word IS a corpus word). Computed on
    the :func:`with_unigram_entropy` fixed-point device with
    I(x) = round(ln(x)·10⁹) as int64:

        KL_s = [Σ_w c_sw·(I(c_sw) − I(c_w)) + n_s·(I(N) − I(n_s))]
               / (n_s·10⁹)

    — the only float op per distinct word is ln() rounded to integer at
    10⁹ scale, after which every sum is exact associative int64, so the
    result is bit-identical across engines, partitionings and cluster
    sizes. Exact-overflow bound: sources to ~3·10⁸ words against
    corpora to ~10¹² (the entropy op's bound family).

    Scale shape: tokenize → explode → (source, w) combinable count;
    corpus word counts derive from THAT table (vocab-sized groupBy, the
    corpus is never re-scanned); one vocab-sized join on w; final agg
    bounded by the source dimension. No window, no Python stage. NULL
    sources group as one stratum (the row is real data — both engines
    keep NULL groups); zero-token docs contribute nothing; a source
    with no tokens at all emits no row (no distribution to diverge)."""
    from .curation import _lower_words
    from .mlfilter import _round6z

    words = df.select(
        F.col(source_col).alias("source"),
        F.explode(_lower_words(F.coalesce(F.col(text_col), F.lit("")))).alias("w"),
    )
    sw = words.groupBy("source", "w").agg(F.count("*").alias("c_sw"))
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    tot = cw.agg(F.sum("c_w").alias("n_corpus"))

    def iln(c: Column) -> Column:
        return F.round(F.log(c.cast("double")) * F.lit(1e9)).cast("long")

    per_src = (
        sw.join(cw, "w")
        .groupBy("source")
        .agg(
            F.sum("c_sw").alias("n_words"),
            F.count("*").alias("n_types"),
            F.sum(F.col("c_sw") * (iln(F.col("c_sw")) - iln(F.col("c_w")))).alias("s"),
        )
    )
    n = F.col("n_words")
    kl = (
        F.col("s") + n * (iln(F.col("n_corpus")) - iln(n))
    ) / (n.cast("double") * F.lit(1e9))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_words", "n_types", _round6z(kl).alias("kl_to_corpus")
        )
        .orderBy("source")
    )


def sql_source_divergence(rel: str = "documents", text_expr: str = "text") -> str:
    """DuckDB oracle twin of :func:`source_divergence` — identical
    fixed-point recursion (sums cast back to BIGINT: DuckDB widens
    integer SUM to HUGEINT, Spark keeps long)."""
    from .curation import _sql_lower_words
    from .mlfilter import _sql_round6z

    iln = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9) AS BIGINT)"
    kl = _sql_round6z(
        "(s + n_words * (" + iln.format(x="(SELECT n_corpus FROM tot)")
        + " - " + iln.format(x="n_words")
        + ")) / (CAST(n_words AS DOUBLE) * 1e9)"
    )
    return (
        "WITH wrd AS (SELECT source, unnest("
        + _sql_lower_words(f"coalesce({text_expr}, '')")
        + f") AS w FROM {rel}), "
        "sw AS (SELECT source, w, count(*) AS c_sw FROM wrd "
        "GROUP BY source, w), "
        "cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w), "
        "tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_corpus FROM cw), "
        "a AS (SELECT sw.source, CAST(sum(c_sw) AS BIGINT) AS n_words, "
        "count(*) AS n_types, "
        "CAST(sum(c_sw * (" + iln.format(x="c_sw") + " - "
        + iln.format(x="c_w") + ")) AS BIGINT) AS s "
        "FROM sw JOIN cw USING (w) GROUP BY sw.source) "
        f"SELECT source, n_words, n_types, {kl} AS kl_to_corpus "
        "FROM a ORDER BY source"
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope (corpus-health diagnostic)
# ---------------------------------------------------------------------------


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 100,
) -> DataFrame:
    """(source, n_ranks, slope): least-squares slope of the log-log
    rank-frequency line over each source's top-``k`` word frequencies —
    Zipf's law (Zipf 1949; Piantadosi 2014 review) puts natural text
    near slope −1; templated/boilerplate slices read much steeper
    (repertoire collapses onto few types) and gibberish/spam reads
    flatter. The corpus-health gauge next to :func:`source_divergence`:
    divergence says WHICH slice is off-distribution, the slope says in
    what direction.

    Fixed-point: x = round(ln(rank)·10⁵), y = round(ln(count)·10⁵) as
    int64 (the unigram-entropy device at 10⁵ scale so every regression
    sum stays in int64 at k ≤ 1000 and counts ≤ 10¹²); slope =
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with EXACT integer numerator and
    denominator — the single double division is correctly rounded in
    both engines, so the slope is bit-identical across engines,
    partitionings and cluster sizes. Rank ties (equal counts) break by
    word ascending, pinned in both engines.

    Scale shape: (source, word) combinable count → the
    :mod:`hostcap` tree of bounded top-K reductions (a mega-source
    never funnels its whole vocabulary through one task; buffers are
    K-bounded) → regression sums over ≤ S·k rows. The DuckDB twin is
    the plain window formulation — same result. Sources with fewer
    than 2 distinct words have no line and emit slope NULL."""
    from .curation import _lower_words
    from .hostcap import _topk_merge

    counts = (
        df.filter(F.col(source_col).isNotNull())
        .select(
            F.col(source_col).alias("host"),
            F.explode(
                _lower_words(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("w"),
        )
        .groupBy("host", "w")
        .agg(F.count("*").alias("c"))
    )
    key = F.struct((-F.col("c")).alias("nc"), F.col("w").alias("w"))
    base = counts.select(
        "host", F.spark_partition_id().alias("__pid"), key.alias("e")
    )
    local = _topk_merge(base, ["host", "__pid"], k)
    salted = local.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("e.w")), F.lit(64))
    )
    mid = _topk_merge(salted, ["host", "__salt"], k)
    ranked = (
        mid.groupBy("host")
        .agg(F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("top"))
        .select("host", F.posexplode("top").alias("pos", "e"))
        .select(
            "host",
            (F.col("pos") + 1).cast("long").alias("rank"),
            (-F.col("e.nc")).alias("c"),
        )
    )

    def i5(c: Column) -> Column:
        return F.round(F.log(c.cast("double")) * F.lit(1e5)).cast("long")

    sums = ranked.select(
        "host",
        i5(F.col("rank")).alias("x"),
        i5(F.col("c")).alias("y"),
    ).groupBy("host").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    from .mlfilter import _round6z

    return sums.select(
        F.col("host").alias("source"),
        F.col("n").alias("n_ranks"),
        F.when(
            F.col("n") >= 2,
            _round6z(num.cast("double") / den.cast("double")),
        ).alias("slope"),
    ).orderBy("source")


def sql_zipf_slope(rel: str = "documents", text_expr: str = "text", k: int = 100) -> str:
    """DuckDB twin of :func:`zipf_slope` — window top-K formulation,
    identical fixed-point sums."""
    from .curation import _sql_lower_words
    from .mlfilter import _sql_round6z

    i5 = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1e5) AS BIGINT)"
    slope = _sql_round6z(
        "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"
    )
    return (
        "WITH wrd AS (SELECT source, unnest("
        + _sql_lower_words(f"coalesce({text_expr}, '')")
        + f") AS w FROM {rel} WHERE source IS NOT NULL), "
        "cnt AS (SELECT source, w, count(*) AS c FROM wrd GROUP BY source, w), "
        "rk AS (SELECT source, c, row_number() OVER ("
        "PARTITION BY source ORDER BY c DESC, w ASC) AS rank FROM cnt), "
        f"xy AS (SELECT source, {i5.format(x='rank')} AS x, "
        f"{i5.format(x='c')} AS y FROM rk WHERE rank <= {k}), "
        "s AS (SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, "
        "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, "
        "CAST(sum(x * x) AS BIGINT) AS sxx FROM xy GROUP BY source) "
        f"SELECT source, n AS n_ranks, "
        f"CASE WHEN n >= 2 THEN {slope} END AS slope FROM s ORDER BY source"
    )


# ---------------------------------------------------------------------------
# Readability panel: ARI (Senter & Smith 1967), Coleman-Liau (1975),
# Gunning-Fog (1952) — the character/complex-word complements to Flesch
# ---------------------------------------------------------------------------
#
# Three more published indices over the SAME counters as
# with_readability, plus two new ones: token character mass (ARI and
# Coleman-Liau are character-based, which makes them robust to the
# vowel-run syllable approximation) and the complex-word count
# (Gunning-Fog's 3+-syllable words — one unanchored 3-vowel-run rlike
# per token, identical in Java and RE2).
#
#   ARI = 4.71·chars/words + 0.5·words/sents − 21.43
#   CLI = 0.0588·L − 0.296·S − 15.8   (L, S per 100 words)
#   Fog = 0.4·(words/sents + 100·complex/words)
#
# Convention (documented deviation): "characters" = total length of
# whitespace tokens — punctuation attached to a word counts toward its
# character mass, consistent with the flesch device sharing the same
# whitespace tokenizer rather than a letters-only scan.
#
# Same exactness discipline as with_readability: every rational term is
# half-up-rounded to 6 decimals by integer cross-multiplication before
# any float exists; scores clamp at 0 in the integer domain; zero-word
# docs score NULL. Pure narrow projection — zero exchanges, zero
# Python.

_THREE_RUNS = "[aeiouy]+[^aeiouy]+[aeiouy]+[^aeiouy]+[aeiouy]"


def with_readability_panel(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``rd_words``, ``rd_sents``, ``rd_chars``, ``rd_complex``,
    ``ari``, ``coleman_liau``, ``gunning_fog`` (all clamped ≥ 0; NULL
    on zero-word docs)."""
    from .curation import _lower_words

    tx = F.coalesce(F.col(text_col), F.lit(""))
    words = _lower_words(tx)
    n_words = F.size(words).cast("long")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(tx, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("long")
    n_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_complex = F.size(F.filter(words, lambda w: w.rlike(_THREE_RUNS))).cast(
        "long"
    )
    out = (
        df.withColumn("rd_words", n_words)
        .withColumn("rd_sents", n_sents)
        .withColumn("rd_chars", n_chars)
        .withColumn("rd_complex", n_complex)
    )
    a1 = "(4710000L * rd_chars + rd_words div 2L) div rd_words"
    a2 = "(500000L * rd_words + rd_sents div 2L) div rd_sents"
    c1 = "(5880000L * rd_chars + rd_words div 2L) div rd_words"
    c2 = "(29600000L * rd_sents + rd_words div 2L) div rd_words"
    f1 = "(400000L * rd_words + rd_sents div 2L) div rd_sents"
    f2 = "(40000000L * rd_complex + rd_words div 2L) div rd_words"
    def _score(expr):
        return F.expr(
            "CASE WHEN rd_words > 0 THEN "
            f"CAST(greatest(0L, {expr}) AS DOUBLE) / 1e6 END"
        )

    return (
        out.withColumn("ari", _score(f"({a1}) + ({a2}) - 21430000L"))
        .withColumn("coleman_liau", _score(f"({c1}) - ({c2}) - 15800000L"))
        .withColumn("gunning_fog", _score(f"({f1}) + ({f2})"))
    )


def sql_readability_panel(
    rel: str = "documents", id_expr: str = "doc_id", text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`with_readability_panel` — same tokenizer,
    counters and fixed-point terms (all operands non-negative, DuckDB
    ``//`` ≡ Spark ``div``)."""
    from .curation import _sql_lower_words

    w = _sql_lower_words(f"coalesce({text_expr}, '')")
    tx = f"coalesce({text_expr}, '')"
    a1 = "(4710000 * rd_chars + rd_words // 2) // rd_words"
    a2 = "(500000 * rd_words + rd_sents // 2) // rd_sents"
    c1 = "(5880000 * rd_chars + rd_words // 2) // rd_words"
    c2 = "(29600000 * rd_sents + rd_words // 2) // rd_words"
    f1 = "(400000 * rd_words + rd_sents // 2) // rd_sents"
    f2 = "(40000000 * rd_complex + rd_words // 2) // rd_words"

    def _score(expr):
        return (
            "CASE WHEN rd_words > 0 THEN "
            f"CAST(greatest(0, {expr}) AS DOUBLE) / 1e6 END"
        )

    return (
        f"WITH b AS (SELECT {id_expr} AS doc_id, "
        f"CAST(len({w}) AS BIGINT) AS rd_words, "
        f"CAST(greatest(len(regexp_extract_all({tx}, '[.!?]+')), 1) AS BIGINT) "
        "AS rd_sents, "
        f"CAST(coalesce(list_sum(list_transform({w}, x -> len(x))), 0) "
        "AS BIGINT) AS rd_chars, "
        f"CAST(len(list_filter({w}, x -> regexp_matches(x, "
        f"'{_THREE_RUNS}'))) AS BIGINT) AS rd_complex FROM {rel}) "
        "SELECT doc_id, rd_words, rd_sents, rd_chars, rd_complex, "
        + _score(f"({a1}) + ({a2}) - 21430000")
        + " AS ari, "
        + _score(f"({c1}) - ({c2}) - 15800000")
        + " AS coleman_liau, "
        + _score(f"({f1}) + ({f2})")
        + " AS gunning_fog FROM b"
    )


# ---------------------------------------------------------------------------
# Yule's characteristic K (Yule 1944, "The statistical study of
# literary vocabulary") — the repeat-rate vocabulary-richness constant
# ---------------------------------------------------------------------------
#
# K = 10⁴ · (Σ_m V(m)·m² − N) / N², where V(m) = types occurring m
# times and N = tokens. Unlike TTR, K is (approximately) invariant to
# document length, which is why stylometry and corpus QA still use it:
# templated/boilerplate text reads K in the thousands, organic prose
# ~100-200. Σ V(m)·m² = Σ_types tf², so the whole statistic is two
# combinable groupBys over the shared tokenizer — exact int64 s1 = N,
# s2 = Σ tf², and ONE float expression 10⁴·(s2−s1)/s1² from identical
# ints (the assortativity device). Docs with < 2 tokens score NULL
# (the statistic divides by N² and means nothing there).


def with_yule_k(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, sum_tf_sq, yule_k): per-doc Yule's K from
    exact integer token statistics."""
    from .curation import _lower_words

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            _lower_words(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    agg = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("tf")).alias("sum_tf_sq"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_tf_sq",
        F.when(
            F.col("n_tokens") >= 2,
            F.lit(10000.0)
            * (
                F.col("sum_tf_sq").cast("double")
                - F.col("n_tokens").cast("double")
            )
            / (
                F.col("n_tokens").cast("double")
                * F.col("n_tokens").cast("double")
            ),
        ).alias("yule_k"),
    )


def sql_yule_k(rel: str = "documents", text_expr: str = "text") -> str:
    """DuckDB twin of :func:`with_yule_k` — identical tokenizer,
    integer sums and the identical double expression."""
    from .curation import _sql_lower_words

    w = _sql_lower_words(f"coalesce({text_expr}, '')")
    return (
        f"WITH tk AS (SELECT doc_id, unnest({w}) AS tok FROM {rel}), "
        "tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf "
        "FROM tk GROUP BY doc_id, tok), "
        "a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, "
        "CAST(sum(tf * tf) AS BIGINT) AS sum_tf_sq FROM tf GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, sum_tf_sq, "
        "CASE WHEN n_tokens >= 2 THEN "
        "10000.0 * (CAST(sum_tf_sq AS DOUBLE) - CAST(n_tokens AS DOUBLE)) / "
        "(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) END AS yule_k "
        "FROM a"
    )


# ---------------------------------------------------------------------------
# BLEU cleaner-damage score (Papineni et al. 2002) — modified n-gram
# precision of a CLEANED text against its own RAW text
# ---------------------------------------------------------------------------
#
# The curation-eval use of the machine-translation metric: treat the
# cleaner's output as the candidate and the raw page as the reference,
# and BLEU-2 says how much of the page's phrasing survived — 1.0 for
# an untouched page, degrading with every removed/reordered span. The
# corpus-level distribution of this score is the "how destructive was
# this cleaner" report that accompanies a C4/RefinedWeb/jusText stage
# before it is turned on for a production crawl.
#
# Exact-integer discipline: clipped n-gram matches and totals are
# integer counts; the brevity penalty ln(BP) = min(0, 1 - r/c) is
# quantized as -((r - c) * 1e9 DIV c) with a NON-NEGATIVE numerator
# (Spark's div truncates toward zero while DuckDB's // floors — they
# agree only on non-negative operands, the ppl_buckets trap); the
# geometric-mean term reuses I(x) = round(ln(x)*1e9), with the
# division by N again arranged over a non-negative numerator
# (I(c_n) >= I(m_n) always, m_n <= c_n). bleu_nano = ln(BLEU)*1e9
# exactly reproducible across engines; bleu_nano = 0 <=> BLEU = 1.
# NULL when undefined (no candidate n-grams) or when any clipped
# precision is 0 (Papineni's BLEU = 0 — ln diverges; the p*_ppm
# columns still carry the partial signal).
#
# Scale shape: two (doc, n, gram) count tables + one co-keyed left
# join + per-doc combinable sums. Grams are doc-local; nothing is
# corpus-keyed except the final per-doc aggregation. No window, no
# Python stage.


def bleu_pair(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, c1, m1, c2, m2, r_len, p1_ppm, p2_ppm, bp_nano,
    bleu_nano): BLEU-2 of ``cand_col`` against ``ref_col`` per row."""
    from .curation import _lower_words
    from .terms import _iln

    def grams(col):
        toks = _lower_words(F.coalesce(F.col(col), F.lit("")))
        bi = F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - F.lit(1), F.lit(0))),
            lambda t, i: F.concat(
                t, F.lit(" "), F.element_at(toks, i + F.lit(2))
            ),
        )
        uni_s = F.transform(
            toks, lambda t: F.struct(F.lit(1).alias("n"), t.alias("g"))
        )
        bi_s = F.transform(
            bi, lambda t: F.struct(F.lit(2).alias("n"), t.alias("g"))
        )
        return F.concat(uni_s, bi_s)

    # the input pair frame is read three times (candidate grams,
    # reference grams, reference length) and its lineage may be an
    # upstream cleaner join — persist the minimal projection once
    df = df.select(
        F.col(id_col).alias(id_col), F.col(cand_col).alias(cand_col),
        F.col(ref_col).alias(ref_col),
    ).persist()
    cand = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(grams(cand_col)).alias("x"))
        .groupBy("doc_id", F.col("x.n").alias("n"), F.col("x.g").alias("g"))
        .agg(F.count("*").alias("cc"))
    )
    ref = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(grams(ref_col)).alias("x"))
        .groupBy("doc_id", F.col("x.n").alias("n"), F.col("x.g").alias("g"))
        .agg(F.count("*").alias("cr"))
    )
    per_n = (
        cand.join(ref, ["doc_id", "n", "g"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n") == 1, F.col("cc")).otherwise(0)).alias("c1"),
            F.sum(
                F.when(
                    F.col("n") == 1,
                    F.least(F.col("cc"), F.coalesce(F.col("cr"), F.lit(0))),
                ).otherwise(0)
            ).alias("m1"),
            F.sum(F.when(F.col("n") == 2, F.col("cc")).otherwise(0)).alias("c2"),
            F.sum(
                F.when(
                    F.col("n") == 2,
                    F.least(F.col("cc"), F.coalesce(F.col("cr"), F.lit(0))),
                ).otherwise(0)
            ).alias("m2"),
        )
    )
    rlen = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(_lower_words(F.coalesce(F.col(ref_col), F.lit("")))).cast(
            "long"
        ).alias("r_len"),
    )
    out = rlen.join(per_n, "doc_id", "left").select(
        "doc_id",
        F.coalesce("c1", F.lit(0)).alias("c1"),
        F.coalesce("m1", F.lit(0)).alias("m1"),
        F.coalesce("c2", F.lit(0)).alias("c2"),
        F.coalesce("m2", F.lit(0)).alias("m2"),
        "r_len",
    )
    staged = (
        out.withColumn("ic1", _iln(F.col("c1")))
        .withColumn("im1", _iln(F.col("m1")))
        .withColumn("ic2", _iln(F.col("c2")))
        .withColumn("im2", _iln(F.col("m2")))
    )
    c1, c2 = F.col("c1"), F.col("c2")
    bp = F.when(c1 >= F.col("r_len"), F.lit(0)).otherwise(
        -F.expr("(r_len - c1) * 1000000000L div c1")
    )
    defined = (c1 > 0) & (c2 > 0) & (F.col("m1") > 0) & (F.col("m2") > 0)
    return staged.select(
        "doc_id", "c1", "m1", "c2", "m2", "r_len",
        F.when(c1 > 0, F.expr("m1 * 1000000L div c1"))
        .cast("long")
        .alias("p1_ppm"),
        F.when(c2 > 0, F.expr("m2 * 1000000L div c2"))
        .cast("long")
        .alias("p2_ppm"),
        F.when(c1 > 0, bp).cast("long").alias("bp_nano"),
        F.when(defined, bp - F.expr("((ic1 - im1) + (ic2 - im2)) div 2"))
        .cast("long")
        .alias("bleu_nano"),
    )


def sql_bleu_pair(
    pair_select: str,
    cand_expr: str = "cand",
    ref_expr: str = "ref",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`bleu_pair` over ``pair_select`` (a SELECT
    with the id, candidate and reference columns) — identical grams,
    clipped counts, non-negative-numerator integer divisions and
    fixed-point log terms."""
    from .curation import _sql_lower_words
    from .mlfilter import _sql_dsir_grams  # noqa: F401  (bigram shape ref)

    iln = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9) AS BIGINT)"

    def gram_src(col):
        toks = _sql_lower_words(f"coalesce({col}, '')")
        return (
            f"SELECT doc_id, n, g FROM (SELECT {id_expr} AS doc_id, "
            f"{toks} AS tk FROM pair_t), "
            "LATERAL (SELECT 1 AS n, unnest(tk) AS g "
            "UNION ALL "
            "SELECT 2 AS n, unnest(list_transform("
            "generate_series(1, len(tk) - 1), "
            "i -> tk[i] || ' ' || tk[i + 1])) AS g)"
        )

    toks_ref = _sql_lower_words(f"coalesce({ref_expr}, '')")
    return (
        f"WITH pair_t AS ({pair_select}), "
        f"cg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc FROM "
        f"({gram_src(cand_expr)}) GROUP BY doc_id, n, g), "
        f"rg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cr FROM "
        f"({gram_src(ref_expr)}) GROUP BY doc_id, n, g), "
        "pn AS (SELECT cg.doc_id, "
        "CAST(sum(CASE WHEN cg.n = 1 THEN cg.cc ELSE 0 END) AS BIGINT) AS c1, "
        "CAST(sum(CASE WHEN cg.n = 1 THEN least(cg.cc, coalesce(rg.cr, 0)) "
        "ELSE 0 END) AS BIGINT) AS m1, "
        "CAST(sum(CASE WHEN cg.n = 2 THEN cg.cc ELSE 0 END) AS BIGINT) AS c2, "
        "CAST(sum(CASE WHEN cg.n = 2 THEN least(cg.cc, coalesce(rg.cr, 0)) "
        "ELSE 0 END) AS BIGINT) AS m2 "
        "FROM cg LEFT JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n "
        "AND cg.g = rg.g GROUP BY cg.doc_id), "
        f"rl AS (SELECT {id_expr} AS doc_id, "
        f"CAST(len({toks_ref}) AS BIGINT) AS r_len FROM pair_t), "
        "base AS (SELECT rl.doc_id, coalesce(pn.c1, 0) AS c1, "
        "coalesce(pn.m1, 0) AS m1, coalesce(pn.c2, 0) AS c2, "
        "coalesce(pn.m2, 0) AS m2, rl.r_len "
        "FROM rl LEFT JOIN pn ON pn.doc_id = rl.doc_id), "
        "fin AS (SELECT *, CASE WHEN c1 >= r_len THEN 0 "
        "ELSE -((r_len - c1) * 1000000000 // c1) END AS bp "
        "FROM base) "
        "SELECT doc_id, c1, m1, c2, m2, r_len, "
        "CASE WHEN c1 > 0 THEN CAST(m1 * 1000000 // c1 AS BIGINT) END "
        "AS p1_ppm, "
        "CASE WHEN c2 > 0 THEN CAST(m2 * 1000000 // c2 AS BIGINT) END "
        "AS p2_ppm, "
        "CASE WHEN c1 > 0 THEN CAST(bp AS BIGINT) END AS bp_nano, "
        "CASE WHEN c1 > 0 AND c2 > 0 AND m1 > 0 AND m2 > 0 THEN "
        "CAST(bp - ((" + iln.format(x="c1") + " - " + iln.format(x="m1")
        + ") + (" + iln.format(x="c2") + " - " + iln.format(x="m2")
        + ")) // 2 AS BIGINT) END AS bleu_nano "
        "FROM fin"
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence per source (Lin 1991, "Divergence measures
# based on the Shannon entropy")
# ---------------------------------------------------------------------------
#
# The bounded, symmetric companion to source_divergence's KL: JS(P, Q)
# = KL(P||M)/2 + KL(Q||M)/2 with M the even mixture — finite even when
# supports differ, capped at ln 2, the number mixture designers
# actually compare across sources. Same fixed-point discipline: with
# I(x) = round(ln(x)*1e9), every log ratio is a difference of I() of
# INTEGER products (P_w/M_w = 2*a*n_c / (a*n_c + b*n_g)), so both
# partial sums are exact int64 and the one final double expression is
# a fixed chain of correctly-rounded IEEE ops — bit-identical
# cross-engine, then rounded to 6.
#
# The corpus-side sum runs over the WHOLE vocabulary per source, but
# never materializes vocab x sources: for words ABSENT from the source
# the term collapses to b*(I(2*b*n_g) - I(b*n_g)) — a function of the
# corpus frequency b alone — so it aggregates over the
# frequency-of-frequencies table (the good_turing N_r device:
# distinct-frequency-sized) times the source dimension, with the
# source-supported part subtracted exactly. Frames: one (source, w)
# corpus-shuffle groupBy, vocab-keyed join, then everything is vocab-,
# frequency-class- or source-sized. eqNullSafe on the (source, b)
# correction join — NULL source is a real stratum (host_quality rule).
#
# Overflow bound: the I() arguments are integer products a·n_c and
# b·n_g (term count × stratum total), which exceed int64 once the
# smaller factor times the stratum token total passes ~9.2·10¹⁸ —
# i.e. stratum totals ≳ 3·10⁹ tokens with common words (a ~ n_c·1e-2)
# overflow the ARGUMENT before the sums do; the a·(I…−I…) partial sums
# hit the Σ c·I(c) ~4·10⁸ bound class first in practice. Same
# contract note as keyness (terms.py): Spark wraps, DuckDB raises —
# exact up to ~10⁸-token strata; sample or coarsen beyond.


def js_divergence(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, n_words, n_types, js_to_corpus): Jensen-Shannon
    divergence (nats, in [0, ln 2]) between each source's unigram
    distribution and the whole corpus distribution."""
    from .curation import _lower_words
    from .mlfilter import _round6z
    from .terms import _iln

    words = df.select(
        F.col(source_col).alias("source"),
        F.explode(_lower_words(F.coalesce(F.col(text_col), F.lit("")))).alias("w"),
    )
    # sw is the one corpus-scale aggregation; everything else derives
    # from it, so it and the vocab table are persisted (plan-audit
    # rule: 3 readers each would otherwise re-run the tokenize)
    sw = words.groupBy("source", "w").agg(F.count("*").alias("a")).persist()
    cw = sw.groupBy("w").agg(F.sum("a").alias("b")).persist()
    tot = cw.agg(F.sum("b").alias("n_c"))
    joint = sw.join(cw, "w").crossJoin(F.broadcast(tot))

    a, b, n_g, n_c = F.col("a"), F.col("b"), F.col("n_g"), F.col("n_c")
    # per-source totals + the two source-supported partial sums; the
    # I() args need n_g, so aggregate counts first, then join back the
    # per-source n_g and redo the sums in a second pass? No — n_g is a
    # per-source aggregate; compute it FIRST (cheap re-aggregation of
    # sw), broadcast-join it onto the joint rows so each row knows its
    # source total, then one combinable aggregation does S1/S2a.
    totals = sw.groupBy("source").agg(
        F.sum("a").alias("n_g"), F.count("*").alias("n_types")
    )
    t2 = totals.select(
        F.col("source").alias("tsrc"), "n_g", "n_types"
    )
    joint = joint.join(
        F.broadcast(t2), F.col("source").eqNullSafe(F.col("tsrc"))
    )
    s_part = joint.groupBy("source", "n_g", "n_types").agg(
        F.sum(a * (_iln(F.lit(2) * a * n_c) - _iln(a * n_c + b * n_g))).alias(
            "s1"
        ),
        F.sum(b * (_iln(F.lit(2) * b * n_g) - _iln(a * n_c + b * n_g))).alias(
            "s2a"
        ),
        F.sum(b * (_iln(F.lit(2) * b * n_g) - _iln(b * n_g))).alias("s2in"),
    )
    nr = cw.groupBy("b").agg(F.count("*").alias("cnt_b"))
    allb = (
        totals.crossJoin(F.broadcast(nr))
        .groupBy(F.col("source").alias("asrc"))
        .agg(
            F.sum(
                F.col("cnt_b")
                * F.col("b")
                * (
                    _iln(F.lit(2) * F.col("b") * F.col("n_g"))
                    - _iln(F.col("b") * F.col("n_g"))
                )
            ).alias("s2all")
        )
    )
    out = s_part.join(
        allb, F.col("source").eqNullSafe(F.col("asrc"))
    ).crossJoin(F.broadcast(tot))
    js = (
        F.col("s1").cast("double") / (F.col("n_g").cast("double") * F.lit(1e9))
        + (F.col("s2a") + (F.col("s2all") - F.col("s2in"))).cast("double")
        / (F.col("n_c").cast("double") * F.lit(1e9))
    ) * F.lit(0.5)
    return out.select(
        "source", F.col("n_g").alias("n_words"), "n_types",
        _round6z(js).alias("js_to_corpus"),
    )


def sql_js_divergence(
    rel: str = "documents",
    text_expr: str = "text",
    source_expr: str = "source",
) -> str:
    """DuckDB twin of :func:`js_divergence` — identical count tables,
    fixed-point I() terms, frequency-class correction and final double
    chain."""
    from .curation import _sql_lower_words
    from .mlfilter import _sql_round6z

    toks = _sql_lower_words(f"coalesce({text_expr}, '')")
    iln = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9) AS BIGINT)"
    js = _sql_round6z(
        "(CAST(s1 AS DOUBLE) / (CAST(n_g AS DOUBLE) * 1e9) "
        "+ CAST(s2a + (s2all - s2in) AS DOUBLE) "
        "/ (CAST(n_c AS DOUBLE) * 1e9)) * 0.5"
    )
    return (
        f"WITH wd AS (SELECT {source_expr} AS source, unnest({toks}) AS w "
        f"FROM {rel}), "
        "sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS a FROM wd "
        "GROUP BY source, w), "
        "cw AS (SELECT w, CAST(sum(a) AS BIGINT) AS b FROM sw GROUP BY w), "
        "tot AS (SELECT CAST(sum(b) AS BIGINT) AS n_c FROM cw), "
        "totals AS (SELECT source, CAST(sum(a) AS BIGINT) AS n_g, "
        "CAST(count(*) AS BIGINT) AS n_types FROM sw GROUP BY source), "
        "joint AS (SELECT sw.source, sw.a, cw.b, t.n_g, t.n_types, tot.n_c "
        "FROM sw JOIN cw ON sw.w = cw.w "
        "JOIN totals t ON t.source IS NOT DISTINCT FROM sw.source "
        "CROSS JOIN tot), "
        "sp AS (SELECT source, n_g, n_types, "
        "CAST(sum(a * (" + iln.format(x="2 * a * n_c") + " - "
        + iln.format(x="a * n_c + b * n_g") + ")) AS BIGINT) AS s1, "
        "CAST(sum(b * (" + iln.format(x="2 * b * n_g") + " - "
        + iln.format(x="a * n_c + b * n_g") + ")) AS BIGINT) AS s2a, "
        "CAST(sum(b * (" + iln.format(x="2 * b * n_g") + " - "
        + iln.format(x="b * n_g") + ")) AS BIGINT) AS s2in "
        "FROM joint GROUP BY source, n_g, n_types), "
        "nr AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt_b FROM cw "
        "GROUP BY b), "
        "ab AS (SELECT t.source AS asrc, "
        "CAST(sum(nr.cnt_b * nr.b * (" + iln.format(x="2 * nr.b * t.n_g")
        + " - " + iln.format(x="nr.b * t.n_g") + ")) AS BIGINT) AS s2all "
        "FROM totals t CROSS JOIN nr GROUP BY t.source) "
        f"SELECT sp.source, sp.n_g AS n_words, sp.n_types, {js} "
        "AS js_to_corpus FROM sp JOIN ab "
        "ON sp.source IS NOT DISTINCT FROM ab.asrc CROSS JOIN tot"
    )


# ---------------------------------------------------------------------------
# Cavnar-Trenkle n-gram rank-profile language ID (Cavnar & Trenkle
# 1994, "N-Gram-Based Text Categorization")
# ---------------------------------------------------------------------------
#
# THE classic language identifier (the textcat lineage), methodically
# different from the engine's stopword-count langid: each language is
# a RANK PROFILE of its top-K character n-grams, a document is the
# same profile of itself, and the verdict is the argmin "out-of-place"
# distance — sum over the document's profile grams of
# |rank_in_doc - rank_in_language|, with a penalty of K for grams the
# language profile lacks. Everything is integer: counts, ranks
# (count desc, gram asc — a total order, so ranks are identical
# cross-engine), distances. No float exists in the operator.
#
# Grams are char 2- and 3-grams of '_'-padded lowercased word tokens
# (the paper's word-boundary padding; shared _lower_words tokenizer).
# Scale shape: one corpus-scale (doc, gram) count + doc-sized rank
# windows for document profiles (the lm_score acceptance); language
# profiles aggregate to #langs x K rows and BROADCAST; the scoring
# grid is docs x K x #langs through one combinable sum; argmin
# windows hold #langs rows. Docs with no grams and training rows with
# NULL lang are outside their respective universes (scored-with-no-
# profile docs emit (doc, NULL, NULL)).


def _ct_grams(text_c: Column) -> Column:
    """All char 2-/3-grams of '_'-padded lowercased tokens."""
    from .curation import _lower_words

    toks = _lower_words(F.coalesce(text_c, F.lit("")))

    def grams_of(p, n):
        return F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(p) - F.lit(n - 1), F.lit(0))
            ),
            lambda i: p.substr(i, F.lit(n)),
        )

    padded = F.transform(toks, lambda w: F.concat(F.lit("_"), w, F.lit("_")))
    return F.flatten(
        F.concat(
            F.transform(padded, lambda p: grams_of(p, 2)),
            F.transform(padded, lambda p: grams_of(p, 3)),
        )
    )


_SQL_CT_GRAMS_TMPL = (
    "flatten(list_concat("
    "list_transform({pads}, p -> list_transform("
    "generate_series(1, greatest(len(p) - 1, 0)), i -> p[i:i+1])), "
    "list_transform({pads}, p -> list_transform("
    "generate_series(1, greatest(len(p) - 2, 0)), i -> p[i:i+2]))))"
)


def _sql_ct_grams(text_expr: str) -> str:
    """DuckDB twin of :func:`_ct_grams` (1-based inclusive slicing:
    p[i:i+1] is 2 chars, p[i:i+2] is 3)."""
    from .curation import _sql_lower_words

    toks = _sql_lower_words(f"coalesce({text_expr}, '')")
    pads = f"list_transform({toks}, w -> '_' || w || '_')"
    return _SQL_CT_GRAMS_TMPL.format(pads=pads)


def ct_langid(
    df: DataFrame,
    train_df: DataFrame = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    k: int = 40,
) -> DataFrame:
    """(doc_id, pred, dist): Cavnar-Trenkle verdict for every row of
    ``df`` under top-``k`` rank profiles fit on ``train_df`` (default
    ``df``). ``dist`` is the exact integer out-of-place distance of
    the winning language."""
    from pyspark.sql import Window

    train = df if train_df is None else train_df
    tr = train.filter(F.col(lang_col).isNotNull()).select(
        F.col(lang_col).alias("lng"),
        F.explode(_ct_grams(F.col(text_col))).alias("g"),
    )
    lw = Window.partitionBy("lng").orderBy(F.col("c").desc(), F.col("g"))
    lang_prof = (
        tr.groupBy("lng", "g")
        .agg(F.count("*").alias("c"))
        .withColumn("lr", F.row_number().over(lw))
        .filter(F.col("lr") <= k)
        .select("lng", "g", "lr")
    ).persist()
    langs = lang_prof.select("lng").distinct()

    dw = Window.partitionBy("did").orderBy(F.col("c").desc(), F.col("g"))
    doc_prof = (
        df.select(
            F.col(id_col).alias("did"),
            F.explode(_ct_grams(F.col(text_col))).alias("g"),
        )
        .groupBy("did", "g")
        .agg(F.count("*").alias("c"))
        .withColumn("dr", F.row_number().over(dw))
        .filter(F.col("dr") <= k)
        .select("did", "g", "dr")
    ).persist()
    grid = doc_prof.crossJoin(F.broadcast(langs))
    scored = (
        grid.join(F.broadcast(lang_prof), ["lng", "g"], "left")
        .groupBy("did", "lng")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("dr") - F.col("lr")), F.lit(k)
                )
            ).alias("dist")
        )
    )
    aw = Window.partitionBy("did").orderBy(F.col("dist"), F.col("lng"))
    best = (
        scored.withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("did", F.col("lng").alias("pred"), "dist")
    )
    ids = df.select(F.col(id_col).alias("did")).distinct()
    return ids.join(best, "did", "left").select(
        F.col("did").alias(id_col), "pred", "dist"
    )


def sql_ct_langid(
    rel: str = "documents",
    train_rel: str = None,
    text_expr: str = "text",
    id_expr: str = "doc_id",
    lang_expr: str = "lang",
    k: int = 40,
) -> str:
    """DuckDB twin of :func:`ct_langid` — identical grams, total-order
    ranks, out-of-place distance and argmin window."""
    train_rel = train_rel or rel
    g_tr = _sql_ct_grams(text_expr)
    return (
        f"WITH tr AS (SELECT {lang_expr} AS lng, unnest({g_tr}) AS g "
        f"FROM {train_rel} WHERE {lang_expr} IS NOT NULL), "
        "lp0 AS (SELECT lng, g, count(*) AS c FROM tr GROUP BY lng, g), "
        "lp AS (SELECT lng, g, lr FROM (SELECT lng, g, CAST(row_number() "
        "OVER (PARTITION BY lng ORDER BY c DESC, g) AS BIGINT) AS lr "
        f"FROM lp0) WHERE lr <= {k}), "
        "langs AS (SELECT DISTINCT lng FROM lp), "
        f"dg AS (SELECT {id_expr} AS did, unnest({g_tr}) AS g FROM {rel}), "
        "dp0 AS (SELECT did, g, count(*) AS c FROM dg GROUP BY did, g), "
        "dp AS (SELECT did, g, dr FROM (SELECT did, g, CAST(row_number() "
        "OVER (PARTITION BY did ORDER BY c DESC, g) AS BIGINT) AS dr "
        f"FROM dp0) WHERE dr <= {k}), "
        "scored AS (SELECT dp.did, langs.lng, "
        f"CAST(sum(coalesce(abs(dp.dr - lp.lr), {k})) AS BIGINT) AS dist "
        "FROM dp CROSS JOIN langs LEFT JOIN lp "
        "ON lp.lng = langs.lng AND lp.g = dp.g "
        "GROUP BY dp.did, langs.lng), "
        "best AS (SELECT did, lng AS pred, dist FROM (SELECT *, "
        "row_number() OVER (PARTITION BY did ORDER BY dist, lng) AS rn "
        "FROM scored) WHERE rn = 1) "
        f"SELECT ids.did AS {id_expr}, best.pred, best.dist "
        f"FROM (SELECT DISTINCT {id_expr} AS did FROM {rel}) ids "
        "LEFT JOIN best ON best.did = ids.did"
    )


# ---------------------------------------------------------------------------
# Bigram conditional entropy per source (Shannon 1951, "Prediction and
# Entropy of Printed English")
# ---------------------------------------------------------------------------
#
# H(w_t | w_{t-1}) — the second entry in Shannon's entropy ladder
# after the unigram H the engine already ships: how predictable is the
# next word given the current one. Templated/boilerplate slices read
# near 0 (every word determines its successor), natural text sits
# several nats up, and the F0-vs-F1 GAP (unigram minus conditional) is
# the repetition-structure signal mixture designers read. Computed by
# the chain rule over the bigram table:
#     H(X,Y) = ln B - (1/B) * sum_ab c_ab * ln c_ab
#     H(X)   = ln B - (1/B) * sum_a  c_a  * ln c_a      (left marginal)
#     H(Y|X) = H(X,Y) - H(X)
#            = [sum_a c_a*I(c_a) - sum_ab c_ab*I(c_ab)] / (B * 1e9)
# — the ln B terms cancel, every remaining ln is of an INTEGER count,
# so both sums are exact int64 on the I(x) device and the single
# final division is one correctly-rounded IEEE op: bit-identical
# cross-engine, no fold machinery (the unigram-entropy contract).
#
# Bigrams are adjacent within a document (the lm-training contract:
# position pairs never cross documents); the left marginal derives
# from the bigram table itself so the corpus is scanned once. Scale
# shape: one (source, w1, w2) corpus-shuffle groupBy, a (source, w1)
# re-aggregation, two combinable per-source sums. Sources with no
# bigrams (all docs < 2 tokens) emit no row — no distribution exists.
#
# Overflow bound: Σ c·I(c) ≤ B·ln(B)·10⁹ exceeds int64 once a source's
# bigram count B passes ~4.3·10⁸ (the unigram-entropy bound class;
# Spark wraps silently, DuckDB raises). The per-SOURCE count is the
# bound, not the corpus — web-scale mixtures with ≲4·10⁸ bigrams per
# stratum stay exact; beyond that, sample the stratum or coarsen the
# quantum.


def bigram_cond_entropy(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, n_bigrams, h_cond): per-source conditional entropy
    H(next word | word) in nats, rounded to 6."""
    from .curation import _lower_words
    from .mlfilter import _round6z
    from .terms import _iln

    toks = _lower_words(F.coalesce(F.col(text_col), F.lit("")))
    pairs = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - F.lit(1), F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - F.lit(1), F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bi = pairs.groupBy("source", "w1", "w2").agg(F.count("*").alias("c")).persist()
    left = bi.groupBy("source", "w1").agg(F.sum("c").alias("ca"))
    s_bi = bi.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.col("c") * _iln(F.col("c"))).alias("s_ab"),
    )
    s_left = left.groupBy(F.col("source").alias("lsrc")).agg(
        F.sum(F.col("ca") * _iln(F.col("ca"))).alias("s_a")
    )
    out = s_bi.join(s_left, F.col("source").eqNullSafe(F.col("lsrc")))
    h = (F.col("s_a") - F.col("s_ab")).cast("double") / (
        F.col("n_bigrams").cast("double") * F.lit(1e9)
    )
    return out.select("source", "n_bigrams", _round6z(h).alias("h_cond"))


def sql_bigram_cond_entropy(
    rel: str = "documents",
    text_expr: str = "text",
    source_expr: str = "source",
) -> str:
    """DuckDB twin of :func:`bigram_cond_entropy` — identical bigram
    construction, fixed-point sums and final division."""
    from .curation import _sql_lower_words
    from .mlfilter import _sql_round6z

    toks = _sql_lower_words(f"coalesce({text_expr}, '')")
    iln = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9) AS BIGINT)"
    h = _sql_round6z(
        "CAST(s_a - s_ab AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e9)"
    )
    return (
        f"WITH t AS (SELECT {source_expr} AS source, {toks} AS tk FROM {rel}), "
        "pr AS (SELECT source, tk[i] AS w1, tk[i + 1] AS w2 FROM "
        "(SELECT source, tk, unnest(generate_series(1, len(tk) - 1)) AS i "
        "FROM t)), "
        "bi AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c "
        "FROM pr GROUP BY source, w1, w2), "
        "lft AS (SELECT source, w1, CAST(sum(c) AS BIGINT) AS ca FROM bi "
        "GROUP BY source, w1), "
        "sb AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams, "
        "CAST(sum(c * " + iln.format(x="c") + ") AS BIGINT) AS s_ab "
        "FROM bi GROUP BY source), "
        "sl AS (SELECT source AS lsrc, CAST(sum(ca * "
        + iln.format(x="ca") + ") AS BIGINT) AS s_a FROM lft "
        "GROUP BY source) "
        f"SELECT sb.source, sb.n_bigrams, {h} AS h_cond "
        "FROM sb JOIN sl ON sb.source IS NOT DISTINCT FROM sl.lsrc"
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometry (Burrows 2002, "'Delta': a Measure of
# Stylistic Difference"; the Argamon 2008 analysis)
# ---------------------------------------------------------------------------
#
# The standard authorship-attribution distance between text strata:
# z-score each source's relative frequency of the corpus's top-k most
# frequent words (function words — the style carriers), and
# Delta(a, b) = mean_w |z_aw - z_bw|. Here it is the provenance-
# forensics report ("which sources write alike — same template farm,
# same wire service, same generator?") beside the content-level
# source_overlap and js_sources diagnostics: Delta reads STYLE, which
# survives paraphrase.
#
# Exact-integer form: rates are ppm integers f = c*1e6 div n; per-word
# population moments over the m sources are exact int64
# (V_w = m*S2 - S1^2); sigma enters as the EXACT integer sqrt
# (isqrt(V_w), the shared _isqrt_case device), and each pair term is
#     m * |f_a - f_b| * 1000 div isqrt(V_w)
# summed exactly and divided once by k — bit-identical cross-engine
# with a documented floor-per-term deviation from the real-valued
# Delta (Delta variants differ more between published papers than
# this floor does). Words with V_w = 0 (identical rate everywhere)
# carry no discriminating power and contribute 0. Overflow: m*S2
# needs m^2 * 1e12 inside int64 — exact to ~1,000 sources (the
# source dimension, not the corpus).
#
# Scale shape: one (source, word) corpus groupBy (persisted); top-k
# words via orderBy().limit(k) (TakeOrderedAndProject — no vocab
# window); the rate grid is sources x k (broadcast topw, eqNullSafe-
# free because NULL sources are excluded — unattributable rows can't
# be an author, the temperature_mix rule); word stats bounded by k;
# the pair frame bounded by sources^2 x k. No Python.


def burrows_delta(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 30,
) -> DataFrame:
    """(src_a, src_b, n_words, delta_milli): Burrows' Delta between
    every unordered source pair (src_a < src_b), from the corpus's
    top-``k`` words; ``n_words`` counts the words with discriminating
    power (V_w > 0) that entered the sum."""
    from pyspark.sql import Window  # noqa: F401  (parity with siblings)

    from .curation import _lower_words
    from .maintenance import _isqrt_case

    words = df.filter(F.col(source_col).isNotNull()).select(
        F.col(source_col).alias("src"),
        F.explode(_lower_words(F.coalesce(F.col(text_col), F.lit("")))).alias("w"),
    )
    sw = words.groupBy("src", "w").agg(F.count("*").alias("c")).persist()
    totals = sw.groupBy("src").agg(F.sum("c").alias("n_s"))
    topw = (
        sw.groupBy("w")
        .agg(F.sum("c").alias("cw"))
        .orderBy(F.col("cw").desc(), F.col("w"))
        .limit(k)
        .select("w")
    )
    m = totals.groupBy().agg(F.count("*").alias("m"))
    grid = totals.crossJoin(F.broadcast(topw))
    rates = (
        grid.join(
            sw.withColumnRenamed("src", "csrc").withColumnRenamed("w", "cw_"),
            (F.col("src") == F.col("csrc")) & (F.col("w") == F.col("cw_")),
            "left",
        )
        .select(
            "src",
            "w",
            F.expr("coalesce(c, 0) * 1000000L div n_s").alias("f"),
        )
    ).persist()
    stats = (
        rates.groupBy("w")
        .agg(F.sum("f").alias("s1"), F.sum(F.col("f") * F.col("f")).alias("s2"))
        .crossJoin(F.broadcast(m))
        .withColumn("v", F.expr("m * s2 - s1 * s1"))
        .withColumn("cand", F.floor(F.sqrt(F.col("v").cast("double"))).cast("long"))
        .withColumn("sig", F.expr(_isqrt_case("v", "cand", "div")).cast("long"))
        .select("w", "v", "sig", "m")
    )
    ra = rates.select(
        F.col("src").alias("src_a"), "w", F.col("f").alias("fa")
    )
    rb = rates.select(
        F.col("src").alias("src_b"), "w", F.col("f").alias("fb")
    )
    pairs = (
        ra.join(rb, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(stats, "w")
        .select(
            "src_a",
            "src_b",
            F.when(
                F.col("v") > 0,
                F.expr("m * abs(fa - fb) * 1000L div sig"),
            ).otherwise(F.lit(0)).alias("term"),
            (F.col("v") > 0).cast("long").alias("disc"),
        )
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.sum("disc").alias("n_words"),
        F.expr(f"sum(term) div {k}").alias("delta_milli"),
    )


def sql_burrows_delta(
    rel: str = "documents",
    text_expr: str = "text",
    source_expr: str = "source",
    k: int = 30,
) -> str:
    """DuckDB twin of :func:`burrows_delta` — identical counts, top-k
    order, ppm rates, exact-isqrt sigma and floor-per-term sum."""
    from .curation import _sql_lower_words
    from .maintenance import _isqrt_case

    toks = _sql_lower_words(f"coalesce({text_expr}, '')")
    return (
        f"WITH wd AS (SELECT {source_expr} AS src, unnest({toks}) AS w "
        f"FROM {rel} WHERE {source_expr} IS NOT NULL), "
        "sw AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c FROM wd "
        "GROUP BY src, w), "
        "tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_s FROM sw "
        "GROUP BY src), "
        "topw AS (SELECT w FROM (SELECT w, CAST(sum(c) AS BIGINT) AS cw "
        f"FROM sw GROUP BY w) ORDER BY cw DESC, w LIMIT {k}), "
        "m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tot), "
        "rates AS (SELECT tot.src, topw.w, "
        "coalesce(sw.c, 0) * 1000000 // tot.n_s AS f "
        "FROM tot CROSS JOIN topw LEFT JOIN sw "
        "ON sw.src = tot.src AND sw.w = topw.w), "
        "st0 AS (SELECT w, CAST(sum(f) AS BIGINT) AS s1, "
        "CAST(sum(f * f) AS BIGINT) AS s2 FROM rates GROUP BY w), "
        "st1 AS (SELECT w, m.m, m.m * s2 - s1 * s1 AS v FROM st0 "
        "CROSS JOIN m), "
        "st AS (SELECT w, m, v, CAST("
        + _isqrt_case("v", "cand", "//")
        + " AS BIGINT) AS sig FROM (SELECT *, "
        "CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS cand FROM st1)), "
        "pr AS (SELECT a.src AS src_a, b.src AS src_b, st.v, "
        "CASE WHEN st.v > 0 THEN st.m * abs(a.f - b.f) * 1000 // st.sig "
        "ELSE 0 END AS term "
        "FROM rates a JOIN rates b ON a.w = b.w AND a.src < b.src "
        "JOIN st ON st.w = a.w) "
        "SELECT src_a, src_b, "
        "CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_words, "
        f"CAST(sum(term) // {k} AS BIGINT) AS delta_milli "
        "FROM pr GROUP BY src_a, src_b"
    )
