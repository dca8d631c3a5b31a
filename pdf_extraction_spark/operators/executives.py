"""Executive roster extraction (T3) + fuzzy name-match join (J1).

The reference does a nested loop over every (chunk, executive) pair with
a three-rule predicate and first-match-wins
(executive_extractor.py:43-105). Relationally: every match rule implies
*last-token equality*, so the theta-join collapses to a broadcast
equi-join on ``last_name_key`` + ordered post-filter + first-roster-wins
dedup — no cross product, no shuffle of the big side beyond the join
itself (roster is tiny → broadcast).
"""

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.executives import extract_roster
from ..session import per_call_pandas_udf

ROSTER_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("role", T.StringType())]
    )
)


@per_call_pandas_udf(ROSTER_TYPE)
def roster_udf(contents: pd.Series) -> pd.Series:
    return contents.map(lambda c: list(extract_roster(c or "").items()))


def extract_executives(chunks: DataFrame, order_col: str = "url") -> DataFrame:
    """MANAGEMENT turns → executives dim (name, role); later files
    override earlier roles (D2 keep-last)."""
    # explode_outer + null filter, NOT explode: a bare explode over a
    # pandas-UDF column pushes a `size(col) > 0` pre-filter under the
    # generator, which plans the UDF in TWO chained ArrowEvalPython
    # stages — double evaluation, and the chained Python runners stall
    # for seconds per task (measured 13→2 s on 3 rows). explode_outer
    # keeps empty/NULL rosters as one NULL row (filtered right after,
    # same semantics) and plans exactly ONE Python stage.
    rosters = (
        chunks.filter(F.col("speaker") == "MANAGEMENT")
        .withColumn("roster", roster_udf(F.col("content")))
        .select(F.col(order_col).alias("__src"), F.explode_outer("roster").alias("e"))
        .filter(F.col("e").isNotNull())
        .select("__src", F.col("e.name").alias("executive"), F.col("e.role").alias("role"))
    )
    w = Window.partitionBy("executive").orderBy(F.desc("__src"))
    return (
        rosters.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("executive", "role")
    )


def sql_extract_executives(values_clause: str) -> str:
    """DuckDB oracle twin of ``extract_executives`` over an inline
    chunks relation ``values_clause`` with columns (url, content):
    the three roster regexes (kernels.executives.NAME_PATTERNS) via
    ``regexp_extract_all`` per capture group, title-prefix strip,
    whitespace collapse, executive-role gate, later-match-overrides
    dict semantics per url, later-url-overrides across urls."""
    from ..kernels.executives import EXECUTIVE_ROLES, NAME_PATTERNS
    from ..kernels.wsre import PY_WS, PY_WS_SPLIT, py_ws_exact

    def esc(p):
        # the kernel applies NAME_PATTERNS with Python re — rewrite \s
        # to the explicit Python whitespace class so RE2 reads the
        # pattern the way Python did (kernels.wsre). (?i) is kept:
        # Python's fold table ⊃ RE2's (both fold ſ/K; Python also
        # folds İ↔i) — RE2 (?i) is the closest expressible form, and
        # the İ-class residual is unreachable for the UPPER-ASCII
        # roster domain (documented; see wsre.ascii_i_exact for the
        # Java-side variant of this problem)
        return py_ws_exact("(?i)" + p).replace("'", "''")

    hits = []
    # patterns 0 and 2 capture (title, name, role); pattern 1 (name, role)
    for pi, pat in enumerate(NAME_PATTERNS):
        p = esc(pat)
        if pi == 1:
            cand = "list_extract(g1, i)"
            role = "list_extract(g2, i)"
            groups = (
                f"regexp_extract_all(content, '{p}', 1) AS g1, "
                f"regexp_extract_all(content, '{p}', 2) AS g2"
            )
        else:
            cand = "trim(list_extract(g1, i) || ' ' || list_extract(g2, i))"
            role = "list_extract(g3, i)"
            groups = (
                f"regexp_extract_all(content, '{p}', 1) AS g1, "
                f"regexp_extract_all(content, '{p}', 2) AS g2, "
                f"regexp_extract_all(content, '{p}', 3) AS g3"
            )
        hits.append(
            f"SELECT url, {pi} AS pat, i AS pos, {cand} AS cand, upper({role}) AS role "
            f"FROM (SELECT url, {groups}, unnest(generate_series(1, len(g1))) AS i "
            f"FROM src)"
        )
    all_hits = " UNION ALL ".join(hits)
    role_gate = " OR ".join(f"contains(role, '{er}')" for er in EXECUTIVE_ROLES)
    return (
        f"WITH src AS (SELECT * FROM {values_clause}), "
        f"hits AS ({all_hits}), "
        "cleaned AS (SELECT url, pat, pos, "
        # _TITLE_PREFIX / _WS_RUN are Python re — same explicit class.
        # trim() strips only ASCII space in DuckDB vs Python str.strip()
        # Unicode — the \s* of the prefix regex and the collapse step
        # make the residual unreachable (leading ws is consumed, inner
        # runs collapse to ' ').
        f"regexp_replace(trim(regexp_replace(cand, '^(MR\\.|MS\\.|DR\\.){PY_WS}*', '')), '{PY_WS_SPLIT}', ' ', 'g') AS executive, "
        f"role FROM hits WHERE {role_gate}), "
        # dict-insert order per url: later (pattern, match) overrides
        "per_url AS (SELECT url, executive, role FROM ("
        "SELECT *, row_number() OVER (PARTITION BY url, executive ORDER BY pat DESC, pos DESC) AS rn "
        "FROM cleaned) WHERE rn = 1) "
        # keep-last across urls (extract_executives orders by __src desc)
        "SELECT executive, role FROM ("
        "SELECT *, row_number() OVER (PARTITION BY executive ORDER BY url DESC) AS rn2 "
        "FROM per_url) WHERE rn2 = 1"
    )


def norm_name_col(c) -> F.Column:
    """UPPER + strip non-word/space (kernels.executives.normalize_name).
    (?U): the kernel's Python ``\\w`` is Unicode, so accented letters in
    names must survive normalization here too (Java ``\\w`` is ASCII by
    default and would strip them)."""
    return F.regexp_replace(F.upper(c), r"(?U)[^\w\s]", "")


def last_token_col(c) -> F.Column:
    return F.element_at(F.split(F.trim(norm_name_col(c)), r"\s+"), -1)


def match_executives(
    chunks: DataFrame,
    roster: DataFrame,
    speaker_col: str = "speaker",
    roster_order_col: str = None,
    row_id_col: str = None,
) -> DataFrame:
    """J1: chunks ⋈ roster on last-name key, reference match predicate
    (full-name ∨ last-token ∨ first+last), first roster entry wins.

    ``roster`` needs columns (executive, role) and optionally
    ``roster_pos`` for deterministic first-match order; without it,
    roster order = executive name order.

    ``row_id_col``: a caller-supplied per-row id (e.g. chunk_id) used
    for the first-match dedup — pass one when feeding an exactly-once
    sink. Without it a deterministic id is derived as (row-value hash,
    occurrence number): stable across task retries, unlike
    ``monotonically_increasing_id``, at the cost of one extra window
    shuffle on the row values."""
    spk = F.col(speaker_col)
    exec_name = F.col("executive")

    r = roster
    if "roster_pos" not in r.columns:
        w = Window.orderBy("executive")
        r = r.withColumn("roster_pos", F.row_number().over(w))
    r = r.withColumn("exec_key", last_token_col(exec_name))

    # per-ROW identity for the first-match dedup: partitioning by chunk
    # column values alone would collapse fully-duplicate rows into one
    # match, unlike the reference's per-row loop — the occurrence number
    # keeps duplicates distinct while staying retry-deterministic
    c = chunks.filter(spk != "MANAGEMENT").withColumn("spk_key", last_token_col(spk))
    if row_id_col is not None:
        c = c.withColumn("__rid", F.col(row_id_col))
    else:
        w_occ = Window.partitionBy(*chunks.columns).orderBy(F.lit(1))
        c = c.withColumn(
            "__rid",
            F.struct(
                F.xxhash64(*chunks.columns).alias("h"),
                F.row_number().over(w_occ).alias("occ"),
            ),
        )

    joined = c.join(F.broadcast(r), c["spk_key"] == r["exec_key"], "inner")

    # last-token equality already holds from the join key; the reference's
    # three rules are therefore all satisfied — the post-filter is kept
    # for fidelity with non-key variants of the matcher
    clean_spk = F.regexp_replace(F.trim(norm_name_col(spk)), r"\s+", " ")
    clean_exec = F.regexp_replace(F.trim(norm_name_col(exec_name)), r"\s+", " ")
    full_eq = clean_spk == clean_exec
    last_eq = F.lit(True)
    first_last_eq = (
        (F.size(F.split(clean_spk, " ")) >= 2)
        & (F.size(F.split(clean_exec, " ")) >= 2)
        & (F.element_at(F.split(clean_spk, " "), 1) == F.element_at(F.split(clean_exec, " "), 1))
    )
    matched = joined.filter(full_eq | last_eq | first_last_eq)

    # first-match-wins: the reference breaks at the first roster entry
    # (dict order) that matches (executive_extractor.py:59-77)
    chunk_cols = list(chunks.columns)
    w = Window.partitionBy("__rid").orderBy("roster_pos")
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*chunk_cols, "executive", "role", "roster_pos")
        .withColumnRenamed("role", "executive_role")
    )
