"""Porter-stemmed retrieval vocabulary (operators over
kernels/stemmer.py).

Scale shape — the vocabulary trick: stemming is per-WORD Python, so it
must never run over the token STREAM (corpus-sized). Instead:

1. tokenize natively (the shared retrieval tokenizer) and reduce to
   the DISTINCT vocabulary — a combinable groupBy whose output is
   vocabulary-sized (Heaps-law sublinear in the corpus);
2. stem the vocabulary with ONE Arrow-batched pandas UDF crossing
   (the only Python stage);
3. join stems back to the corpus token stream key-to-key (AQE
   broadcasts the vocabulary when it fits) and aggregate natively.

So the Python work is O(vocabulary) while everything corpus-sized
stays JVM-native — the same discipline as the quality-classifier gate
(mlfilter.py's broadcast weight join).

Oracle: DuckDB cannot Porter-stem, so the driver twin uses the
committed fixture device (the fix_mojibake pattern): the fixture's
expected column IS the pure-Python kernel output, and the strict
compare proves the distributed Arrow path reproduces it byte-for-byte.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import per_call_pandas_udf
from .retrieval import _tokens_col


@per_call_pandas_udf("string")
def _stem_udf(words: pd.Series) -> pd.Series:
    from ..kernels.stemmer import porter_stem

    return words.map(lambda w: porter_stem(w) if w is not None else None)


def stem_words(df: DataFrame, word_col: str = "word") -> DataFrame:
    """Append ``stem`` = Porter stem of ``word_col`` (Arrow-batched;
    one Python stage)."""
    return df.withColumn("stem", _stem_udf(F.col(word_col)))


def stem_vocabulary(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, stem): the corpus' distinct tokenizer vocabulary with
    Porter stems — the vocabulary-sized frame the join-back keys on."""
    vocab = (
        docs.select(
            F.explode(
                _tokens_col(F.coalesce(F.col(text_col), F.lit("")), True)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("_n"))
        .select("word")
    )
    return stem_words(vocab)


def stemmed_term_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(stem, n_tokens, n_words): corpus term counts collapsed onto
    Porter stems — token occurrences and distinct surface forms per
    stem. The token stream never crosses into Python."""
    toks = docs.select(
        F.explode(
            _tokens_col(F.coalesce(F.col(text_col), F.lit("")), True)
        ).alias("word")
    ).groupBy("word").agg(F.count("*").alias("n"))
    stems = stem_words(toks)
    return stems.groupBy("stem").agg(
        F.sum("n").alias("n_tokens"),
        F.count("*").alias("n_words"),
    )
