"""E4 text analysis — n-gram language ID and tokenization (SURVEY §2.10).

These are the engine's sanctioned Python extension points: vectorized
Arrow ``pandas_udf``\\ s (one Python roundtrip per batch, pandas string
kernels inside) rather than row-at-a-time Python UDFs. Both are
deterministic integer computations so the DuckDB oracle can mirror them
exactly:

- **Language ID** scores each text against per-language character-bigram
  profiles (count of non-overlapping profile-bigram occurrences) and
  predicts the argmax, ties broken toward the lexicographically smallest
  language. The oracle reproduces the non-overlapping count with the
  ``(length(t) - length(replace(t, g, ''))) // 2`` trick — ``str.count``
  in pandas, ``replace`` in SQL, and ``re`` all consume matches
  left-to-right without overlap, so the counts agree.
- **BPE-ish token counting** counts matches of a subword-style regex
  (letter runs | digit runs | single punctuation) — the same pattern is
  RE2- and ``re``-compatible, so DuckDB's ``regexp_extract_all`` agrees.

Scale notes (100 TB): both UDFs are per-row projections — zero shuffle,
and the Arrow batch transfer is the only overhead over a JVM expression.
The bigram scoring is also expressible with built-ins; it lives here as
a pandas_udf deliberately, to exercise the extension surface the real
lang-id models (fasttext et al.) would plug into.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType, StringType

#: Character-bigram profiles per language, ordered lexicographically so
#: argmax tie-breaks resolve to the smallest language in both engines.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("th", "he", "in"),
    "es": ("de", "la", "os"),
    "fr": ("le", "ou", "on"),
}

#: Letter runs, digit runs, or single non-space punctuation — a BPE-ish
#: pre-tokenizer shape. Kept RE2-compatible (no lookarounds) so the
#: DuckDB oracle can run the identical pattern.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _bigram_count(texts: pd.Series, gram: str) -> pd.Series:
    # Regex-escape not needed: profiles are letter-only bigrams.
    return texts.str.count(gram).fillna(0).astype("int64")


@pandas_udf(StringType())
def langid_predict(texts: pd.Series) -> pd.Series:
    """Predicted language code for each text (vectorized)."""
    scores = pd.DataFrame(
        {
            lang: sum(_bigram_count(texts, g) for g in grams)
            for lang, grams in sorted(LANG_PROFILES.items())
        }
    )
    # idxmax returns the FIRST max column; columns are sorted, so ties
    # resolve to the lexicographically smallest language.
    return scores.idxmax(axis=1)


@pandas_udf(LongType())
def bpe_token_count(texts: pd.Series) -> pd.Series:
    """Number of BPE-ish tokens per text (vectorized regex count)."""
    return texts.str.count(BPE_TOKEN_PATTERN).fillna(0).astype("int64")


def langid_predict_sql(text_expr: str) -> str:
    """DuckDB twin of ``langid_predict`` over a text expression.

    Non-overlapping bigram counts via the replace trick; argmax via a
    CASE chain whose ``>=`` comparisons tie-break exactly like pandas
    ``idxmax`` over lexicographically ordered columns.
    """

    def score(grams: tuple[str, ...]) -> str:
        terms = [
            f"(length({text_expr}) - length(replace({text_expr}, '{g}', ''))) // 2"
            for g in grams
        ]
        return "(" + " + ".join(terms) + ")"

    langs = sorted(LANG_PROFILES)
    scores = {lang: score(LANG_PROFILES[lang]) for lang in langs}
    # lang i wins iff it is >= every later lang (earlier langs already lost).
    branches = []
    for i, lang in enumerate(langs[:-1]):
        cond = " AND ".join(
            f"{scores[lang]} >= {scores[later]}" for later in langs[i + 1 :]
        )
        branches.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"


def word_bigrams(toks: str) -> Column:
    """Adjacent word bigrams ``"a b"`` of the token-array column named
    ``toks``, in order. Callers gate arrays shorter than 2 tokens:
    ``sequence(0, -1)`` steps downward in Spark."""
    return F.expr(
        f"transform(sequence(0, size({toks}) - 2),"
        f" i -> concat(element_at({toks}, i + 1), ' ', element_at({toks}, i + 2)))"
    )
