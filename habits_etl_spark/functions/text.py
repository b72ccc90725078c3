"""Text kernels shared by the document operators, each as a Spark Column
builder and its DuckDB SQL twin over the ``documents.text`` column:
whitespace tokens, stopword-profile language scores and guess, and the
combined quality score. The twins are spelled out side by side so the
Spark plan and the oracle SQL cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenization shared by every document operator.
TOK_DUCK = "regexp_split_to_array(trim(text), '\\s+')"


def tok_spark(c: Column) -> Column:
    """Spark twin of TOK_DUCK over a string Column."""
    return F.split(F.trim(c), r"\s+")


# Tiny stopword profiles for the language-ID heuristic.
LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}


def lang_score_spark(toks: Column, words) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def lang_score_duck(words) -> str:
    wl = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({TOK_DUCK}, x -> list_contains([{wl}], x)))"


def lang_guess_col(toks: Column) -> Column:
    """Argmax of the stopword-profile scores with a fixed precedence
    order; 'und' when no profile word occurs."""
    s = {k: lang_score_spark(toks, v) for k, v in LANG_PROFILES.items()}
    return (
        F.when(F.greatest(s["en"], s["de"], s["fr"], s["es"]) == 0, F.lit("und"))
        .when(s["en"] >= F.greatest(s["de"], s["fr"], s["es"]), F.lit("en"))
        .when(s["de"] >= F.greatest(s["fr"], s["es"]), F.lit("de"))
        .when(s["fr"] >= s["es"], F.lit("fr"))
        .otherwise(F.lit("es"))
    )


# The SQL twin of lang_guess_col comes in two parts: the score columns
# s_en..s_es over ``documents``, and the CASE over them. Each takes the
# indent of its continuation lines, because the oracle strings that embed
# them are pinned byte for byte.
def lang_scores_sql(indent: int) -> str:
    return (",\n" + " " * indent).join(
        f"{lang_score_duck(words)} AS s_{lang}" for lang, words in LANG_PROFILES.items()
    )


_GUESS_ARMS = (
    "CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'",
    "     WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'",
    "     WHEN s_de >= greatest(s_fr, s_es) THEN 'de'",
    "     WHEN s_fr >= s_es THEN 'fr'",
    "     ELSE 'es' END AS lang_guess",
)


def lang_guess_sql(indent: int) -> str:
    return ("\n" + " " * indent).join(_GUESS_ARMS)


# (doc_id, lang, lang_guess) over ``documents`` as one statement, for a
# CTE body.
LANG_GUESS_DUCK = f"""
      SELECT doc_id, lang,
             {lang_guess_sql(13)}
      FROM (
        SELECT doc_id, lang,
               {lang_scores_sql(15)}
        FROM documents
      )
"""


# The combined quality formula, shared by ext_quality_score and the
# CCNet-style per-language bucket routing (plans/ext_pipeline.py).
#
# The +1e-9 tie-nudge before round(., 4): the weighted sum is a rational
# with denominator 100*n_tokens <= ~1e6, so values can land EXACTLY on a
# 4th-decimal rounding boundary (e.g. 0.59625 at n_tokens=48) — where
# Spark (BigDecimal HALF_UP on the double's shortest decimal repr) and
# DuckDB (scaled-double rounding) disagree per-value. Nudging by 1e-9
# rounds exact ties UP in both engines, and cannot move any non-tie:
# legitimate values sit on a >= 1e-6 grid, 1000x coarser than the nudge.
# (Found by the sf0.1 full-ledger gate: 9 of 50k docs hit ties that sf0.01
# never sampled.)
QUALITY_SQL = (
    "round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)"
    " + 0.3 * (CAST(n_unique AS DOUBLE) / greatest(n_tokens, 1))"
    " + 0.2 * least(10.0 * CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 1.0)"
    " + 1e-9, 4)"
)
QUALITY_INPUTS_DUCK = f"""CAST(len({TOK_DUCK}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({TOK_DUCK})) AS BIGINT) AS n_unique,
             {lang_score_duck(LANG_PROFILES['en'])} AS n_stop,
             length(text) AS n_chars"""


def quality_col(text: Column | None = None) -> Column:
    """Spark twin of QUALITY_SQL over a raw text column (default
    ``text``), including the 1e-9 tie-nudge."""
    toks = tok_spark(F.col("text") if text is None else text)
    n_tokens = F.size(toks).cast("bigint")
    n_unique = F.size(F.array_distinct(toks)).cast("bigint")
    n_stop = lang_score_spark(toks, LANG_PROFILES["en"])
    g = F.greatest(n_tokens, F.lit(1).cast("bigint"))
    return F.round(
        F.lit(0.5) * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (n_unique.cast("double") / g)
        + F.lit(0.2) * F.least(F.lit(10.0) * n_stop.cast("double") / g, F.lit(1.0))
        + F.lit(1e-9),
        4,
    )
