"""r12/r13 optimization rounds, text family.

Two things are pinned here on a null/empty/control-byte/unicode
fixture:

1. ``punct_count``/``profile_columns``'s translate-based punctuation
   count is VALUE-IDENTICAL to the pre-r12 regexp character-class
   delete, and the whole profile dict matches the naive per-metric
   reference expressions.
2. ``lang_id`` (r13: reverted to the array/HOF form after the r12
   collapsed-string variant lost its driver-grade A/B — see
   functions/text.py's module comment) is VALUE-IDENTICAL to the
   collapsed-string whole-token-counting formulation, which is still
   the spelling the DuckDB oracle uses for lang_id_counts — so the
   cross-engine equivalence stays pinned even though the engine no
   longer runs that form.

The reference expressions below are the pre-r12 array forms, inlined
verbatim so the equivalence stays pinned independent of the library.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from football_etl_spark.functions import text

NASTY = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "\t\n\x0b\x0c\r"),
    (4, "the cat, sat!"),
    (5, "the the the"),
    (6, "a and of to in is it for on the"),
    (7, "  leading and trailing  "),
    (8, "\tleading tab"),
    (9, "trailing tab\t"),
    (10, "athe thea the"),
    (11, "x\x1e y\x1f z"),  # RS/US bytes are TOKEN chars, not separators
    (12, "的 是 了 在 我"),
    (13, "el la de que los"),
    (14, "word"),
    (15, "a  b\t\tc\n\nd"),
    (16, "punct....,,,!!!???;;;:::"),
    (17, "Ünïcode tökens überall"),
    (18, "the\x0bquick"),  # vertical tab IS a Java \s separator
    (19, "mixed   the  a whitespace\tthe\ncase"),
    (20, "; the ; a ;"),
]


@pytest.fixture(scope="module")
def nasty_df(spark):
    return spark.createDataFrame(NASTY, ["i", "text"])


def _ref_tokens(c):
    t = F.trim(F.col(c))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def _ref_profile(c):
    """Pre-r12 reference: the array/HOF metric expressions, verbatim
    (n_punct via the regexp character-class delete)."""
    txt = F.col(c)
    toks = _ref_tokens(c)
    sw = F.array(*[F.lit(s) for s in text.STOPWORDS_EN])
    n_tok = F.size(toks)
    n_punct = F.length(F.regexp_replace(txt, r"[^.,!?;:]", ""))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    punct_ratio = F.when(F.length(txt) > 0, n_punct / F.length(txt)).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    quality = (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
        + (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
        + F.least(stop_ratio * 4, F.lit(1.0))
    ) / 3
    lang = F.lit("und")
    best = F.lit(0)
    low = F.transform(toks, lambda t: F.lower(t))
    for lang_code, markers in text.LANG_MARKERS.items():
        marr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(low, lambda t: F.array_contains(marr, t)))
        lang = F.when(score > best, F.lit(lang_code)).otherwise(lang)
        best = F.greatest(best, score)
    return {
        "n_tokens": n_tok.cast("long"),
        "n_punct": n_punct.cast("long"),
        "n_stopwords": n_stop.cast("long"),
        "avg_token_len": F.when(n_tok > 0, tok_chars / n_tok).otherwise(F.lit(0.0)),
        "stop_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality": quality,
        "lang": lang,
    }


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def test_metrics_match_reference(nasty_df):
    ref = _ref_profile("text")
    m = text.profile_columns(F.col("text"), text.tokens("text"))
    rows = nasty_df.select(
        "i",
        "text",
        m["n_tokens"].alias("new_n_tokens"),
        ref["n_tokens"].alias("ref_n_tokens"),
        m["n_punct"].alias("new_n_punct"),
        ref["n_punct"].alias("ref_n_punct"),
        m["n_stopwords"].alias("new_n_stop"),
        ref["n_stopwords"].alias("ref_n_stop"),
        m["avg_token_len"].alias("new_avg"),
        ref["avg_token_len"].alias("ref_avg"),
        m["quality"].alias("new_q"),
        ref["quality"].alias("ref_q"),
        text.token_count("text").alias("new_tc"),
        text.stopword_ratio("text").alias("new_sr"),
        ref["stop_ratio"].alias("ref_sr"),
        text.punct_count("text").alias("new_pc"),
        text.quality_score("text").alias("new_qs"),
        text.lang_id("text").alias("new_lang"),
        ref["lang"].alias("ref_lang"),
    ).collect()
    for r in rows:
        ctx = (r["i"], repr(r["text"]))
        assert _same(r["new_n_tokens"], r["ref_n_tokens"]), ("n_tokens", ctx, r)
        assert _same(r["new_n_punct"], r["ref_n_punct"]), ("n_punct", ctx, r)
        assert _same(r["new_n_stop"], r["ref_n_stop"]), ("n_stopwords", ctx, r)
        assert _same(r["new_avg"], r["ref_avg"]), ("avg_token_len", ctx, r)
        assert _same(r["new_q"], r["ref_q"]), ("quality", ctx, r)
        # standalone functions agree with the profile dict + reference
        assert _same(r["new_tc"], r["ref_n_tokens"]), ("token_count", ctx, r)
        assert _same(r["new_sr"], r["ref_sr"]), ("stopword_ratio", ctx, r)
        assert _same(r["new_pc"], r["ref_n_punct"]), ("punct_count", ctx, r)
        assert _same(r["new_qs"], r["ref_q"]), ("quality_score", ctx, r)
        assert _same(r["new_lang"], r["ref_lang"]), ("lang_id", ctx, r)


def _collapsed_lang_id(c):
    """The r12 collapsed-string lang_id, inlined verbatim — no longer
    the engine's form (reverted r13, measured slower at every depth)
    but still the DuckDB oracle's SQL spelling for lang_id_counts;
    this reference keeps the two formulations provably equal."""
    collapsed = F.regexp_replace(F.trim(F.col(c)), r"\s+", " ")
    padded = F.concat(
        F.lit(" "),
        F.replace(F.lower(collapsed), F.lit(" "), F.lit("  ")),
        F.lit(" "),
    )

    def hits(word):
        pat = f" {word} "
        diff = F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit("")))
        return (diff / F.lit(len(pat))).cast("int")

    expr = F.lit("und")
    best = F.lit(0)
    for lang, markers in text.LANG_MARKERS.items():
        score = None
        for m in markers:
            h = hits(m)
            score = h if score is None else score + h
        expr = F.when(score > best, F.lit(lang)).otherwise(expr)
        best = F.greatest(best, score)
    return expr


def test_lang_id_matches_collapsed_oracle_form(nasty_df):
    """Engine lang_id (array form) == the collapsed whole-token
    counting form the lang_id_counts oracle is written in."""
    rows = nasty_df.select(
        "i",
        "text",
        text.lang_id("text").alias("engine"),
        _collapsed_lang_id("text").alias("collapsed"),
    ).collect()
    for r in rows:
        assert r["engine"] == r["collapsed"], (r["i"], repr(r["text"]), r)
