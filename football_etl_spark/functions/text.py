"""Text-analysis expression library (LLM-data-pipeline extensions).

Language-ID, quality scoring, token counting and document
fingerprinting as pure Column expressions — JVM-side, no Python in
the hot path, so they hold up on a 100 TB documents table. Each has
an exact ANSI-SQL twin in plans/queries.py for DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalars import ColumnOrName, _col

# Tiny embedded stopword/marker lists — deterministic, language-ID by
# marker-hit counting (the classic n-gram/stopword heuristic).
STOPWORDS_EN = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "for"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}

TOKEN_SPLIT_RE = r"\s+"


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization; empty/blank text → empty array."""
    t = F.trim(_col(c))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, TOKEN_SPLIT_RE)
    )


# The r12 collapsed-string whole-token-counting experiment is fully
# REVERTED as of r13. History: the first r12 cut rewrote the whole
# profile surface onto collapsed-string counting; its own A/B showed
# the token-ARRAY path faster everywhere except lang_id, which kept
# the collapsed form on a narrow win (0.25 vs 0.29 s standalone). The
# r12 driver then measured lang_id_counts SLOWER (0.68x, and not
# faster at 8 cores), and the r13 same-session interleaved A/B
# (BENCH_NOTES "Round 13 OPTIMIZATION round, wave 1", lang_id_counts
# row; both forms in ONE JVM) confirmed the driver: collapsed vs
# array is flat at sf0.1 (1.007x) and LOSES at x10 (0.946x — the
# padded-string construction scales with text bytes). Per VERDICT r12 ask #1 the loser is reverted; lang_id below
# is again the pre-r12 array/HOF form (the oracle's collapsed-string
# SQL spelling is unchanged — equivalence of the two formulations
# stays pinned by tests/test_text_fastpath.py).
def token_count(c: ColumnOrName) -> Column:
    return F.size(tokens(c))


def punct_count(c: ColumnOrName) -> Column:
    # translate (plain char map) instead of the regexp_replace
    # character-class delete — identical count of {.,!?;:} chars.
    col = _col(c)
    return F.length(col) - F.length(F.translate(col, ".,!?;:", ""))


def punct_ratio(c: ColumnOrName) -> Column:
    col = _col(c)
    return F.when(
        F.length(col) > 0, punct_count(col) / F.length(col)
    ).otherwise(F.lit(0.0))


def stopword_ratio(c: ColumnOrName, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of tokens that are stopwords — array filter, no UDF."""
    toks = tokens(c)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(c: ColumnOrName) -> Column:
    """Heuristic doc-quality score in [0,1]: favors mid-length docs,
    low punctuation density, sane stopword share. Deterministic and
    SQL-mirrorable (components are the exprs above)."""
    n_tok = token_count(c).cast("double")
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(c) * 4, F.lit(1.0))
    return (length_term + punct_term + stop_term) / 3


def lang_id(c: ColumnOrName) -> Column:
    """Marker-hit language ID: count per-language marker tokens, take
    the argmax (ties broken by the fixed language order), 'und' when
    nothing hits. Pure array expressions (one tokenize + one
    array_contains filter per language — the form every A/B including
    the r12 driver's ground truth favors; see the module comment)."""
    toks = F.transform(tokens(c), lambda t: F.lower(t))
    # Chained argmax: a later language wins only on a strictly greater
    # score, so ties resolve to the earlier language — deterministic.
    expr = F.lit("und")
    best = F.lit(0)
    for lang, markers in LANG_MARKERS.items():
        marr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda t: F.array_contains(marr, t)))
        expr = F.when(score > best, F.lit(lang)).otherwise(expr)
        best = F.greatest(best, score)
    return expr


def fingerprint(c: ColumnOrName) -> Column:
    """Document fingerprint: md5 over the whitespace-normalized,
    lowercased text — the canonical exact-dup key."""
    return F.md5(F.regexp_replace(F.lower(F.trim(_col(c))), TOKEN_SPLIT_RE, " "))


# Modulus for the rolling polynomial hash: Mersenne prime 2^31-1.
# Accumulator stays < 2^31, so acc*31 + tok_hash < 2^36 — exact int64
# arithmetic in both Spark and the DuckDB oracle.
ROLLING_HASH_P = 2147483647


def rolling_hash(c: ColumnOrName, mod: int = ROLLING_HASH_P) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over the token sequence, ``h = fold(31·acc + hash(tok)) mod P``.
    Unlike :func:`fingerprint` (set-style content key), this changes
    when token ORDER changes — the classic chunk/fingerprint primitive.
    Each token hashes once (48-bit md5 prefix) then folds JVM-side via
    ``aggregate`` — no Python in the hot path; empty docs hash to 0."""
    tok_h = F.transform(
        tokens(c),
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long") % mod,
    )
    return F.aggregate(
        tok_h,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % mod,
    )


def profile_columns(text_col: ColumnOrName, toks_col: ColumnOrName) -> dict[str, Column]:
    """All per-doc text metrics computed from a PRE-tokenized column —
    one split per row instead of one per metric (the naive form's
    expression tree re-tokenizes ~15× per row, which both slows
    codegen and bloats the generated code). Values are identical to
    the per-metric functions above (pinned by
    tests/test_text_fastpath.py); n_punct counts via translate (plain
    char map) rather than a regexp character-class delete — the one
    piece of the r12 collapsed-string experiment that survived its
    A/B (the collapsed-string forms themselves are fully reverted —
    see the module comment above token_count)."""
    txt, toks = _col(text_col), _col(toks_col)
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_tok = F.size(toks)
    n_punct = F.length(txt) - F.length(F.translate(txt, ".,!?;:", ""))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    punct_ratio_ = F.when(F.length(txt) > 0, n_punct / F.length(txt)).otherwise(F.lit(0.0))
    stop_ratio_ = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    quality = (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
        + (F.lit(1.0) - F.least(punct_ratio_ * 5, F.lit(1.0)))
        + F.least(stop_ratio_ * 4, F.lit(1.0))
    ) / 3
    return {
        "n_tokens": n_tok.cast("long"),
        "n_chars": F.length(txt).cast("long"),
        "n_punct": n_punct.cast("long"),
        "n_stopwords": n_stop.cast("long"),
        "n_bpe_tokens": F.regexp_count(
            txt, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]")
        ).cast("long"),
        "avg_token_len": F.when(n_tok > 0, tok_chars / n_tok).otherwise(F.lit(0.0)),
        "quality": quality,
    }


# PII scrub patterns — deliberately written with EXPLICIT character
# classes (no \d, \w) so Java regex (Spark) and RE2 (DuckDB oracle)
# match byte-for-byte; the phone pattern is fixed-shape for the same
# reason (open-ended quantifiers over separators invite cross-engine
# greediness surprises).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
)


def redact_pii(c: ColumnOrName) -> Column:
    """Scrub emails / IPv4s / phone numbers with typed placeholder
    tokens — the pre-training privacy pass every large corpus gets.
    Pure regexp_replace chain: JVM-side, single scan, order fixed
    (email → ip → phone) so the output is deterministic."""
    out = _col(c)
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def shingles_from_tokens(toks: ColumnOrName, n: int = 3) -> Column:
    """Token n-gram shingles from a PRE-tokenized array column — use
    with a materialized token alias when the token expression would
    otherwise be inlined (and re-split) several times per row."""
    toks = _col(toks)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(c: ColumnOrName, n: int = 3) -> Column:
    """Token n-gram shingles as an array<string> (for MinHash/Jaccard).
    Docs shorter than n tokens yield a single whole-doc shingle."""
    return shingles_from_tokens(tokens(c), n)
