"""SQL dual surface: the registry's oracle SQL running ON SPARK.

Every registry oracle is written for DuckDB, but a large subset is
plain ANSI that Spark SQL parses unchanged. For that subset this
suite runs the ORACLE TEXT through ``spark.sql`` over temp views of
the same tables and requires the result to match the DataFrame-API
implementation exactly — proving the engine's SQL-first entry point
computes the same answers as its DataFrame plans, with zero
per-query porting.

Entries whose oracle uses DuckDB-only surface (QUALIFY, LEN,
STRING_SPLIT_REGEX, UNNEST-over-list, ->>; note recursive CTEs and
bare-keyword INTERVAL comparisons parse on BOTH engines as of Spark
4 — several former skips were ported through them)
skip — but ONLY with an individual justification in DIALECT_SKIPS
below; an unlisted skip fails the suite, and a listed entry that
starts parsing fails too (stale justification). Two entries are
excluded with cause (see EXCLUDED):

- ``pii_redacted_docs``: DuckDB's 4-arg REGEXP_REPLACE 'g' flag
  reads as a 1-based POSITION on Spark — silent-wrong, not a parse
  error, and the PII patterns are real regexes with no REPLACE
  equivalent (unlike dedup_exact's whitespace collapse, ported in
  r10 via TRANSLATE + the sentinel sandwich).
- ``league_table``: ROUND(AVG(double), 6) sits on a rounding
  boundary for a handful of groups, and the SQL and DataFrame plans
  accumulate partitions in different orders — exactly the last-bit
  noise the registry's ROUND policy exists to absorb in
  cross-engine comparison; same-engine plan-vs-plan can land on
  opposite sides of the boundary.
"""

from __future__ import annotations

import pytest

from football_etl_spark.io.loader import load_table
from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_SMOKE
from .oracle_harness import _norm

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

EXCLUDED = {
    # escapedStringLiterals=true (see _views) retired the backslash
    # half of these reasons in r9 — json_extract_events runs dual now —
    # and r10's TRANSLATE + sentinel-sandwich whitespace collapse
    # ported dedup_exact_documents off the 'g'-flag gap entirely.
    # pii remains excluded on it: DuckDB's 4-arg
    # REGEXP_REPLACE(str, pat, rep, 'g') does global replacement,
    # Spark's 4th arg is a 1-based POSITION (the string 'g' would
    # cast to NULL position under the pinned non-ANSI session and
    # return NULL rows — a silent-wrong, not a parse error, so it
    # cannot ride the DIALECT_SKIPS parse gate), and pii's patterns
    # are REAL regexes with no REPLACE equivalent.
    "pii_redacted_docs": "DuckDB 4-arg REGEXP_REPLACE('g') vs Spark position arg",
    "league_table": "ROUND(AVG(double)) boundary vs plan accumulation order",
}

# Every known dialect skip, individually justified. The shared
# vocabulary gaps, so the reasons below stay short:
#   TOKENS  = STRING_SPLIT_REGEX('\s+') (backslash escaping differs in
#             single-quoted literals) + LEN(list) (no common list-length:
#             Spark size/cardinality vs DuckDB len; DuckDB cardinality is
#             map-only) + UNNEST vs explode for per-token expansion
#   LAMBDA  = DuckDB list_transform/list_sum/list comprehensions vs
#             Spark transform/aggregate — FILTER is the only shared
#             higher-order function
#   SERIES  = UNNEST(GENERATE_SERIES(..)) vs explode(sequence(..)) — no
#             common integer-range spelling
#   STRFTIME= DuckDB strftime vs Spark date_format, different pattern
#             languages
#   EPOCH   = DuckDB epoch/epoch_us vs Spark unix_timestamp/unix_micros
# A skip NOT listed here fails the suite: new oracles must either run
# on Spark SQL or document exactly which dialect feature blocks them.
DIALECT_SKIPS = {
    "ann_cosine_topk": "LAMBDA dot product + SERIES + QUALIFY",
    "audio_decode_wav": (
        "SERIES sample indexing — range(a,b) t(i) parses on BOTH "
        "engines (probed r9) but the per-row sample sum needs a "
        "correlated aggregate mixing outer doc_id with local i, "
        "which Spark rejects (AGGREGATE_FUNCTION_MIXED_OUTER_LOCAL_"
        "REFERENCES); the lateral-explode spelling is Spark-only"
    ),
    "bigram_lm_surprisal_topk": "TOKENS + SERIES bigram build + lateral UNNEST",
    "hybrid_rrf_topk": (
        "QUALIFY + LAMBDA cosine dot product on the dense leg (the "
        "bm25 CTE chain it inherits was ported to the shared subset "
        "in r12, so TOKENS no longer blocks it)"
    ),
    "trigram_backoff_surprisal_topk": (
        "TOKENS + SERIES trigram position build + lateral UNNEST of "
        "a struct list (the probed struct-literal lambda spelling is "
        "DuckDB-only)"
    ),
    "bpe_train_merges": "DuckDB LIST_* lambda greedy-fold merge apply + SERIES bigrams",
    "bpe_encode_corpus": "same trainer chain (LIST_* lambdas + SERIES bigrams)",
    "dup_cluster_size_distribution": "TOKENS + LAMBDA + RECURSIVE CTE",
    "canonical_near_dup_docs": "TOKENS + LAMBDA + RECURSIVE CTE",
    "pca_top_component": (
        "LAMBDA quantization + SERIES Gram fan-out + DuckDB "
        "list-subscript qv[i] (same blockers as embedding_gram_matrix)"
    ),
    "embedding_gram_matrix": (
        "LAMBDA quantization + SERIES index fan-out + DuckDB "
        "list-subscript qv[i]"
    ),
    "rolling_median_spend": (
        "MEDIAN over a RANGE frame: the r10 date-subtraction port "
        "fixed the old DATE_DIFF spelling gap, but Spark rejects an "
        "aggregate MEDIAN with ORDER BY + frame in a window spec "
        "(INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) while DuckDB "
        "evaluates it natively; Spark's percentile_approx/median "
        "window support has no frame form — probed"
    ),
    "embedding_near_dups": "LAMBDA (list_sum over list comprehension)",
    "mmr_diverse_topk": (
        "LAMBDA cosine dot product (the ANN family's blocker) on "
        "both the candidate scoring and the 16x16 pairwise-sim CTE"
    ),
    "embedding_near_dups_exact": "LAMBDA (list_sum over list comprehension)",
    "ivf_ann_topk": "LAMBDA + SERIES + QUALIFY",
    "ivf_recall_at_k": "LAMBDA + SERIES + QUALIFY (the ivf/exact legs)",
    "ivf_trained_ann_topk": "LAMBDA + SERIES + QUALIFY",
    "kmeans_embedding_clusters": "SERIES + QUALIFY + UNNEST",
    "label_centroids": "UNNEST per-component expansion",
    "lsh_ann_topk": "LAMBDA + SERIES + QUALIFY",
    "lsh_banded_ann_topk": "LAMBDA + SERIES + QUALIFY",
    "lsh_banded_recall": "LAMBDA + SERIES + QUALIFY",
    "lsh_recall_at_k": "LAMBDA + SERIES + QUALIFY",
    "minhash_clusters": "TOKENS + LAMBDA + RECURSIVE CTE",
    "near_dup_clusters": "TOKENS + LAMBDA + RECURSIVE CTE",
    "nested_event_flatten": "EPOCH + '//' + printf",
    "pq_adc_ann_topk": "SERIES + QUALIFY + '//' integer division",
    "purchase_asof_login": (
        "EPOCH (epoch_us gap) + IGNORE NULLS placement: DuckDB only "
        "parses last_value(x IGNORE NULLS), Spark only "
        "last_value(x) IGNORE NULLS — probed, no common spelling"
    ),
    "quantized_embeddings": "LAMBDA (list_sum over list comprehension)",
    "retrieval_topk_docs": "LAMBDA + SERIES + QUALIFY",
    "semantic_dedup_docs": "LAMBDA + SERIES + QUALIFY",
    "semantic_diversity_by_label": "LAMBDA norm + SERIES + lateral UNNEST",
    "video_frame_scan": (
        "SERIES frame indexing — same probed blocker as "
        "audio_decode_wav (shared range() TVF exists, but the "
        "correlated mixed-reference aggregate does not)"
    ),
    "time_to_convert_stats": (
        "EPOCH_US gap extraction (the only remaining blocker — "
        "QUANTILE_CONT was ported to percentile_cont WITHIN GROUP "
        "in r8; epoch_us/unix_micros have no common spelling and "
        "TIMESTAMPDIFF(MICROSECOND,..) is Spark-only, probed)"
    ),
}

_DUAL_OK: set[str] = set()
_DUAL_ATTEMPTED: set[str] = set()

_ALL_ORACLE_NAMES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    for t in TABLES:
        load_table(spark, SF_SMOKE, t).createOrReplaceTempView(t)
    # Standard-SQL string literals for the dual surface (r9): DuckDB
    # never escape-processes '...' literals, so an oracle regex like
    # '\s*' reaches RE2 as backslash-s. Spark's DEFAULT mode eats the
    # backslash ('\s' -> 's') — the same oracle silently matches the
    # wrong thing (probed: regexp_extract returns '' instead of the
    # group). spark.sql.parser.escapedStringLiterals=true is Spark's
    # own documented switch to standard literal semantics; under it
    # the literal reaches the engine byte-identical to DuckDB, which
    # is precisely the dual-surface contract. Green oracles without
    # backslashes are unaffected by construction.
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    yield
    spark.conf.unset("spark.sql.parser.escapedStringLiterals")


# ids keep the "registry-" prefix they carried while a second
# (staged) tier existed, so recorded test ids stay stable
@pytest.mark.parametrize(
    "name", _ALL_ORACLE_NAMES, ids=[f"registry-{n}" for n in _ALL_ORACLE_NAMES]
)
def test_oracle_sql_runs_on_spark(spark, name):
    from pyspark.errors import AnalysisException, ParseException

    _DUAL_ATTEMPTED.add(name)
    if name in EXCLUDED:
        pytest.skip(EXCLUDED[name])
    qd = REGISTRY[name]
    try:
        sdf = spark.sql(qd.oracle)
        sql_rows = sdf.collect()
    except (ParseException, AnalysisException) as ex:
        # DuckDB-only SYNTAX/resolution — acceptable ONLY with an
        # individual justification above. Any other runtime failure
        # propagates as a real failure instead of masking a Spark-SQL
        # regression behind a skip.
        assert name in DIALECT_SKIPS, (
            f"NEW dialect skip '{name}' ({type(ex).__name__}) — port the "
            "oracle to the common SQL subset or justify it in "
            f"DIALECT_SKIPS: {str(ex).splitlines()[0][:200]}"
        )
        pytest.skip(f"DuckDB-dialect oracle: {DIALECT_SKIPS[name]}")
    assert name not in DIALECT_SKIPS, (
        f"'{name}' now runs on Spark SQL — remove its stale "
        "DIALECT_SKIPS justification"
    )
    df = qd.fn(spark, SF_SMOKE)
    api_rows = df.collect()
    s_cols, a_cols = sorted(sdf.columns), sorted(df.columns)
    assert s_cols == a_cols, (s_cols, a_cols)
    key = lambda rows, cols, order: sorted(  # noqa: E731
        (tuple(_norm(r[order.index(c)]) for c in cols) for r in rows), key=repr
    )
    assert key(sql_rows, s_cols, sdf.columns) == key(api_rows, a_cols, df.columns)
    _DUAL_OK.add(name)


def test_dual_surface_breadth():
    """At least 180 oracles must actually exercise the dual path — a
    regression here means queries silently started skipping (the r12
    port waves raised the floor from 90; the measured surface is 186
    of 221). Guarded against partial collection (-k selection, xdist
    sharding, random ordering placing this before the parametrized
    run): the floor is only enforced when every parametrized case
    actually ran in this process."""
    if _DUAL_ATTEMPTED != set(_ALL_ORACLE_NAMES):
        pytest.skip(
            f"partial selection ({len(_DUAL_ATTEMPTED)}/{len(_ALL_ORACLE_NAMES)} "
            "dual cases ran in this process) — breadth floor needs the full set"
        )
    assert len(_DUAL_OK) >= 180, sorted(_DUAL_OK)

