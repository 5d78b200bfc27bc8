#!/usr/bin/env python
"""Physical-plan audit over the whole query registry.

For every registry entry, compile the plan at $SPARK_GRAFT_SF_DIR
(default sf0.001 — plan SHAPE is what matters, not data volume) and
tabulate the properties the 100 TB design contract cares about:

- hash-shuffle exchanges (each is a full repartition of its input)
- broadcast vs sort-merge joins (a dim join must never shuffle the
  fact side)
- cartesian products (must be zero)
- Python stages (Arrow-vectorized or grouped-map — the sanctioned
  escape hatches; row-at-a-time PythonUDF must be zero)
- whether any parquet scan carries pushed filters / partition filters

Writes PLAN_AUDIT.md (markdown table + totals). The suite in
tests/test_plans.py asserts the load-bearing subset of these
properties per query; this tool makes the whole registry legible at
once.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from football_etl_spark.plans.queries import REGISTRY  # noqa: E402
from football_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# --- duplicated-subtree linter (r13, VERDICT r12 ask #3) -----------------
# The r12 wins (gopher filter inlining, Generate 4x-split, simhash
# 56-way hash copy, decontamination double chain) were all the same
# smell: a NON-CHEAP expression subtree evaluated more than once in a
# query's physical plan. This linter automates the hunt: extract every
# expensive-call subexpression from the formatted plan, normalize
# expression ids, and flag identical subtrees appearing >= 2x.
#
# CALIBRATION (r13 sweep, every >=4x hit A/B'd — OPTIMIZATION_r13.md):
# a subtree PRINTED n times is usually NOT evaluated n times. Codegen
# subexpression elimination already covers duplicates that sit within
# one Project (even HOFs whose lambda-ids differ — they canonicalize),
# in partial/final aggregate pairs, under count_distinct Expand, and
# across coalesce/CASE arms — materializing those measured flat or
# SLOWER. The REAL duplicate-evaluation classes to act on are:
#   1. expressions inlined into a Generate's ARGUMENT (interpreted
#      eval, no CSE) — the minhash/ngram r12 class;
#   2. filter pushdown re-inlining an aliased chain into every
#      conjunct — the gopher r12 class (fix: observe() pin);
#   3. the same chain evaluated in two DIFFERENT operators (e.g.
#      Python-UDF input + re-derived projection) — the
#      decontamination r12 class.
# Triage a hit by WHERE it sits before writing any fix, and A/B the
# fix before keeping it.

EXPENSIVE_FNS = (
    "split",
    "regexp_replace",
    "regexp_extract",
    "regexp_extract_all",
    "regexp_count",
    "rlike",
    "md5",
    "sha2",
    "xxhash64",
    "conv",
    "from_json",
    "to_json",
    "get_json_object",
    "levenshtein",
    "transform",
    "aggregate",
    "filter",
    "zip_with",
    "sequence",
    "translate",
)
_CALL_RE = re.compile(r"\b(" + "|".join(EXPENSIVE_FNS) + r")\(")


def _balanced(s: str, start: int) -> str | None:
    """Extract s[start:] up to the paren that closes the one at
    s.find('(', start); None when the line truncates first."""
    i = s.find("(", start)
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
            if depth == 0:
                return s[start : j + 1]
    return None


def dup_subtrees(formatted: str, min_len: int = 12) -> dict[str, int]:
    """Identical expensive subexpressions (expr-ids normalized) that
    appear >= 2x in the formatted physical plan. Whole-line dedup
    first: `explain formatted` repeats each operator once in the tree
    header and once in the numbered detail block, which is rendering,
    not re-evaluation. Partial/final HashAggregate pairs DO both list
    the aggregate expression while only the partial evaluates the
    input — callers should read hits >= 2 as 'audit me', not 'bug'."""
    seen_lines: set[str] = set()
    counts: dict[str, int] = {}
    for raw in formatted.splitlines():
        line = raw.strip()
        norm_line = re.sub(r"#\d+L?", "#", line)
        if norm_line in seen_lines:
            continue
        seen_lines.add(norm_line)
        for m in _CALL_RE.finditer(line):
            sub = _balanced(line, m.start())
            if sub is None or len(sub) < min_len:
                continue
            key = re.sub(r"#\d+L?", "#", sub)
            counts[key] = counts.get(key, 0) + 1
    return {k: v for k, v in counts.items() if v >= 2}


def plan_of(df) -> tuple[str, str]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    simple = buf.getvalue().split("== Initial Plan ==")[0]
    return simple, formatted


def iter_entry_plans(spark):
    """(name, simple, formatted) for every registry entry — the one
    compile loop both audit modes share."""
    for name in sorted(REGISTRY):
        df = REGISTRY[name].fn(spark, SF_DIR)
        simple, formatted = plan_of(df)
        yield name, simple, formatted


def main_dups() -> None:
    """--dups mode: sweep every entry for duplicated expensive
    subtrees; write PLAN_DUPS.md sorted by (max dup count, name)."""
    spark = get_spark(app_name="plan-dups", shuffle_partitions=8)
    report: list[tuple[str, dict[str, int]]] = []
    for name, _, formatted in iter_entry_plans(spark):
        dups = dup_subtrees(formatted)
        if dups:
            report.append((name, dups))
    report.sort(key=lambda r: (-max(r[1].values()), r[0]))
    out = [
        "# PLAN_DUPS — duplicated expensive subtrees per registry entry",
        "",
        f"Compiled at `{SF_DIR}`. A hit = an identical expensive-call",
        "subexpression (expr ids normalized) appearing >= 2x in the",
        "formatted physical plan — the gopher/minhash/simhash r12 smell.",
        "Hits are 'audit me', not automatically bugs: partial/final agg",
        "pairs both PRINT the aggregate input while only the partial",
        "evaluates it.",
        "",
    ]
    for name, dups in report:
        out.append(f"## {name}")
        for expr, n in sorted(dups.items(), key=lambda kv: -kv[1]):
            shown = expr if len(expr) <= 200 else expr[:197] + "..."
            out.append(f"- {n}x `{shown}`")
        out.append("")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_DUPS.md"
    )
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLAN_DUPS.md ({len(report)} entries with >=2x subtrees)")


def main() -> None:
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    rows = []
    for name, simple, formatted in iter_entry_plans(spark):
        shuffles = simple.count("Exchange hashpartitioning")
        bhj = simple.count("BroadcastHashJoin")
        smj = simple.count("SortMergeJoin")
        cart = simple.count("CartesianProduct")
        bnl = simple.count("BroadcastNestedLoopJoin")
        arrow = simple.count("ArrowEvalPython")
        grouped = (
            simple.count("FlatMapGroupsInPandas")
            + simple.count("MapInPandas")
            # r12: grouped_zscore moved to the Arrow-native grouped map
            + simple.count("FlatMapGroupsInArrow")
            + simple.count("MapInArrow")
        )
        rowudf = len(re.findall(r"BatchEvalPython", simple))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", formatted) else ""
        partf = "yes" if re.search(r"PartitionFilters: \[[^\]]", formatted) else ""
        rows.append(
            (name, shuffles, bhj, smj, cart + bnl, arrow, grouped, rowudf, pushed, partf)
        )

    out = [
        "# PLAN_AUDIT — physical-plan properties of every registry entry",
        "",
        f"Compiled at `{SF_DIR}` (plan shape, not data volume). Columns:",
        "hash-shuffle exchange count; broadcast-hash vs sort-merge join",
        "counts; cartesian/nested-loop joins (sanctioned only for the",
        "explicitly broadcast bounded ANN query side); Arrow-vectorized",
        "and grouped-map (applyInPandas/applyInArrow/mapInPandas/mapInArrow)",
        "Python stages; row-at-a-time Python",
        "UDFs (must be 0 everywhere); scan pushdown flags.",
        "",
        "Sanctioned SMJs: the connected-components label joins",
        "(near_dup/minhash/canonical clusters — both sides pair-scale),",
        "the full-outer reconciliation (full outer cannot build a",
        "broadcast hash side), and incremental_corpus_dedup's verdict",
        "left-join (both sides increment-sized — co-shuffling them on",
        "new_id is the correct plan at any increment size). Sanctioned",
        "cart/BNLJ: the explicitly broadcast bounded sides listed in",
        "test_plans.py, plus 1-row scalar broadcasts (doc-count /",
        "threshold / totals patterns).",
        "",
        "| query | shuffles | BHJ | SMJ | cart/BNLJ | arrow | grouped-map | row-udf | pushed | part-pruned |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(str(x) for x in r) + " |")
    t = lambda i: sum(r[i] for r in rows)  # noqa: E731
    out += [
        "",
        f"**Totals over {len(rows)} entries:** {t(1)} hash shuffles, "
        f"{t(2)} broadcast-hash joins, {t(3)} sort-merge joins, "
        f"{t(4)} cartesian/nested-loop joins, {t(5)} Arrow stages, "
        f"{t(6)} grouped-map stages (pandas or Arrow), {t(7)} row-at-a-time "
        f"Python UDFs.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLAN_AUDIT.md ({len(rows)} entries)")


if __name__ == "__main__":
    if "--dups" in sys.argv:
        main_dups()
    else:
        main()
