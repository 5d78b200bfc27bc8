"""Broadcast-hint convention auditor — the 100 TB hint contract.

Convention (established by the r7 hint audit and the r8
ratio_to_parent fix, applied repo-wide in r9): a forced
``F.broadcast()`` hint is only legal on a relation whose cardinality
is BOUNDED — independent of the data scale factor. Fixed-cardinality
dimensions (nation=25, region=5), global (ungrouped) aggregates
(≤1 row by construction), limited subtrees, and literal in-memory
relations qualify. An SF-proportional relation (customer, orders,
lineitem, part, supplier, events, documents, embeddings, or anything
derived from them without a bounding operation) must NOT carry a
hint: at bench SF the planner/AQE picks the identical broadcast join
from size stats alone, and at 100 TB a forced broadcast of a
terabyte-scale side OOMs every executor, while the unhinted plan
degrades gracefully to a shuffle join.

``audit_hints`` walks a DataFrame's ANALYZED logical plan (so it sees
``ResolvedHint`` nodes before the optimizer folds them into join
strategies), and for every BROADCAST-strategy hint (scale-safe
``shuffle_hash``/``merge`` hints are exempt — forcing a shuffle join
is the convention's preferred degradation) decides:

- subtree scans no SF-scaled parquet table            -> OK (bounded
  dims, literal relations, range sources);
- the subtree ROOT structurally bounds its own
  cardinality (ungrouped Aggregate, Limit, or a
  bound that provably propagates root-ward through
  row-preserving operators and joins — see
  ``_is_bounded``; a bounding node buried under a
  crossJoin does NOT count)                           -> OK;
- otherwise                                           -> VIOLATION
  unless the (query, tables) site is explicitly allowlisted with a
  written justification for why its cardinality is bounded by
  something the plan walker cannot see (a bounded grouping domain,
  a vocabulary-sized key set, an argmax filter).

The allowlist lives with the pytest (tests/test_hint_convention.py)
so every exception is reviewed where the gate is enforced.
"""

from __future__ import annotations

from py4j.protocol import Py4JError

# Parquet tables whose row count grows with the scale factor. nation
# and region are fixed-cardinality by the data model and deliberately
# absent.
SF_SCALED_TABLES = frozenset(
    {
        "customer",
        "orders",
        "lineitem",
        "part",
        "supplier",
        "partsupp",
        "events",
        "documents",
        "embeddings",
    }
)


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _node_name(node) -> str:
    return node.getClass().getSimpleName()


def _relation_tables(node) -> set[str]:
    """Names of parquet tables scanned anywhere under ``node``."""
    tables: set[str] = set()
    for m in _walk(node):
        if _node_name(m) != "LogicalRelation":
            continue
        try:
            paths = m.relation().location().rootPaths()
        except Py4JError:  # non-file relation (in-memory, stream)
            continue
        for i in range(paths.size()):
            leaf = paths.apply(i).getName()
            tables.add(leaf.removesuffix(".parquet"))
    return tables


# Hint names that force a broadcast strategy (UnresolvedHint spelling
# variants); scale-safe strategies (shuffle_hash, merge,
# shuffle_replicate_nl) are NOT audited — forcing a shuffle join on an
# SF-proportional relation is exactly what the convention wants.
_BROADCAST_HINT_NAMES = frozenset({"broadcast", "broadcastjoin", "mapjoin"})


def _is_broadcast_hint(node) -> bool:
    """True only for hints that force the BROADCAST join strategy.
    A ResolvedHint carries HintInfo.strategy(); every JoinStrategyHint
    stringifies to its displayName ('broadcast', 'shuffle_hash',
    'merge', 'shuffle_replicate_nl'). Unknown/unreadable strategies
    audit conservatively (True)."""
    if _node_name(node) == "UnresolvedHint":
        try:
            return node.name().lower() in _BROADCAST_HINT_NAMES
        except Py4JError:
            return True
    try:
        strat = node.hints().strategy()
        if strat.isEmpty():
            return False
        return "broadcast" in strat.get().toString().lower()
    except Py4JError:
        return True


# Unary nodes that never increase their child's row count, so the
# subtree's cardinality bound passes straight through them.
_ROW_BOUND_PRESERVING = frozenset(
    {
        "Project",
        "Filter",
        "Sort",
        "Distinct",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Sample",
        "SubqueryAlias",
        "ResolvedHint",
        "UnresolvedHint",
        "Window",
        "WithWatermark",
        # Expand multiplies rows by a literal projection count
        # (grouping sets) — a constant factor keeps a bound a bound.
        "Expand",
    }
)


def _is_bounded(node) -> bool:
    """True when the subtree provably bounds its own cardinality AT THE
    ROOT — structurally, not by scanning for a bounding node anywhere
    inside (an ungrouped Aggregate buried under a crossJoin bounds
    nothing about the join's output). Rules:

    - ungrouped Aggregate           -> 1 row; grouped Aggregate is
      bounded iff its input is (|groups| <= |input rows|);
    - GlobalLimit/Limit             -> literal bound;
    - leaf relations                -> bounded unless the relation IS
      an SF-scaled parquet scan (LocalRelation / OneRowRelation /
      literal Range are driver-sized by construction);
    - Join                          -> semi/anti bounded iff the left
      is; every other join type (incl. cross) bounded only if ALL
      inputs are — a 1:n join can exceed either side alone;
    - row-preserving unaries        -> bounded iff the child is;
    - Union                         -> bounded iff all children are;
    - anything else (Generate, ...) -> conservatively unbounded.
    """
    name = _node_name(node)
    if name == "Aggregate":
        if node.groupingExpressions().size() == 0:
            return True
        return _is_bounded(node.children().apply(0))
    if name in ("GlobalLimit", "LocalLimit", "Limit"):
        return True
    if name == "LogicalRelation":
        return not (_relation_tables(node) & SF_SCALED_TABLES)
    if name in ("LocalRelation", "OneRowRelation", "Range"):
        return True
    children = node.children()
    if name == "Join":
        try:
            jt = node.joinType().toString().lower().replace("_", "")
        except Py4JError:
            jt = ""
        left_bounded = _is_bounded(children.apply(0))
        if jt in ("leftsemi", "leftanti"):
            return left_bounded
        return left_bounded and _is_bounded(children.apply(1))
    if name == "Union":
        return all(
            _is_bounded(children.apply(i)) for i in range(children.size())
        )
    if name in _ROW_BOUND_PRESERVING and children.size() == 1:
        return _is_bounded(children.apply(0))
    return False


def audit_hints(df) -> list[dict]:
    """Audit every broadcast ResolvedHint in ``df``'s analyzed plan.

    Returns one record per hint:
    ``{"tables": frozenset, "sf_tables": frozenset, "bounded": bool}``
    A record is a convention violation when ``sf_tables`` is non-empty
    and ``bounded`` is False (subject to the caller's allowlist).
    """
    analyzed = df._jdf.queryExecution().analyzed()
    records = []
    for node in _walk(analyzed):
        if _node_name(node) not in ("ResolvedHint", "UnresolvedHint"):
            continue
        if not _is_broadcast_hint(node):
            continue
        child = node.children().apply(0)
        tables = _relation_tables(child)
        records.append(
            {
                "tables": frozenset(tables),
                "sf_tables": frozenset(tables & SF_SCALED_TABLES),
                "bounded": _is_bounded(child),
            }
        )
    return records


def violations(df, allow: frozenset = frozenset()) -> list[dict]:
    """Hint records that break the convention and are not allowlisted.

    ``allow`` holds frozensets of table names: a hint whose sf_tables
    exactly matches an entry is sanctioned (the pytest carries the
    written justification next to each entry).
    """
    return [
        r
        for r in audit_hints(df)
        if r["sf_tables"] and not r["bounded"] and r["sf_tables"] not in allow
    ]
