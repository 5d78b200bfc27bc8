"""session_memo: the one per-application cache of driver-side values,
and the eval-suite broadcast of ``dedup.contamination_report`` that
rides on it (content token, release on supersede, Connect fallback)."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest
from pyspark import Broadcast
from pyspark.errors import PySparkAttributeError
from pyspark.sql import functions as F

from football_etl_spark import session
from football_etl_spark.operators import dedup
from football_etl_spark.session import session_memo

PKG = Path(__file__).resolve().parent.parent / "football_etl_spark"


def _stub_session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_memo_hit_supersede_and_evict(monkeypatch):
    """JVM-free: a hit skips ``build``; a new token rebuilds and hands
    the old value to ``release`` once; a miss under another
    application drops the previous application's entries."""
    monkeypatch.setattr(session, "_memo", SimpleNamespace(app=None, entries={}))
    built: list[int] = []
    released: list[int] = []

    def build(v: int):
        return lambda: built.append(v) or v

    a = _stub_session("app-a")
    assert session_memo(a, ("/sf/", "x"), build(1), token="t1") == 1
    # hit: trailing slash normalised, same token, build not called
    assert session_memo(a, ("/sf", "x"), build(2), token="t1") == 1
    assert built == [1]
    assert session_memo(a, "other", build(7)) == 7

    # token change: rebuilt, old value released exactly once
    assert session_memo(a, ("/sf", "x"), build(3), token="t2", release=released.append) == 3
    assert session_memo(a, ("/sf", "x"), build(4), token="t2", release=released.append) == 3
    assert built == [1, 7, 3] and released == [1]

    # another application: a miss that evicts app-a's entries; the
    # evicted values belong to a dead context and are not released
    b = _stub_session("app-b")
    assert session_memo(b, ("/sf", "x"), build(5), token="t2", release=released.append) == 5
    assert released == [1]
    assert session_memo(a, "other", build(8)) == 8
    assert session_memo(a, ("/sf", "x"), build(6), token="t2") == 6
    assert built == [1, 7, 3, 5, 8, 6]


def test_application_id_read_only_in_session_module():
    """Gate: every per-application cache goes through session_memo, so
    no other module reads the application id itself."""
    hits = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if p != PKG / "session.py" and "applicationId" in p.read_text()
    )
    assert hits == [], hits


# ------------------------------------------------ contamination_report


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _suite(df) -> list[int]:
    """The distinct 5-gram shingle hashes of ``df``, as callers collect
    them for ``eval_hashes``."""
    sh = dedup.shingles_from_tokens(dedup.tokens("text"), 5)
    return [
        r[0]
        for r in df.select(F.explode(F.array_distinct(sh)).alias("s"))
        .select(F.xxhash64("s"))
        .distinct()
        .collect()
    ]


def _hits(df) -> dict[int, int]:
    return {r["doc_id"]: r["n_hits"] for r in df.collect()}


def _train(spark):
    return _docs(
        spark,
        [
            (1, "a b c d e f"),  # shingles: abcde bcdef
            (2, "x y z w q v"),  # shingles: xyzwq yzwqv
            (3, "a b c d e"),  # single shingle abcde
        ],
    )


def test_contamination_eval_suite_keyed_by_content(spark, monkeypatch):
    """Mutating the ``eval_hashes`` list in place between two calls
    must change ``n_hits``: the broadcast is keyed by a digest of the
    suite, not the list's identity, and the superseded broadcast is
    unpersisted. A one-shot generator works as the suite too."""
    train = _train(spark)
    ev = _docs(spark, [(99, "a b c d e")])
    released: list[Broadcast] = []
    unpersist = Broadcast.unpersist
    monkeypatch.setattr(
        Broadcast,
        "unpersist",
        lambda bc, blocking=False: released.append(bc) or unpersist(bc, blocking),
    )

    suite = _suite(ev)
    first = dedup.contamination_report(train, ev, eval_hashes=suite)
    assert _hits(first) == {1: 1, 2: 0, 3: 1}
    bc1 = _memoised_broadcast(spark, suite)
    n_released = len(released)

    suite[:] = _suite(_docs(spark, [(98, "x y z w q")]))
    second = dedup.contamination_report(train, ev, eval_hashes=suite)
    assert _hits(second) == {1: 0, 2: 1, 3: 0}
    # one live broadcast: the first suite's copy was released once
    assert released[n_released:] == [bc1]
    bc2 = _memoised_broadcast(spark, suite)
    assert bc2 is not bc1

    gen = dedup.contamination_report(train, ev, eval_hashes=(h for h in suite))
    assert _hits(gen) == {1: 0, 2: 1, 3: 0}
    # same content: the broadcast is reused, nothing released
    assert released[n_released:] == [bc1]
    assert _memoised_broadcast(spark, suite) is bc2


def _memoised_broadcast(spark, suite: list[int]) -> Broadcast:
    """The memo's eval-suite broadcast, which must hold ``suite``."""
    arr = np.sort(np.asarray(suite, dtype=np.int64))
    digest = hashlib.blake2b(arr.tobytes(), digest_size=16).digest()
    bc = session_memo(
        spark,
        "contamination_eval_broadcast",
        lambda: pytest.fail("no broadcast memoised for this suite"),
        token=digest,
    )
    assert np.array_equal(bc.value, arr)
    return bc


class _NoContextSession:
    """A session proxy whose ``sparkContext`` raises, as under Spark
    Connect; everything else delegates to a classic session."""

    def __init__(self, real):
        self._real = real

    def __getattr__(self, name):
        if name == "sparkContext":
            raise PySparkAttributeError(
                errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                messageParameters={"attr_name": name},
            )
        return getattr(self._real, name)


def test_contamination_closure_fallback_without_spark_context(spark, monkeypatch):
    """Without a sparkContext the suite ships in the UDF closure,
    with a warning, and the counts stay exact — a generator suite
    included (it is consumed once). ``ensure_min_partitions`` runs
    unpatched, on its own Connect fallback."""
    train = _train(spark)
    ev = _docs(spark, [(99, "a b c d e")])
    suite = _suite(ev)
    with monkeypatch.context() as m:
        m.setattr(
            type(train), "sparkSession", property(lambda df: _NoContextSession(df._session))
        )
        with pytest.warns(UserWarning, match="UDF closure"):
            out = dedup.contamination_report(train, ev, eval_hashes=(h for h in suite))
    assert _hits(out) == {1: 1, 2: 0, 3: 1}


def test_grouped_zscore_pins_width_without_spark_context(spark, monkeypatch):
    """The grouped-map width pin holds without a sparkContext: the
    explicit key repartition is in the plan, at the Connect floor
    width, instead of being silently dropped."""
    from football_etl_spark.operators import windows

    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    width = max(
        session.default_parallelism(),
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    with monkeypatch.context() as m:
        m.setattr(
            type(df), "sparkSession", property(lambda d: _NoContextSession(d._session))
        )
        out = windows.grouped_zscore(df, ["k"], "v")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(rf"RepartitionByExpression \[k#\d+L?\], {width}\b", plan), plan
    assert out.count() == 40
