"""CSV/JSON interchange IO round-trips (SURVEY §2.1 rows 1-2, 4-5).

The reference's primary interchange formats
(processors/data_processor.py:119-120 CSV sinks,
scrapers/team_scraper.py:89-150 JSON cache) exercised through the
engine's schema-declared readers/writers: values must survive a full
write→read cycle, column order must be fixed, extras dropped.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from football_etl_spark.io.loader import load_table, read_csv, read_json
from football_etl_spark.io.sinks import write_csv, write_json
from football_etl_spark.schemas import FIXTURES

SF = "/root/testdata/sf0.001"


def _sorted_rows(df, key):
    return sorted((tuple(r) for r in df.collect()), key=lambda t: t[: len(key)])


def test_csv_round_trip_orders(spark):
    """TESTDATA orders through CSV: schema-declared read (no
    inference) reproduces every value including timestamps."""
    from football_etl_spark.schemas import TESTDATA

    orders = load_table(spark, SF, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        write_csv(orders, f"{tmp}/orders_csv")
        back = read_csv(spark, f"{tmp}/orders_csv", "orders")
        # the read-back carries the DECLARED contract (the parquet
        # original stores o_orderdate as TIMESTAMP_NTZ; values agree)
        assert back.schema == TESTDATA["orders"]
        assert _sorted_rows(back, ["o_orderkey"]) == _sorted_rows(orders, ["o_orderkey"])


def test_csv_fixed_column_order_and_extras_dropped(spark):
    """write_csv with a column projection = the reference's
    csv.DictWriter(extrasaction='ignore') fixed-field contract
    (daily_match_scraper.py:548)."""
    df = spark.createDataFrame(
        [(1, "a", "extra"), (2, "b", "extra")], "k int, v string, junk string"
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_csv(df, f"{tmp}/out", columns=("v", "k"))
        header = (
            spark.read.text(f"{tmp}/out").filter(F.col("value").startswith("v,"))
        )
        assert header.count() > 0  # header row is exactly 'v,k'
        back = spark.read.option("header", True).csv(f"{tmp}/out")
        assert back.columns == ["v", "k"]


def test_json_round_trip_events(spark):
    """TESTDATA events through JSON records — mirrors the per-team
    JSON cache (team_scraper.py:89-126); nulls and doubles survive."""
    events = load_table(spark, SF, "events")
    with tempfile.TemporaryDirectory() as tmp:
        write_json(events, f"{tmp}/events_json")
        back = read_json(spark, f"{tmp}/events_json", "events")
        assert back.schema == events.schema
        assert back.count() == events.count()
        a = _sorted_rows(back.drop("ts"), ["event_id"])
        b = _sorted_rows(events.drop("ts"), ["event_id"])
        assert a == b
        # timestamps compare on the epoch to dodge JSON tz rendering
        ta = _sorted_rows(back.select("event_id", F.unix_micros("ts")), ["event_id"])
        tb = _sorted_rows(events.select("event_id", F.unix_micros("ts")), ["event_id"])
        assert ta == tb


def test_csv_round_trip_reference_fixtures_schema(spark):
    """Reference-domain FIXTURES schema through CSV: the committed raw
    fixtures file → write → schema-declared re-read is lossless."""
    raw = read_csv(
        spark, "/root/reference/data/raw/raw_fixtures_20250510_20250524.csv", FIXTURES
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_csv(raw, f"{tmp}/fx")
        back = read_csv(spark, f"{tmp}/fx", FIXTURES)
        assert back.schema == raw.schema
        assert _sorted_rows(back, ["match_id", "date"]) == _sorted_rows(
            raw, ["match_id", "date"]
        )


def test_write_parquet_observed_collects_metrics_in_one_pass(spark, tmp_path):
    import pyspark.sql.functions as F
    from football_etl_spark.io import sinks

    df = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 7.5)], "id long, v double"
    )
    out = str(tmp_path / "observed")
    got = sinks.write_parquet_observed(
        df,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.col("v").isNull().cast("long")),
            "sum_v": F.sum("v"),
        },
    )
    assert got == {"n_rows": 3, "n_null_v": 1, "sum_v": 12.5}
    assert spark.read.parquet(out).count() == 3


def test_load_table_ntz_normalization_is_session_tz_independent(spark, tmp_path):
    """Some driver testdata generations store events.ts as plain µs
    TIMESTAMP_NTZ (no nanos). The loader must map the wall-clock to
    the SAME instant regardless of spark.sql.session.timeZone — the
    driver contract runs a stock session in the machine timezone, and
    a cast('timestamp') there would silently shift ts relative to the
    nanos branch and the DuckDB oracle."""
    import duckdb
    import pyspark.sql.functions as F

    from football_etl_spark.io.loader import load_table

    d = str(tmp_path)
    duckdb.sql(
        "COPY (SELECT 1::BIGINT AS event_id, "
        "TIMESTAMP '2024-03-01 12:34:56.789' AS ts) "
        f"TO '{d}/events.parquet'"
    )
    expect = duckdb.sql(
        "SELECT EPOCH_US(TIMESTAMP '2024-03-01 12:34:56.789')"
    ).fetchone()[0]
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = (
                load_table(spark, d, "events")
                .select(F.unix_micros("ts").alias("us"))
                .collect()[0]["us"]
            )
            assert got == expect, f"ts shifted under session tz {tz}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_ship_package_zips_sources_and_is_idempotent(spark):
    """ship_package must (1) produce a zip whose member paths start
    with the package name (so the archive lands importable on worker
    sys.path), (2) include the Python DataSource module that pickles
    by reference, and (3) be a cheap no-op on repeat calls for the
    same session (memoised per application)."""
    import os
    import tempfile
    import zipfile

    from football_etl_spark.session import session_memo, ship_package

    ship_package(spark)
    zp = os.path.join(tempfile.gettempdir(), f"fes_pkg_{os.getpid()}.zip")
    assert os.path.exists(zp)
    with zipfile.ZipFile(zp) as z:
        names = z.namelist()
    assert all(n.startswith("football_etl_spark/") for n in names)
    assert "football_etl_spark/io/dump_source.py" in names
    assert "football_etl_spark/session.py" in names
    assert session_memo(spark, "ship_package", lambda: pytest.fail("no memo entry")) is True
    mtime = os.path.getmtime(zp)
    ship_package(spark)  # cached — must not rebuild the archive
    assert os.path.getmtime(zp) == mtime


def test_zordered_layout_prunes_on_every_dimension(spark, tmp_path):
    """write_zordered: parquet footer min/max must stay tight on BOTH
    participating columns, so a selective filter on EITHER dimension
    skips most files — whereas the 1-D range-sorted layout prunes only
    its lead column. Measured directly from the file footers (the same
    stats the scan's file pruning reads), plus a lossless round trip."""
    import pyarrow.parquet as pq

    from football_etl_spark.io import sinks

    n = 40000
    df = spark.range(n).selectExpr(
        "id",
        "CAST((id * 2654435761) % 1024 AS LONG) AS x",
        "CAST((id * 40503) % 1024 AS LONG) AS y",
    )
    zdir, ldir = str(tmp_path / "zord"), str(tmp_path / "linear")
    sinks.write_zordered(df, zdir, cols=("x", "y"), bits=10, n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(ldir)

    def files_admitting(path, col, lo, hi):
        import os

        total, admit = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.read_metadata(os.path.join(path, f))
            schema_idx = md.schema.to_arrow_schema().get_field_index(col)
            mn = min(md.row_group(i).column(schema_idx).statistics.min for i in range(md.num_row_groups))
            mx = max(md.row_group(i).column(schema_idx).statistics.max for i in range(md.num_row_groups))
            if mx >= lo and mn <= hi:
                admit += 1
        return admit, total

    zx, zt = files_admitting(zdir, "x", 0, 63)
    zy, _ = files_admitting(zdir, "y", 0, 63)
    lx, lt = files_admitting(ldir, "x", 0, 63)
    ly, _ = files_admitting(ldir, "y", 0, 63)
    assert zt >= 8 and lt >= 8
    # z-layout: a 1/16-of-space slab on EITHER axis prunes most files
    assert zx <= zt // 2, (zx, zt)
    assert zy <= zt // 2, (zy, zt)
    # 1-D layout: great on the lead column, mostly blind on the other
    assert lx <= 2, (lx, lt)
    assert ly >= (3 * lt) // 4, (ly, lt)
    assert zy < ly, (zy, ly)
    # lossless round trip
    back = spark.read.parquet(zdir)
    assert back.count() == n
    assert back.selectExpr("sum(x)", "sum(y)").collect() == df.selectExpr(
        "sum(x)", "sum(y)"
    ).collect()


def test_compact_parquet_merges_small_files_losslessly(spark, tmp_path):
    """compact_parquet: a 64-file micro-batch layout collapses to the
    byte-budgeted file count, content identical, original swapped out
    atomically (no temp dirs left behind)."""
    import os

    from football_etl_spark.io import sinks

    d = str(tmp_path / "accreted")
    df = spark.range(20000).selectExpr("id", "id % 97 AS k")
    df.repartition(64).write.parquet(d)
    before = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(before) == 64
    total = sum(os.path.getsize(os.path.join(d, f)) for f in before)
    n = sinks.compact_parquet(spark, d, target_file_bytes=total // 2 + 1)
    after = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert n == 2 and len(after) == 2
    assert not [p for p in os.listdir(tmp_path) if ".compact." in p or ".precompact." in p]
    back = spark.read.parquet(d)
    assert back.count() == 20000
    assert back.selectExpr("sum(id)", "sum(k)").collect() == df.selectExpr(
        "sum(id)", "sum(k)"
    ).collect()


def test_compact_parquet_preserves_partitioned_layout(spark, tmp_path):
    """Compacting a bronze-style batch_id-partitioned layout with
    partition_by keeps the directory structure (readers still get
    partition pruning) while merging the files inside."""
    import os

    from football_etl_spark.io import sinks

    d = str(tmp_path / "bronze")
    df = spark.range(6000).selectExpr("id", "CAST(id % 3 AS INT) AS batch_id")
    df.repartition(30).write.partitionBy("batch_id").parquet(d)
    n = sinks.compact_parquet(
        spark, d, target_file_bytes=1 << 40, partition_by=("batch_id",)
    )
    assert n == 3  # returns the ACTUAL count: one file per partition value
    dirs = sorted(x for x in os.listdir(d) if x.startswith("batch_id="))
    assert dirs == ["batch_id=0", "batch_id=1", "batch_id=2"]
    back = spark.read.parquet(d)
    assert back.count() == 6000
    pruned = back.filter("batch_id = 1")
    files = {r[0] for r in pruned.selectExpr("input_file_name()").distinct().collect()}
    assert all("batch_id=1" in f for f in files)


def test_streaming_dump_source_offset_contract(tmp_path):
    """The streaming reader's offset algebra, no Spark needed: read()
    consumes from the start offset to the directory end and returns
    the next start; readBetweenOffsets() replays a committed range
    deterministically (the exactly-once restart contract); a file
    appended after a read is picked up by the next one."""
    from football_etl_spark.io.dump_source import make_streaming_dump_source

    cls = make_streaming_dump_source()
    d = tmp_path / "dumps"
    d.mkdir()
    for day in ("2025-05-21", "2025-05-22"):
        (d / f"api_response_{day}.txt").write_text(f"payload {day}")
    r = cls(options={"path": str(d)}).simpleStreamReader("")
    assert r.initialOffset() == {"i": 0}
    rows, nxt = r.read({"i": 0})
    rows = list(rows)
    assert [x[0] for x in rows] == ["2025-05-21", "2025-05-22"]
    assert nxt == {"i": 2}
    # append a new daily dump -> next read picks up only the tail
    (d / "api_response_2025-05-23.txt").write_text("payload 3")
    rows2, nxt2 = r.read(nxt)
    assert [x[0] for x in list(rows2)] == ["2025-05-23"]
    assert nxt2 == {"i": 3}
    # committed-range replay is deterministic and range-exact
    replay = list(r.readBetweenOffsets({"i": 1}, {"i": 2}))
    assert replay == [("2025-05-22", "payload 2025-05-22")]
    r.commit(nxt2)  # no-op, must not raise
