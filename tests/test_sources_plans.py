"""Tests for sources (FileInput/FileOutput/Table/RepeatingBlock), plan
composition, Spy instrumentation, lookup join, and streaming ops."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from supersonic_spark.operators import core, join as join_ops
from supersonic_spark.operators.aggregate import AggSpec, Aggregation, group_aggregate
from supersonic_spark.plans import Pipeline, spy
from supersonic_spark.plans.instrument import benchmark_operation
from supersonic_spark.sources import Table, file_input, file_output
from supersonic_spark.sources.repeating import repeating_block

from tests.conftest import rows


def test_file_roundtrip_parquet(spark, tmp_path):
    df = core.scan_view(spark, [(1, "a"), (2, "b")], "k int, v string")
    path = str(tmp_path / "t.parquet")
    file_output(df, path, partition_by=["k"])
    back = file_input(spark, path)
    assert rows(back, "v") == [("a",), ("b",)]


def test_file_csv_requires_schema(spark, tmp_path):
    df = core.scan_view(spark, [(1, "a")], "k int, v string")
    path = str(tmp_path / "t.csv")
    file_output(df, path, format="csv", header=True)
    with pytest.raises(ValueError, match="explicit schema"):
        file_input(spark, path, format="csv")
    back = file_input(spark, path, format="csv", schema="k int, v string", header=True)
    assert rows(back) == [(1, "a")]


def test_table_append_and_row_writer(spark):
    t = Table(spark, "k int, v string")
    t.add_row(1, "a").add_row(2, "b")
    t.append_view(core.scan_view(spark, [(3, "c")], "k int, v string"))
    t.add_row(4, "d")
    assert rows(t.to_df()) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert t.row_count() == 4
    t.clear()
    assert t.to_df().count() == 0


def test_repeating_block(spark):
    block = core.scan_view(spark, [(1,), (2,)], "x int")
    out = repeating_block(block, 5)
    assert out.count() == 10
    out2 = repeating_block(block, 3, copy_col="copy")
    assert rows(out2.groupBy("copy").count(), "count") == [(2,), (2,), (2,)]


def test_pipeline_composition(spark):
    p = (
        Pipeline()
        .then(lambda df: core.filter_op(df, F.col("id") % 2 == 0))
        .then(lambda df: core.compute(df, {"sq": F.col("id") * F.col("id")}))
    )
    out = p(spark.range(10))
    assert rows(out) == [(0,), (4,), (16,), (36,), (64,)]


def test_spy_observe(spark):
    df = spark.range(100)
    wired, obs = spy(df)
    wired.write.format("noop").mode("overwrite").save()
    assert obs.get["rows_processed"] == 100


def test_benchmark_operation(spark):
    run = benchmark_operation("range", spark.range(1000))
    assert run.rows == 1000 and run.wall_sec > 0 and run.rows_per_sec > 0


def test_lookup_join(spark):
    probe = core.scan_view(spark, [("b",), ("a",), ("b",)], "k string")
    index = core.scan_view(spark, [("a", 1), ("b", 2)], "k string, payload int")
    out = join_ops.lookup_join(probe, index, on="k", query_id_order=["k"])
    got = rows(out, "query_id", "k", "payload")
    # probe row ids under order [k]: a→0, b→1, b→2
    assert got == [(0, "a", 1), (1, "b", 2), (2, "b", 2)]


# --- streaming ---

def test_streaming_windowed_aggregate_and_filter(spark, tmp_path):
    import datetime as dtm

    from supersonic_spark.streaming import read_stream, windowed_aggregate

    src = str(tmp_path / "stream_src")
    data = [
        (dtm.datetime(2024, 1, 1, 0, 0, 30), "a", 1.0),
        (dtm.datetime(2024, 1, 1, 0, 0, 45), "a", 2.0),
        (dtm.datetime(2024, 1, 1, 0, 1, 10), "b", 5.0),
    ]
    core.scan_view(spark, data, "ts timestamp, k string, v double").write.parquet(src)

    stream = read_stream(spark, src, "ts timestamp, k string, v double")
    assert stream.isStreaming
    # stateless operators compose unchanged on streams
    stream = core.filter_op(stream, F.col("v") > 0)
    agged = windowed_aggregate(
        stream,
        "ts",
        "1 minute",
        [AggSpec(Aggregation.SUM, "v", "s"), AggSpec(Aggregation.COUNT, None, "c")],
        keys=["k"],
    )
    q = (
        agged.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["window"].start.minute): (r["s"], r["c"])
        for r in spark.sql("select * from win_agg").collect()
    }
    assert got == {("a", 0): (3.0, 2), ("b", 1): (5.0, 1)}


def test_streaming_dedup(spark, tmp_path):
    import datetime as dtm

    from supersonic_spark.streaming import read_stream, stream_dedup

    src = str(tmp_path / "dedup_src")
    t0 = dtm.datetime(2024, 1, 1)
    data = [(t0, "x"), (t0, "x"), (t0, "y")]
    core.scan_view(spark, data, "ts timestamp, k string").write.parquet(src)
    stream = read_stream(spark, src, "ts timestamp, k string")
    deduped = stream_dedup(stream, ["k"], ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["k"] for r in spark.sql("select * from dedup_out").collect())
    assert got == ["x", "y"]


def test_stream_running_sum(spark, tmp_path):
    from supersonic_spark.streaming import stream_running_sum

    src = str(tmp_path / "rsum_src")
    core.scan_view(
        spark, [("u1", 1.0), ("u1", 2.0), ("u2", 10.0)], "k string, v double"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("k string, v double").parquet(src)
    )
    out = stream_running_sum(stream, "k", "v")
    q = (
        out.writeStream.format("memory")
        .queryName("rsum_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["key"]: r["running_sum"] for r in spark.sql("select * from rsum_out").collect()}
    assert got == {"u1": 3.0, "u2": 10.0}


def test_sessionize_batch(spark):
    from supersonic_spark.operators.aggregate import AggSpec, Aggregation
    from supersonic_spark.streaming.ops import sessionize

    rows = [
        ("u1", "2024-01-01 00:00:00", 1.0),
        ("u1", "2024-01-01 00:03:00", 2.0),   # within 5m gap → same session
        ("u1", "2024-01-01 01:00:00", 4.0),   # new session
        ("u2", "2024-01-01 00:00:00", 8.0),
    ]
    df = spark.createDataFrame(rows, "user string, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = sessionize(
        df, "ts", "5 minutes",
        [AggSpec(Aggregation.SUM, "v", "total"), AggSpec(Aggregation.COUNT, "v", "n")],
        keys=["user"],
    )
    got = {(r["user"], r["total"], r["n"]) for r in out.collect()}
    assert got == {("u1", 3.0, 2), ("u1", 4.0, 1), ("u2", 8.0, 1)}


def test_resize_and_audio_kernels(spark):
    from supersonic_spark.pipeline import multimodal

    df = spark.createDataFrame(
        [(1, bytes([1, 255, 3, 250] * 8)), (2, b"")], "id long, blob binary"
    )
    resized = multimodal.resize_image(df, "blob", 8, 4, fake=True)
    rows = {r["id"]: r["resized"] for r in resized.collect()}
    assert rows[1]["width"] == 8 and len(rows[1]["data"]) == 32
    # deterministic: same blob → same bytes
    again = {r["id"]: r["resized"] for r in multimodal.resize_image(
        df, "blob", 8, 4, fake=True).collect()}
    assert again[1]["data"] == rows[1]["data"]

    audio = multimodal.audio_features(df, "blob", fake=True)
    feats = {r["id"]: r["audio_features"] for r in audio.collect()}
    assert feats[1]["ok"] and feats[1]["n_bytes"] == 32 and feats[1]["zero_crossings"] > 0
    assert not feats[2]["ok"] and feats[2]["n_bytes"] == 0

    # real path: undecodable bytes → NULL struct, not a stage-killing error
    real = {r["id"]: r["resized"] for r in multimodal.resize_image(
        df, "blob", 8, 4, fake=False).collect()}
    assert real[1] is None and real[2] is None


def test_streaming_gate_trips_on_collapse():
    """INTENTIONAL-REGRESSION test of the bench streaming gate itself: the
    pure predicate must flag an operator whose rows/sec collapsed below its
    floor (and one that stopped reporting entirely), and stay silent on a
    healthy measurement — so a gate that silently stopped gating is itself
    caught here."""
    from supersonic_spark.streaming.gate import (
        STREAM_FLOORS,
        check_streaming_gate,
    )

    healthy = {k: v * 2.0 for k, v in STREAM_FLOORS.items()}
    assert check_streaming_gate(healthy) == []

    # a 100x collapse on one operator (the per-row-Python-lane failure
    # mode the gate exists for) must produce exactly one loud violation
    collapsed = dict(healthy, sliding_agg=STREAM_FLOORS["sliding_agg"] / 100)
    viol = check_streaming_gate(collapsed)
    assert len(viol) == 1 and "sliding_agg" in viol[0] and "collapse" in viol[0]

    # an operator that produced NO number is the loudest collapse of all
    missing = {k: v for k, v in healthy.items() if k != "running_sum"}
    viol = check_streaming_gate(missing)
    assert len(viol) == 1 and "running_sum" in viol[0]

    # floors are overridable (bench arms the gate only at the calibrated
    # sf0.1 config; other configs can pass their own floors)
    assert check_streaming_gate({"x": 5.0}, floors={"x": 10.0}) != []
    assert check_streaming_gate({"x": 50.0}, floors={"x": 10.0}) == []


def test_streaming_gate_measurement_smoke(spark, tmp_path):
    """measure_streaming_throughput drains the three stateful operators on
    a real (tiny) events table and returns a positive rows/sec for each —
    the live half of the gate; the thresholds themselves are exercised by
    test_streaming_gate_trips_on_collapse (floors are sf0.1-calibrated and
    meaningless at sf0.001, so the gate stays unarmed here)."""
    from supersonic_spark.streaming.gate import measure_streaming_throughput

    got = measure_streaming_throughput(
        spark, "/root/testdata/sf0.001", src_root=str(tmp_path)
    )
    assert set(got) == {"sliding_agg", "stream_dedup", "running_sum"}
    assert all(v > 0 for v in got.values())


def test_stream_changed_and_smudge(spark, tmp_path):
    import datetime as dtm

    from supersonic_spark.streaming.ops import stream_changed, stream_smudge

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        ("u1", t0, "a", 1.0),
        ("u1", t0 + dtm.timedelta(seconds=1), "a", None),
        ("u1", t0 + dtm.timedelta(seconds=2), "b", None),
        ("u1", t0 + dtm.timedelta(seconds=3), "b", 7.0),
        ("u2", t0, "z", None),
    ]
    src = str(tmp_path / "chg_src")
    core.scan_view(
        spark, rows, "k string, ts timestamp, s string, v double"
    ).write.parquet(src)
    stream = spark.readStream.schema("k string, ts timestamp, s string, v double").parquet(src)

    chg = stream_changed(stream, "k", "s", "ts")
    q = (chg.writeStream.format("memory").queryName("chg_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["key"], r[ "ts"].second): r["changed"]
           for r in spark.sql("select * from chg_out").collect()}
    assert got == {("u1", 0): True, ("u1", 1): False, ("u1", 2): True,
                   ("u1", 3): False, ("u2", 0): True}

    sm = stream_smudge(stream, "k", "v", "ts")
    q2 = (sm.writeStream.format("memory").queryName("sm_out")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    filled = {(r["key"], r["ts"].second): r["filled"]
              for r in spark.sql("select * from sm_out").collect()}
    assert filled == {("u1", 0): 1.0, ("u1", 1): 1.0, ("u1", 2): 1.0,
                      ("u1", 3): 7.0, ("u2", 0): None}


def test_stream_smudge_if_and_running_min_flush(spark, tmp_path):
    """The two remaining stateful streams match their batch window
    equivalents row for row (metamorphic: stream-drain == batch window)."""
    import datetime as dtm

    from supersonic_spark.functions import stateful
    from supersonic_spark.streaming.ops import (
        stream_running_min_with_flush,
        stream_smudge_if,
    )

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        # k, ts, v, cond (inherit when true), flush
        ("u1", t0, 5.0, False, False),
        ("u1", t0 + dtm.timedelta(seconds=1), 9.0, True, True),   # inherits 5.0; flush
        ("u1", t0 + dtm.timedelta(seconds=2), 7.0, False, False),  # anchor 7; min restarts
        ("u1", t0 + dtm.timedelta(seconds=3), None, False, False),  # NULL anchor inherits 7
        ("u1", t0 + dtm.timedelta(seconds=4), 6.0, True, False),   # inherits 7
        ("u2", t0, 3.0, True, False),                              # no anchor yet → NULL
    ]
    schema = "k string, ts timestamp, v double, cond boolean, flush boolean"
    df = core.scan_view(spark, rows, schema)
    batch = df.select(
        "k", "ts",
        stateful.smudge_if("v", "cond", order=["ts"], partition=["k"]).alias("filled"),
        stateful.running_min_with_flush(
            "v", "flush", order=["ts"], partition=["k"]
        ).alias("running_min"),
    )
    expect_fill = {(r["k"], r["ts"]): r["filled"] for r in batch.collect()}
    expect_min = {(r["k"], r["ts"]): r["running_min"] for r in batch.collect()}

    src = str(tmp_path / "sif_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    sif = stream_smudge_if(stream, "k", "v", "cond", "ts")
    (sif.writeStream.format("memory").queryName("sif_out")
        .outputMode("append").trigger(availableNow=True).start().awaitTermination(120))
    got_fill = {(r["key"], r["ts"]): r["filled"]
                for r in spark.sql("select * from sif_out").collect()}
    assert got_fill == expect_fill

    rmin = stream_running_min_with_flush(stream, "k", "v", "flush", "ts")
    (rmin.writeStream.format("memory").queryName("rmin_out")
        .outputMode("append").trigger(availableNow=True).start().awaitTermination(120))
    got_min = {(r["key"], r["ts"]): r["running_min"]
               for r in spark.sql("select * from rmin_out").collect()}
    assert got_min == expect_min


def test_stream_stateful_multi_chunk_group(spark, tmp_path):
    """A group larger than one Arrow batch reaches the stateful update
    function as MULTIPLE chunks in shuffle arrival order — the operator
    must sort the whole micro-batch, not each chunk (regression: per-chunk
    sort broke sequential semantics past ~10k rows per key per batch).
    Rows are written in REVERSE time order so arrival order disagrees
    with event order across chunk boundaries."""
    import datetime as dtm

    from supersonic_spark.streaming.ops import stream_smudge

    t0 = dtm.datetime(2024, 1, 1)
    n = 40
    # value only every 4th second → LOCF answer = last multiple of 4
    rows = [
        ("k1", t0 + dtm.timedelta(seconds=i), float(i) if i % 4 == 0 else None)
        for i in reversed(range(n))
    ]
    src = str(tmp_path / "chunk_src")
    core.scan_view(spark, rows, "k string, ts timestamp, v double").coalesce(
        1
    ).write.parquet(src)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = spark.readStream.schema("k string, ts timestamp, v double").parquet(src)
        sm = stream_smudge(stream, "k", "v", "ts")
        (sm.writeStream.format("memory").queryName("chunk_out")
            .outputMode("append").trigger(availableNow=True).start()
            .awaitTermination(120))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {r["ts"].second: r["filled"]
           for r in spark.sql("select * from chunk_out").collect()}
    assert got == {i: float(i - i % 4) for i in range(n)}


def test_stream_locf_running_min_cross_batch(spark, tmp_path):
    """Composed LOCF→running-min-with-flush with micro-batch boundaries
    cutting BOTH a fill gap and an open min segment: the LOCF carry and the
    segment minimum must each cross the boundary, and a flush must reset
    only the min (the carry survives).  Drained stream == batch window
    composition row for row."""
    import datetime as dtm

    from supersonic_spark.functions import stateful
    from supersonic_spark.streaming.ops import stream_locf_running_min

    t0 = dtm.datetime(2024, 1, 1)
    # file 1 (batch 0): carry=4.0 set, min open at 4.0, then flush
    f1 = [
        (1, "u1", t0, 4.0, False),
        (2, "u1", t0 + dtm.timedelta(seconds=1), None, False),   # fills 4.0
        (3, "u1", t0 + dtm.timedelta(seconds=2), 6.0, True),     # min(4,6)=4; flush
    ]
    # file 2 (batch 1): min restarted but carry=6.0 must survive the batch cut
    f2 = [
        (4, "u1", t0 + dtm.timedelta(seconds=3), None, False),   # fills 6.0; new min 6.0
        (5, "u1", t0 + dtm.timedelta(seconds=4), 2.0, False),    # min 2.0
        (6, "u2", t0, None, False),                              # no carry yet → NULL
    ]
    schema = "event_id long, k string, ts timestamp, v double, flush boolean"
    d1 = core.scan_view(spark, f1, schema)
    d2 = core.scan_view(spark, f2, schema)
    src = str(tmp_path / "locf_src")
    d1.coalesce(1).write.mode("append").parquet(src)
    d2.coalesce(1).write.mode("append").parquet(src)

    full = d1.union(d2)
    filled_b = stateful.smudge("v", order=["ts", "event_id"], partition=["k"])
    batch = full.select(
        "event_id",
        filled_b.alias("filled"),
        stateful.running_min_with_flush(
            filled_b, "flush", order=["ts", "event_id"], partition=["k"]
        ).alias("run_min"),
    )
    want = {r["event_id"]: (r["filled"], r["run_min"]) for r in batch.collect()}
    assert want[4] == (6.0, 6.0) and want[5] == (2.0, 2.0)  # the cross-batch facts

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")   # forces the batch cut between files
        .parquet(src)
    )
    out = stream_locf_running_min(stream, "k", "v", "flush", "ts", "event_id")
    (out.writeStream.format("memory").queryName("locf_out")
        .outputMode("append").trigger(availableNow=True).start().awaitTermination(120))
    got = {r["event_id"]: (r["filled"], r["run_min"])
           for r in spark.sql("select * from locf_out").collect()}
    assert got == want


def test_enum_encoded_roundtrip(spark, tmp_path):
    """ENUM end-to-end: dictionary-encode on write (ids + JSON sidecar),
    decode on read; trained dictionaries are deterministic (sorted-name
    ids), unknown-at-read ids decode to NULL, and the encoded file really
    stores int32 ids."""
    from supersonic_spark.schema import EnumDefinition
    from supersonic_spark.sources.io import read_enum_decoded, write_enum_encoded

    df = core.scan_view(
        spark,
        [(1, "RED", "S"), (2, "BLUE", "M"), (3, "RED", None), (4, None, "L")],
        "id long, color string, size string",
    )
    path = str(tmp_path / "enum_ds")
    trained = write_enum_encoded(df, path, {"color": None, "size": None})
    assert trained["color"].number_to_name == {0: "BLUE", 1: "RED"}

    raw = spark.read.parquet(path)
    assert dict(raw.dtypes)["color"] == "int"  # ids on disk, not strings

    back = read_enum_decoded(spark, path)
    got = {r["id"]: (r["color"], r["size"]) for r in back.collect()}
    assert got == {1: ("RED", "S"), 2: ("BLUE", "M"), 3: ("RED", None), 4: (None, "L")}
    assert back.enum_definitions["size"].number_to_name == {0: "L", 1: "M", 2: "S"}

    ids = read_enum_decoded(spark, path, decode=False)
    assert {r["id"]: r["color"] for r in ids.collect()}[1] == 1  # RED -> id 1

    # explicit (untrained) definition + unknown name encodes to NULL
    ed = EnumDefinition({7: "RED"})
    enc = df.select(ed.encode_column("color").alias("c")).collect()
    assert sorted([r["c"] for r in enc], key=lambda x: (x is None, x)) == [7, 7, None, None]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from supersonic_spark.sources.io import read_table, write_bucketed_table

    left = core.scan_view(spark, [(i, f"l{i}") for i in range(100)], "k long, lv string")
    right = core.scan_view(spark, [(i, i * 2.0) for i in range(100)], "k long, rv double")
    write_bucketed_table(left, "bkt_left", ["k"], 4, sort_cols=["k"])
    write_bucketed_table(right, "bkt_right", ["k"], 4, sort_cols=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast (which also skips the shuffle);
        # disable it to show the bucket metadata alone removes the exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l, r = read_table(spark, "bkt_left"), read_table(spark, "bkt_right")
        joined = l.join(r, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # co-located: the write paid the shuffle
        assert "Bucketed: true" in plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    from supersonic_spark.sources.io import file_input, file_output

    df = core.scan_view(
        spark, [(i, "a" if i % 2 else "b", i * 1.0) for i in range(100)],
        "id long, part string, v double",
    )
    path = str(tmp_path / "partds")
    file_output(df, path, partition_by=["part"], mode="overwrite")
    back = file_input(spark, path).filter(F.col("part") == "a")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan  # pruning reaches the scan
    assert back.count() == 50


def test_file_roundtrip_all_formats(spark, tmp_path):
    """FileInput/FileOutput across every batch format Spark ships natively:
    parquet, orc, csv, json — schema-required reads return identical rows."""
    from supersonic_spark.sources.io import file_input, file_output

    df = core.scan_view(
        spark,
        [(1, "a", 1.5), (2, "b", None), (3, None, -2.25)],
        "id long, s string, v double",
    )
    expect = sorted(map(tuple, df.collect()))
    for fmt in ("parquet", "orc", "csv", "json"):
        path = str(tmp_path / f"rt_{fmt}")
        file_output(df, path, format=fmt, mode="overwrite")
        back = file_input(spark, path, format=fmt, schema="id long, s string, v double")
        assert sorted(map(tuple, back.collect())) == expect, fmt


def test_write_sorted_row_group_stats_enable_skipping(spark, tables, tmp_path):
    """write_sorted's contract: files own disjoint sort-key ranges and row
    groups inside each file carry monotonic min/max footer stats — the
    physical precondition for file- and row-group-level skipping."""
    import glob

    import pyarrow.parquet as pq

    from supersonic_spark.sources.io import write_sorted

    path = str(tmp_path / "orders_sorted")
    write_sorted(
        tables["orders"], path, ["o_orderkey"], n_files=4,
        mode="overwrite", row_group_bytes=64 * 1024,
    )
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 2
    file_ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("o_orderkey")
        groups = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
        assert all(g is not None and g.has_min_max for g in groups)
        # row groups are internally sorted: monotone non-overlapping mins
        for a, b in zip(groups, groups[1:]):
            assert a.max <= b.min
        file_ranges.append((groups[0].min, groups[-1].max))
    # range partitioning: whole files own disjoint ranges
    file_ranges.sort()
    for (_, amax), (bmin, _) in zip(file_ranges, file_ranges[1:]):
        assert amax <= bmin
    # the filter that benefits reaches the scan as a pushed filter
    got = spark.read.parquet(path).filter("o_orderkey = 42")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan


def test_zorder_key_matches_morton_reference(spark):
    """With identity normalization (lo=0, hi=2^bits-1) the z-key must equal
    textbook bit interleaving."""
    from supersonic_spark.sources.io import zorder_key

    bits = 4
    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = df.select(
        "x", "y", zorder_key(["x", "y"], [0, 0], [15, 15], bits=bits).alias("z")
    ).collect()

    def morton(x, y):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in out:
        assert r["z"] == morton(r["x"], r["y"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_key(["a", "b"], [0, 0], [1, 1], bits=32)


def test_write_zordered_clusters_both_dimensions(spark, tables, tmp_path):
    """Z-order clustering: every file's min/max range must be narrow on BOTH
    dimensions (a lexicographic sort is tight only on its leading column),
    and the write must round-trip all rows."""
    import glob

    import pyarrow.parquet as pq

    from supersonic_spark.sources.io import write_zordered

    df = spark.range(64 * 64).selectExpr(
        "id", "CAST(id % 64 AS LONG) AS x", "CAST(id DIV 64 AS LONG) AS y"
    )
    path = str(tmp_path / "zordered")
    write_zordered(df, path, ["x", "y"], n_files=16, mode="overwrite")
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 8
    spans = {"x": [], "y": []}
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        total += md.num_rows
        for c in ("x", "y"):
            idx = md.schema.names.index(c)
            mins, maxs = [], []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans[c].append(max(maxs) - min(mins))
    assert total == 64 * 64
    # with ~16 z-tiles over a 64x64 grid, each file covers a fraction of
    # each axis; a plain y-ignorant sort would give full-span (63) y ranges
    # in every file
    for c in ("x", "y"):
        avg_span = sum(spans[c]) / len(spans[c])
        assert avg_span <= 40, (c, spans[c])


def test_stream_upsert_latest_state_and_stale_updates(spark, tmp_path):
    """Cross-micro-batch upsert state: later versions replace state, stale
    out-of-order records never surface."""
    import glob as _glob

    from supersonic_spark.streaming.ops import stream_upsert_latest

    src = str(tmp_path / "cdc_src")
    core.scan_view(spark, [(1, "v2", 2), (2, "a", 1)], "k int, v string, ver int") \
        .coalesce(1).write.mode("append").parquet(src)
    core.scan_view(spark, [(1, "stale", 1), (3, "c", 1)], "k int, v string, ver int") \
        .coalesce(1).write.mode("append").parquet(src)
    assert len(_glob.glob(src + "/part-*.parquet")) == 2

    stream = spark.readStream.schema("k int, v string, ver int") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stream_upsert_latest(stream, ["k"], "ver", tiebreak="v")
    q = (
        out.writeStream.format("memory")
        .queryName("cdc_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = [(r["k"], r["v"], r["ver"]) for r in spark.sql("select * from cdc_out").collect()]
    # every emission for k=1 carries ver 2 — the stale ver-1 record never won
    assert all(ver == 2 for k, v, ver in emitted if k == 1)
    assert (1, "v2", 2) in emitted and (3, "c", 1) in emitted and (2, "a", 1) in emitted


def test_drain_and_read_timeout_and_empty_sink(spark, tmp_path):
    """_drain_and_read: a timed-out drain raises (a partial sink must not
    be returned as complete) and a zero-batch stream — sink dir never
    created — reads as an EMPTY DataFrame of the declared schema."""
    from pyspark.sql import types as T

    from supersonic_spark.streaming.ops import _drain_and_read

    schema = T.StructType([T.StructField("a", T.LongType())])

    class FakeQuery:
        def __init__(self, finished):
            self.finished = finished
            self.stopped = False

        def awaitTermination(self, timeout=None):
            return self.finished

        def stop(self):
            self.stopped = True

    q = FakeQuery(finished=False)
    with pytest.raises(TimeoutError):
        _drain_and_read(q, 1, spark, str(tmp_path / "nope"), schema)
    assert q.stopped  # the in-flight query was stopped, not leaked

    out = _drain_and_read(
        FakeQuery(finished=True), 1, spark, str(tmp_path / "missing"), schema
    )
    assert out.schema == schema and out.count() == 0


def test_operators_cover_catalog_and_bench():
    """One definition per query: operators() (what bench.py and the tools
    time) names every registry query and every bench headline query, and
    queries()/oracle_sql() still cover the whole catalog.  Only the names
    registered with an oracle check build something other than their
    operator — and that build wraps the same operator."""
    import bench
    import __spark_entry__ as e

    names = set(e.REGISTRY)
    assert len(names) == 203
    assert set(e.operators()) == names
    assert set(bench.HEADLINE) <= names
    assert set(e.queries()) == names
    assert set(e.oracle_sql()) == names
    checked = {n for n in names if e.REGISTRY[n][0] is not e.OPERATORS[n]}
    assert checked == {
        "dedup_minhash_lsh", "dedup_minhash_estimate", "dedup_simhash",
        "dedup_incremental_minhash", "similarity_lsh_ann", "similarity_ivf_ann",
        "similarity_pq_ann", "similarity_ivfpq_ann", "dedup_semantic_semdedup",
    }


def test_priority_prefix_family_complete():
    """Registry hygiene guard (the driver's correctness window samples the
    FIRST 50 catalog entries): every SURVEY.md §2 family must keep exactly
    one representative inside that prefix at EVERY rotation index, so the
    round-to-round window rotation can never silently evict a family from
    external verification — while still cycling ≥10 fresh names into the
    window each round (full catalog driver-coverage in a few rounds)."""
    import __spark_entry__ as e

    slots = e._PRIORITY_SLOTS
    assert len(slots) == 50  # the driver's window size — one pick per slot

    # ring hygiene: every member is a real registry entry, no name appears
    # in two rings (a double-booked name would shrink some rotation's head)
    flat = [n for ring in slots for n in ring]
    assert len(flat) == len(set(flat)), "name in two rotation rings"
    missing = [n for n in flat if n not in e.REGISTRY]
    assert not missing, f"ring names not in REGISTRY: {missing}"

    max_len = max(len(r) for r in slots)
    picks_by_rot = [
        [ring[rot % len(ring)] for ring in slots] for rot in range(2 * max_len)
    ]
    for rot, picks in enumerate(picks_by_rot):
        # family-complete at every rotation: all 50 slots distinct, and the
        # catalog prefix IS exactly those picks (order preserved)
        assert len(set(picks)) == 50, f"rotation {rot}: collapsed prefix"
        assert list(e._ordered(rot))[:50] == picks
        # the catalog never loses names to rotation — same 200 keys always
        assert set(e._ordered(rot)) == set(e.REGISTRY)

    # the verdict's coverage bar: consecutive rounds differ by ≥10 names,
    # so the driver externally verifies fresh queries every round
    for rot in range(2 * max_len - 1):
        fresh = set(picks_by_rot[rot + 1]) - set(picks_by_rot[rot])
        assert len(fresh) >= 10, f"rotation {rot}→{rot + 1}: only {fresh}"

    # full-cycle coverage: every ring member reaches the window within
    # len(ring) rounds (trivial by modular arithmetic — pinned here so a
    # future 'skip index 3' refactor can't break it silently)
    seen = {n for picks in picks_by_rot[:max_len] for n in picks}
    assert seen == set(flat)

    # the LIVE window (what the driver actually verifies) = pinned/derived
    # rotation + the round's touched-query overrides: still 50 distinct
    # names, one per slot, and EVERY touched query is inside it — the
    # round-8 verdict's gate-hole fix (a query whose implementation
    # changed must not leave external verification in that same round)
    live = e._ordered()[:50]
    assert len(set(live)) == 50
    assert e._PRIORITY == live
    for name in e._TOUCHED_THIS_ROUND:
        if name in e.REGISTRY:
            assert name in live, f"touched query {name} missing from window"
    # pinning may displace at most len(touched) ring picks; every other
    # slot keeps its rotation pick, so family coverage stays intact
    rot = (e._WINDOW_ROTATION_PIN if e._WINDOW_ROTATION_PIN is not None
           else e._round_rotation())
    base = [r[rot % len(r)] for r in slots]
    displaced = [i for i, (a, b) in enumerate(zip(base, live)) if a != b]
    assert len(displaced) <= len(e._TOUCHED_THIS_ROUND)
