"""Golden streaming-pipeline tests — the reference's integration Example
ported (frizzle_integration_test.go:82-131) plus transformer matrix
(transform_test.go:14-56) and a checkpointed-restart test.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from frizzle_spark.streaming import metrics as M
from frizzle_spark.streaming.pipeline import ENVELOPE, FileReplaySource, MemorySink, Pipeline
from frizzle_spark.streaming.transforms import chain, sep_transformer

MSG_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("data", BinaryType()),
        StructField("ts", TimestampType()),
        StructField("dest", StringType()),
    ]
)

CORPUS = ["foo", "BAR", "fail", "baSil", "frizzle"]  # integration_test.go:90


def _write_corpus(spark, path, msgs):
    rows = [(m, m.encode(), None, None) for m in msgs]
    spark.createDataFrame(rows, MSG_SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def corpus_dir(spark, tmp_path):
    d = str(tmp_path / "msgs")
    _write_corpus(spark, d, CORPUS)
    return d


def _build(spark, corpus_dir, stats):
    """Example() pipeline: lower-case msgs → 'all-lower' sink; 'fail' → DLQ;
    others acked but not sent."""
    source = FileReplaySource(path=corpus_dir, schema=MSG_SCHEMA)
    main, dlq = MemorySink(), MemorySink()

    def process(df):
        s = F.decode("data", "UTF-8")
        return df.withColumn(
            "dest", F.when(s == F.lower(s), "all-lower").otherwise(F.lit(None))
        )

    pipe = Pipeline(
        spark,
        source,
        main,
        default_dest="all-lower",
        fail_sink=(dlq, "fail"),
        process=process,
        fail_predicate=F.decode("data", "UTF-8") == "fail",
        stats=stats,
        drop_unrouted=True,
    )
    return pipe, main, dlq


def test_example_golden(spark, corpus_dir):
    stats = M.DictStats()
    pipe, main, dlq = _build(spark, corpus_dir, stats)
    pipe.start()
    pipe.stop(flush_timeout=120)

    sent = sorted(r["id"] for r in main.sent.get("all-lower", []))
    failed = sorted(r["id"] for r in dlq.sent.get("fail", []))
    assert sent == ["foo", "frizzle"]  # integration_test.go:129
    assert failed == ["fail"]  # integration_test.go:125
    # every input row landed in exactly one of {sink, DLQ, acked-unsent}
    assert stats.counts[M.RCV] == 5
    assert stats.counts[M.ACK] == 4
    assert stats.counts[M.FAIL] == 1
    assert stats.counts[M.SEND] == 2
    assert stats.counts[M.FAILSEND] == 1
    # chars processed over non-failed msgs (integration_test.go:121): 18
    assert sum(len(i) for i in sent + ["BAR", "baSil"]) == 18


def test_checkpoint_restart_no_redelivery(spark, tmp_path):
    """Redelivery only for uncommitted batches: a restarted pipeline with
    the same checkpoint must process only NEW files (≙ frizzle redelivers
    only messages not yet Acked)."""
    d = str(tmp_path / "msgs")
    ckpt = str(tmp_path / "ckpt")
    _write_corpus(spark, d, ["one", "two"])
    stats = M.DictStats()

    def build():
        source = FileReplaySource(path=d, schema=MSG_SCHEMA)
        main = MemorySink()
        return (
            Pipeline(
                spark,
                source,
                main,
                default_dest="out",
                stats=stats,
                checkpoint_dir=ckpt,
            ),
            main,
        )

    p1, sink1 = build()
    p1.start()
    p1.stop(flush_timeout=120)
    assert sorted(r["id"] for r in sink1.sent["out"]) == ["one", "two"]

    _write_corpus(spark, d, ["three"])
    p2, sink2 = build()
    p2.start()
    p2.stop(flush_timeout=120)
    assert sorted(r["id"] for r in sink2.sent["out"]) == ["three"]
    assert stats.counts[M.RCV] == 3  # 2 + 1, never 2 + 3


@pytest.mark.parametrize("sep", [b"\n", b"end of file{}#"])  # transform_test.go:14-56
def test_sep_transformer_matrix(spark, sep):
    base = b"some test data"
    t = sep_transformer(sep)
    df = spark.createDataFrame(
        [("plain", base, None, None), ("sealed", base + sep, None, None)], MSG_SCHEMA
    )
    sent = {r["id"]: bytes(r["data"]) for r in t.send(df).collect()}
    assert sent["plain"] == base + sep  # append iff absent
    assert sent["sealed"] == base + sep  # no double-append
    received = {r["id"]: bytes(r["data"]) for r in t.receive(df).collect()}
    assert received["plain"] == base  # unchanged
    assert received["sealed"] == base  # strip iff present


def test_sep_transformer_short_payload_guard(spark):
    """Reference panics on payload shorter than separator
    (transform.go:36,47); we leave it unchanged — documented divergence."""
    sep = b"end of file{}#"
    t = sep_transformer(sep)
    df = spark.createDataFrame([("short", b"hi", None, None)], MSG_SCHEMA)
    assert bytes(t.receive(df).collect()[0]["data"]) == b"hi"
    assert bytes(t.send(df).collect()[0]["data"]) == b"hi" + sep


def test_transformer_order(spark):
    """Transforms apply in registration order (frizzle.go:99-102)."""
    df = spark.createDataFrame([("x", b"m", None, None)], MSG_SCHEMA)
    t1, t2 = sep_transformer(b"-a"), sep_transformer(b"-b")
    out = bytes(chain([t1.send, t2.send], df).collect()[0]["data"])
    assert out == b"m-a-b"


def test_pipeline_chaining(spark, corpus_dir, tmp_path):
    """O25: a bus's durable output feeds a second bus (Friz-as-Source/Sink,
    reference README.md:41) — here through ParquetSink → ChainSource."""
    from frizzle_spark.streaming.pipeline import ChainSource, ParquetSink

    base = str(tmp_path / "bus_a")
    sink_a = ParquetSink(base)
    source = FileReplaySource(path=corpus_dir, schema=MSG_SCHEMA)

    pipe_a = Pipeline(
        spark,
        source,
        sink_a,
        default_dest="main",
        fail_sink=(sink_a, "dlq"),
        fail_predicate=F.decode("data", "UTF-8") == "fail",
    )
    pipe_a.start()
    pipe_a.stop(flush_timeout=120)
    # the Arrow tier's one collect scans the batch once: the progress
    # record counts every input row once
    assert sum(p["numInputRows"] for p in pipe_a.query.recentProgress) == 5

    # bus B consumes only bus A's 'main' destination, upper-cases payloads
    sink_b = MemorySink()
    pipe_b = Pipeline(
        spark,
        ChainSource(sink_a, dest="main"),
        sink_b,
        default_dest="stage2",
        process=lambda df: df.withColumn(
            "data", F.encode(F.upper(F.decode("data", "UTF-8")), "UTF-8")
        ),
    )
    pipe_b.start()
    pipe_b.stop(flush_timeout=120)

    got = sorted(bytes(r["data"]).decode() for r in sink_b.sent.get("stage2", []))
    assert got == sorted(m.upper() for m in CORPUS if m != "fail")


def test_kinesis_source_clear_error_without_connector(spark):
    from frizzle_spark.streaming.pipeline import KinesisSource

    src = KinesisSource(stream_name="s", region="us-east-1")
    with pytest.raises(NotImplementedError, match="spark-sql-kinesis"):
        src.load(spark)


def test_handle_shutdown_real_signal(spark, corpus_dir):
    """O20: a real SIGTERM drains and stops the bus, then invokes the app
    callback (the reference fires a real signal too, frizzle_test.go:138-155)."""
    import os
    import signal as sig
    import time

    source = FileReplaySource(path=corpus_dir, schema=MSG_SCHEMA)
    pipe = Pipeline(spark, source, MemorySink(), default_dest="main")
    state = {"callback": False}
    prev = sig.getsignal(sig.SIGTERM)
    try:
        pipe.handle_shutdown(lambda: state.update(callback=True), flush_timeout=2)
        pipe.start(trigger={"processingTime": "1 second"})
        deadline = time.time() + 60
        while pipe.query.recentProgress == [] and time.time() < deadline:
            time.sleep(0.2)
        os.kill(os.getpid(), sig.SIGTERM)
        deadline = time.time() + 30
        while not state["callback"] and time.time() < deadline:
            time.sleep(0.2)
        assert state["callback"], "shutdown callback not invoked"
        assert not pipe.query.isActive, "query still active after SIGTERM"
    finally:
        sig.signal(sig.SIGTERM, prev)
        if pipe.query is not None and pipe.query.isActive:
            pipe.query.stop()


def test_null_fail_predicate_rows_route_to_sink(spark):
    """A fail predicate that evaluates NULL (nullable column) must NOT
    drop the row from both sides: NULL ≙ not-failed, so the row lands in
    the main sink and the {sink, DLQ} partition invariant holds."""
    stats = M.DictStats()
    main, dlq = MemorySink(), MemorySink()
    df = spark.createDataFrame(
        [("a", b"x", None, "out"), (None, b"y", None, "out"), ("fail", b"z", None, "out")],
        MSG_SCHEMA,
    )
    pipe = Pipeline(
        spark,
        source=None,
        sink=main,
        default_dest="out",
        fail_sink=(dlq, "dead"),
        fail_predicate=F.col("id") == "fail",  # NULL for the id=None row
        stats=stats,
    )
    pipe._run_batch(df, 0)
    assert len(main.sent.get("out", [])) == 2  # 'a' AND the NULL-id row
    assert len(dlq.sent.get("dead", [])) == 1
    assert stats.counts[M.RCV] == 3
    assert stats.counts[M.ACK] == 2
    assert stats.counts[M.FAIL] == 1


def test_counters_ride_sink_job(spark):
    """O19 via observe(): one batch with failures runs exactly two jobs
    (main sink + DLQ) — the rcv/fail/unrouted counters ride the sink job
    through a CollectMetrics node instead of a separate aggregate job."""
    sc = spark.sparkContext
    stats = M.DictStats()
    main, dlq = MemorySink(), MemorySink()
    df = spark.createDataFrame(
        [("a", b"x", None, "out"), ("fail", b"z", None, "out")], MSG_SCHEMA
    )
    pipe = Pipeline(
        spark,
        source=None,
        sink=main,
        default_dest="out",
        fail_sink=(dlq, "dead"),
        fail_predicate=F.col("id") == "fail",
        stats=stats,
    )
    sc.setJobGroup("probe-batch-jobs", "job-count gate")
    try:
        pipe._run_batch(df, 0)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("probe-batch-jobs")
    assert len(jobs) == 2, f"expected sink+DLQ jobs only, got {len(jobs)}"
    assert stats.counts[M.RCV] == 2 and stats.counts[M.FAIL] == 1


def test_kafka_source_envelope_and_options(spark):
    """O3 without a broker: the assembled reader option set and the
    wire→envelope projection are asserted directly, so an option or
    column typo cannot survive to a real cluster (reference bar:
    frizzle_integration_test.go:82-131 exercises its bus end-to-end)."""
    import datetime as dt

    from frizzle_spark.streaming.pipeline import (
        ENVELOPE,
        KAFKA_WIRE_SCHEMA,
        KafkaSource,
    )

    src = KafkaSource(
        brokers="b1:9092,b2:9092",
        subscribe="events",
        options={"startingOffsets": "earliest", "maxOffsetsPerTrigger": "500"},
    )
    assert src.reader_options() == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "500",
    }
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    wire = spark.createDataFrame(
        [(b"k1", b"payload", "events", 0, 42, ts, 0)], KAFKA_WIRE_SCHEMA
    )
    env = KafkaSource.to_envelope(wire)
    assert env.schema == ENVELOPE
    row = env.collect()[0]
    assert row["id"] == "k1" and bytes(row["data"]) == b"payload"
    assert row["ts"] == ts and row["dest"] is None


def test_kinesis_source_envelope_and_options(spark):
    """O4 without a connector: KinesisSource gets the Kafka treatment
    (VERDICT r5 'Next round' #3) — the assembled reader option set and
    the wire→envelope projection over the spark-sql-kinesis record
    shape are asserted directly against a static DataFrame, so only
    ``load()``'s final wire-up is left untested in-sandbox (the
    reference ships Kinesis out-of-repo entirely, frizzle.go:33-34)."""
    import datetime as dt

    from frizzle_spark.streaming.pipeline import (
        ENVELOPE,
        KINESIS_WIRE_SCHEMA,
        KinesisSource,
    )

    src = KinesisSource(
        stream_name="events",
        region="us-east-1",
        endpoint="https://kinesis.us-east-1.amazonaws.com",
        options={"startingPosition": "TRIM_HORIZON"},
    )
    assert src.reader_options() == {
        "streamName": "events",
        "region": "us-east-1",
        "endpointUrl": "https://kinesis.us-east-1.amazonaws.com",
        "startingPosition": "TRIM_HORIZON",
    }
    # endpoint is optional and must not inject an empty option
    assert "endpointUrl" not in KinesisSource(
        stream_name="events", region="us-east-1"
    ).reader_options()
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    wire = spark.createDataFrame(
        [(b"payload", "events", "pk-7", "49590338271490256608559692538361571095921575989136588898", ts)],
        KINESIS_WIRE_SCHEMA,
    )
    env = KinesisSource.to_envelope(wire)
    assert env.schema == ENVELOPE
    row = env.collect()[0]
    assert row["id"] == "pk-7" and bytes(row["data"]) == b"payload"
    assert row["ts"] == ts and row["dest"] is None


def test_kafka_sink_wire_mapping(spark):
    """O8 without a broker: envelope → (key, value, topic) projection,
    including the dest → default_dest → default_topic fallback chain."""
    from frizzle_spark.streaming.pipeline import KafkaSink

    sink = KafkaSink(brokers="b1:9092", default_topic="fallback")
    df = spark.createDataFrame(
        [("a", b"x", None, "routed"), ("b", b"y", None, None)], MSG_SCHEMA
    )
    wire = sink.to_wire(df, default_dest="batch-default")
    assert [f.name for f in wire.schema.fields] == ["key", "value", "topic"]
    rows = {bytes(r["key"]).decode(): r["topic"] for r in wire.collect()}
    assert rows == {"a": "routed", "b": "batch-default"}
    # with no pipeline default, the sink's own default topic wins
    wire2 = sink.to_wire(df.where(F.col("id") == "b"), default_dest=None)
    assert wire2.collect()[0]["topic"] == "fallback"


def test_parquet_sink_idempotent_on_batch_retry(spark, tmp_path):
    """A replayed micro-batch (same batch_id — checkpoint uncommitted,
    foreachBatch re-invoked) must NOT duplicate sink rows: ParquetSink's
    dynamic partition overwrite rewrites its own dest/_batch partitions.
    A NEW batch id still appends."""
    from frizzle_spark.streaming.pipeline import ParquetSink

    base = str(tmp_path / "sink")
    sink = ParquetSink(base)
    pipe = Pipeline(
        spark,
        source=None,
        sink=sink,
        default_dest="main",
        fail_sink=(sink, "dead"),
        fail_predicate=F.col("id") == "fail",
    )
    df = spark.createDataFrame(
        [("a", b"x", None, None), ("b", b"y", None, None), ("fail", b"z", None, None)],
        MSG_SCHEMA,
    )
    pipe._run_batch(df, 7)
    pipe._run_batch(df, 7)  # simulated redelivery of the SAME batch
    got = spark.read.parquet(base)
    assert got.count() == 3, "retried batch must overwrite, not append"
    assert got.where(F.col("dest") == "dead").count() == 1

    df2 = spark.createDataFrame([("c", b"w", None, None)], MSG_SCHEMA)
    pipe._run_batch(df2, 8)  # a NEW batch appends
    assert spark.read.parquet(base).count() == 4

    # Arrow tier (a file-backed batch knows its size): the same batch
    # id redelivered through either tier replaces, never appends
    fdf = _file_batch(spark, tmp_path, df.collect())
    pipe._run_batch(fdf, 7)  # Spark-tier files of batch 7 are replaced
    pipe._run_batch(fdf, 7)
    assert os.listdir(f"{base}/dest=main/_batch=7") == ["part-7.parquet"]
    assert spark.read.parquet(base).count() == 4
    pipe._run_batch(df, 7)  # and back: the Spark tier replaces Arrow files
    assert spark.read.parquet(base).count() == 4
    assert "part-7.parquet" not in os.listdir(f"{base}/dest=main/_batch=7")


def _file_batch(spark, tmp_path, rows, schema=MSG_SCHEMA):
    """``rows`` as a file-backed batch: its plan knows its byte size, so
    ``Pipeline`` takes the Arrow tier for it (a driver-built
    ``createDataFrame`` reads as unknown size and takes the Spark tier)."""
    path = tempfile.mkdtemp(prefix="batch_", dir=str(tmp_path))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def _batch_sink(spark, tmp_path, n_batches=5, arrow=False):
    from frizzle_spark.streaming.pipeline import ParquetSink

    base = str(tmp_path / "sink")
    sink = ParquetSink(base)
    pipe = Pipeline(
        spark,
        source=None,
        sink=sink,
        default_dest="main",
        fail_sink=(sink, "dead"),
        fail_predicate=F.col("id") == "fail",
    )
    for b in range(n_batches):
        rows = [(f"a{b}", b"x", None, None), ("fail", b"z", None, None)]
        df = (
            _file_batch(spark, tmp_path, rows)
            if arrow
            else spark.createDataFrame(rows, MSG_SCHEMA)
        )
        pipe._run_batch(df, b)
    return base, sink


def test_parquet_sink_compaction_preserves_contents(spark, tmp_path, monkeypatch):
    """compact() folds many per-batch dirs into few files with identical
    contents and dest partitioning (the small-files maintenance op) —
    WITHOUT any directory rename, so the protocol is object-store-safe
    (os.rename/shutil.move are trapped to prove it)."""
    import glob
    import os as os_mod
    import shutil as shutil_mod

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("compact() must not rename/move directories")

    monkeypatch.setattr(os_mod, "rename", boom)
    monkeypatch.setattr(os_mod, "replace", boom)
    monkeypatch.setattr(shutil_mod, "move", boom)

    base, sink = _batch_sink(spark, tmp_path)
    before = spark.read.parquet(base)
    rows_before = sorted((r["id"], r["dest"]) for r in before.collect())
    files_before = len(glob.glob(f"{base}/dest=*/_batch=*/part-*.parquet"))

    sink.compact(spark)

    after = sink.read_current(spark)
    rows_after = sorted((r["id"], r["dest"]) for r in after.collect())
    files_after = len(glob.glob(f"{base}/dest=*/_batch=*/part-*.parquet"))
    assert rows_after == rows_before
    assert files_after < files_before
    # folded dirs are deleted, so even a manifest-unaware plain read is
    # clean once compact() returns
    plain = spark.read.parquet(base)
    assert sorted((r["id"], r["dest"]) for r in plain.collect()) == rows_before
    batches = {r["_batch"] for r in plain.select("_batch").distinct().collect()}
    assert batches == {-1}, "all rows must land in the compacted generation"


def test_compaction_crash_windows_leave_readers_correct(spark, tmp_path):
    """The manifest protocol's two crash windows: an APPENDED-but-
    uncommitted generation is invisible, and a folded-but-undeleted
    batch dir is excluded; the next compact() garbage-collects both."""
    import glob
    import json
    import os as os_mod

    base, sink = _batch_sink(spark, tmp_path)
    truth = sorted((r["id"], r["dest"]) for r in spark.read.parquet(base).collect())

    # crash window A: a generation dir written but never committed
    # (simulate by copying batch 0's data into an orphan _batch=-9)
    for d in glob.glob(f"{base}/dest=*/_batch=0"):
        spark.read.parquet(d).write.parquet(d.replace("_batch=0", "_batch=-9"))
    assert sorted(
        (r["id"], r["dest"]) for r in sink.read_current(spark).collect()
    ) == truth, "uncommitted generation must be invisible"

    sink.compact(spark)
    assert glob.glob(f"{base}/dest=*/_batch=-9") == [], "orphan gen not GC'd"
    assert sorted(
        (r["id"], r["dest"]) for r in sink.read_current(spark).collect()
    ) == truth

    # crash window B: manifest says folded, dir present — covers both a
    # crash between manifest commit and dir deletion AND a late replay
    # of an upstream batch that compact already folded (the rows are in
    # the generation; the replayed dir must stay excluded forever)
    gen_dir = glob.glob(f"{base}/dest=main/_batch=-1")[0]
    spark.read.parquet(gen_dir).limit(1).write.parquet(
        f"{base}/dest=main/_batch=3"
    )
    assert sorted(
        (r["id"], r["dest"]) for r in sink.read_current(spark).collect()
    ) == truth, "folded-but-undeleted batch must stay excluded"

    sink.compact(spark)
    assert not os_mod.path.exists(f"{base}/dest=main/_batch=3")
    assert sorted(
        (r["id"], r["dest"]) for r in sink.read_current(spark).collect()
    ) == truth
    # folded history is retained (replay protection), batch 3 included
    m = json.load(open(f"{base}/_compaction_manifest.json"))
    assert 3 in m["folded"]


def test_compaction_max_batch_pins_newer_batches(spark, tmp_path):
    """max_batch folds only older batches — the ChainSource-coexistence
    knob: batches a downstream hasn't committed yet stay untouched."""
    base, sink = _batch_sink(spark, tmp_path)
    truth = sorted((r["id"], r["dest"]) for r in spark.read.parquet(base).collect())
    sink.compact(spark, max_batch=2)
    plain = spark.read.parquet(base)
    assert sorted((r["id"], r["dest"]) for r in plain.collect()) == truth
    batches = {r["_batch"] for r in plain.select("_batch").distinct().collect()}
    assert batches == {-1, 3, 4}
    # a second full compact folds the remainder AND the old generation
    sink.compact(spark)
    plain = spark.read.parquet(base)
    assert sorted((r["id"], r["dest"]) for r in plain.collect()) == truth
    batches = {r["_batch"] for r in plain.select("_batch").distinct().collect()}
    assert batches == {-2}


def test_dlq_dest_collision_rejected_not_silently_deleted(spark, tmp_path):
    """When the main sink and the DLQ share one ParquetSink base, an
    ok-row routed to the DLQ's dest would be deleted by the DLQ's
    partition overwrite — the batch must fail loudly instead."""
    from frizzle_spark.streaming.pipeline import ParquetSink

    base = str(tmp_path / "sink")
    sink = ParquetSink(base)
    pipe = Pipeline(
        spark,
        source=None,
        sink=sink,
        default_dest="main",
        fail_sink=(sink, "dead"),
        fail_predicate=F.col("id") == "fail",
    )
    ok = spark.createDataFrame(
        [("a", b"x", None, "dead"), ("fail", b"z", None, None)], MSG_SCHEMA
    )
    with pytest.raises(ValueError, match="DLQ destination"):
        pipe._run_batch(ok, 0)
    # the Arrow tier raises the same error, before it writes anything
    shutil.rmtree(base)
    with pytest.raises(ValueError, match="DLQ destination"):
        pipe._run_batch(_file_batch(spark, tmp_path, ok.collect()), 0)
    assert not os.path.exists(base)
    # distinct bases: same routing is fine
    sink2 = ParquetSink(str(tmp_path / "main_sink"))
    dlq2 = ParquetSink(str(tmp_path / "dlq_sink"))
    pipe2 = Pipeline(
        spark,
        source=None,
        sink=sink2,
        default_dest="main",
        fail_sink=(dlq2, "dead"),
        fail_predicate=F.col("id") == "fail",
    )
    pipe2._run_batch(ok, 0)
    assert spark.read.parquet(sink2.base_path).count() == 1
    assert spark.read.parquet(dlq2.base_path).count() == 1
    pipe2._run_batch(_file_batch(spark, tmp_path, ok.collect()), 1)
    assert spark.read.parquet(sink2.base_path).count() == 2
    assert spark.read.parquet(dlq2.base_path).count() == 2


PRIO_SCHEMA = StructType(MSG_SCHEMA.fields + [StructField("prio", IntegerType())])


@pytest.mark.parametrize(
    "drop_unrouted,shared_dlq,default_dest",
    [(True, True, "main"), (False, False, "main"), (False, False, None)],
)
def test_arrow_tier_matches_spark_tier(
    spark, tmp_path, monkeypatch, drop_unrouted, shared_dlq, default_dest
):
    """The same file-backed batch through both tiers: identical
    read_current rows and schema on the sink and the DLQ, and identical
    counters — across NULL fail-predicate rows, unrouted rows,
    drop_unrouted, a dest that needs path escaping, NULL and '' dests
    that escape to one directory, a send transform that rewrites rows
    and one that drops them, a column added by process, and a DLQ on
    the sink's own base."""
    import datetime as dt

    from frizzle_spark.streaming import pipeline as P
    from frizzle_spark.streaming.transforms import Transformer

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    rows = [
        ("a", b"x", ts, None, 1),  # unrouted
        ("b", b"y\n", ts, "alt", 2),
        ("c", b"z", None, "main", None),  # fail predicate is NULL
        ("d", b"q", ts, "al/t:x=1", 3),  # escaped partition path
        ("e", b"e", ts, "", 4),  # '' escapes to NULL's directory
        ("g", b"g", ts, "main", 5),  # dropped by a send transform
        ("f1", b"w", ts, None, 9),
        ("f2", b"v\n", ts, "alt", 9),
    ]
    drop_g = Transformer(send=lambda df: df.where(F.col("id") != "g"))
    batch = _file_batch(spark, tmp_path, rows, PRIO_SCHEMA)

    def run(tier):
        if tier == "spark":
            monkeypatch.setattr(P, "ARROW_TIER_MAX_RESULT_FRACTION", 0)
        sink = P.ParquetSink(str(tmp_path / tier / "sink"))
        dlq = sink if shared_dlq else P.ParquetSink(str(tmp_path / tier / "dlq"))
        stats = M.DictStats()
        pipe = Pipeline(
            spark,
            source=None,
            sink=sink,
            default_dest=default_dest,
            fail_sink=(dlq, "dead"),
            transformers=[sep_transformer(b"\n"), drop_g],
            process=lambda df: df.withColumn("n", F.length("data")),
            fail_predicate=F.col("prio") == 9,
            stats=stats,
            drop_unrouted=drop_unrouted,
        )
        pipe._run_batch(batch, 3)
        monkeypatch.undo()
        out = []
        for s in {sink.base_path: sink, dlq.base_path: dlq}.values():
            cur = s.read_current(spark)
            out.append((cur.schema, sorted(cur.collect())))
        files = {f for _, _, fs in os.walk(sink.base_path) for f in fs}
        return out, dict(stats.counts), files

    got, got_stats, files = run("arrow")
    want, want_stats, spark_files = run("spark")
    assert "part-3.parquet" in files and "part-3.parquet" not in spark_files
    assert got == want
    assert got_stats == want_stats
    # counters are taken before the send transforms, in both tiers
    assert got_stats[M.RCV] == 8 and got_stats[M.FAIL] == 2
    assert got_stats[M.SEND] == (5 if drop_unrouted else 6)


def test_arrow_tier_falls_back_when_collect_exceeds_max_result(
    spark, tmp_path, monkeypatch
):
    """A batch under the input cap whose collect still overflows
    spark.driver.maxResultSize (here: highly compressible rows) takes
    the Spark tier, and the Arrow tier has written nothing before it."""
    from frizzle_spark.streaming import pipeline as P

    base = str(tmp_path / "sink")
    stats = M.DictStats()
    pipe = Pipeline(
        spark, source=None, sink=P.ParquetSink(base), default_dest="main", stats=stats
    )
    rows = [(str(i), b"x" * 100, None, None) for i in range(2000)]
    batch = _file_batch(spark, tmp_path, rows)
    monkeypatch.setattr(P, "ARROW_TIER_MAX_RESULT_FRACTION", 1.0)
    conf = spark.sparkContext._jsc.sc().conf()
    old = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", "64k")
    try:
        pipe._run_batch(batch, 2)
    finally:
        conf.set("spark.driver.maxResultSize", old)
    assert "part-2.parquet" not in os.listdir(f"{base}/dest=main/_batch=2")
    assert spark.read.parquet(base).count() == 2000 and stats.counts[M.RCV] == 2000


def test_arrow_tier_staged_file_invisible_and_cleaned(spark, tmp_path):
    """A file staged by an attempt that died before publishing is
    skipped by every reader, and the next write of that batch removes
    it."""
    from frizzle_spark.streaming.pipeline import ParquetSink

    base = str(tmp_path / "sink")
    pipe = Pipeline(spark, source=None, sink=ParquetSink(base), default_dest="main")
    batch = _file_batch(spark, tmp_path, [("a", b"x", None, None)])
    pipe._run_batch(batch, 4)
    part = f"{base}/dest=main/_batch=4"
    staged = f"{part}/.part-4.parquet.dead.staging"
    shutil.copy(f"{part}/part-4.parquet", staged)
    assert spark.read.parquet(base).count() == 1
    pipe._run_batch(batch, 4)
    assert os.listdir(part) == ["part-4.parquet"]
    assert spark.read.parquet(base).count() == 1


def test_arrow_tier_compaction_preserves_contents(spark, tmp_path):
    """compact() folds Arrow-tier batch files like Spark-tier ones:
    read_current rows and schema are unchanged."""
    base, sink = _batch_sink(spark, tmp_path, arrow=True)
    assert os.listdir(f"{base}/dest=main/_batch=0") == ["part-0.parquet"]
    before = sink.read_current(spark)
    rows_before = sorted(before.drop("_batch").collect())
    sink.compact(spark)
    after = sink.read_current(spark)
    assert after.schema == before.schema
    assert sorted(after.drop("_batch").collect()) == rows_before
    assert {r["_batch"] for r in after.select("_batch").distinct().collect()} == {-1}


def test_arrow_tier_one_job_per_batch(spark, tmp_path):
    """The Arrow tier's whole batch (counters, sink and DLQ) is one
    Spark job: the Arrow collect."""
    from frizzle_spark.streaming.pipeline import ParquetSink

    sc = spark.sparkContext
    stats = M.DictStats()
    pipe = Pipeline(
        spark,
        source=None,
        sink=ParquetSink(str(tmp_path / "sink")),
        default_dest="out",
        fail_sink=(ParquetSink(str(tmp_path / "dlq")), "dead"),
        fail_predicate=F.col("id") == "fail",
        stats=stats,
    )
    batch = _file_batch(
        spark, tmp_path, [("a", b"x", None, "out"), ("fail", b"z", None, "out")]
    )
    sc.setJobGroup("probe-arrow-jobs", "job-count gate")
    try:
        pipe._run_batch(batch, 0)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("probe-arrow-jobs")
    assert len(jobs) == 1, f"expected one Arrow collect, got {len(jobs)}"
    assert stats.counts[M.RCV] == 2 and stats.counts[M.FAILSEND] == 1


def test_query_error_increments_error_counter(spark, corpus_dir):
    """O17 ReportAsyncErrors: a query that dies with an exception must
    bump ctr.error through the listener (options.go:72-103 semantics)."""
    import time

    stats = M.DictStats()
    source = FileReplaySource(path=corpus_dir, schema=MSG_SCHEMA)
    pipe = Pipeline(
        spark,
        source,
        MemorySink(),
        default_dest="m",
        process=lambda df: df.select("no_such_column"),
        stats=stats,
        monitor_rate=True,
    )
    q = pipe.start()
    with pytest.raises(Exception):
        q.awaitTermination(120)
    deadline = time.time() + 30  # listener events deliver asynchronously
    while stats.counts.get(M.ERROR, 0) == 0 and time.time() < deadline:
        time.sleep(0.2)
    assert stats.counts.get(M.ERROR, 0) >= 1
    # stop() on a crashed query surfaces the error (FlushAndClose returns
    # the error in the reference, frizzle.go:152-179) AFTER cleanup runs
    with pytest.raises(Exception):
        pipe.stop(1)


def test_docs_pipeline_matches_batch_routing(spark, sf_dir):
    """qz13_docs_pipeline (the training-data ingest bus: redact →
    quality-route → sink) must equal the same redaction + routing
    computed in batch from the SAME shared expressions."""
    from frizzle_spark.functions import text as T
    from frizzle_spark.plans.registry import REGISTRY
    from frizzle_spark.plans.streaming_queries import QUALITY_MIN
    from frizzle_spark.sources.tables import load_table

    got = {
        (r["dest"], r["id"], r["payload_fp"])
        for r in REGISTRY["qz13_docs_pipeline"].fn(spark, sf_dir).collect()
    }
    red = T.redact_pii(F.col("text"))
    want = {
        (r["dest"], r["id"], r["payload_fp"])
        for r in load_table(spark, sf_dir, "documents")
        .select(
            F.when(T.quality_score(red) < QUALITY_MIN, "dlq")
            .otherwise("corpus")
            .alias("dest"),
            F.col("doc_id").cast("string").alias("id"),
            F.md5(F.encode(red, "UTF-8")).alias("payload_fp"),
        )
        .collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_compaction_concurrent_writers_one_clean_loser(spark, tmp_path):
    """Concurrent-compaction contention (VERDICT r5 'Next round' #7):
    two interleaved compact() calls would both append into the same new
    generation dir and COMMIT the duplicates — the one corruption the
    crash-window protocol can't undo.  The lock makes the overlapped
    runner a clean loser (CompactionInProgressError, sink untouched);
    a stale lock (dead holder) is broken and taken over; and under a
    real two-thread race the invariant holds: ≥1 winner, losers raise
    only CompactionInProgressError, contents exactly preserved."""
    import os
    import threading
    import time

    from frizzle_spark.streaming.pipeline import CompactionInProgressError

    base, sink = _batch_sink(spark, tmp_path)
    truth = sorted((r["id"], r["dest"]) for r in spark.read.parquet(base).collect())

    # 1. overlapped run = clean loser, and a loser changes NOTHING
    lock_path = os.path.join(base, "_compaction.lock")
    with open(lock_path, "w") as f:
        f.write("other-compactor")
    import pytest as _pytest

    with _pytest.raises(CompactionInProgressError, match="loses cleanly"):
        sink.compact(spark)
    assert not os.path.exists(os.path.join(base, sink._MANIFEST)), (
        "a losing compact() must not have started folding"
    )
    assert os.path.exists(lock_path), "loser must not release the holder's lock"
    assert sorted(
        (r["id"], r["dest"]) for r in sink.read_current(spark).collect()
    ) == truth

    # 2. stale lock (holder died > TTL ago) is broken and taken over
    old = time.time() - sink.LOCK_TTL_SECONDS - 60
    os.utime(lock_path, (old, old))
    sink.compact(spark)
    assert not os.path.exists(lock_path), "winner must release the lock"
    assert sorted(
        (r["id"], r["dest"]) for r in sink.read_current(spark).collect()
    ) == truth

    # 3. real race: two threads compact the same base_path concurrently
    results: list = [None, None]

    def run(i):
        try:
            sink.compact(spark)
            results[i] = "ok"
        except CompactionInProgressError:
            results[i] = "lost"
        except Exception as ex:  # pragma: no cover
            results[i] = ex

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(300)
    assert all(r in ("ok", "lost") for r in results), results
    assert "ok" in results, results
    got = sorted((r["id"], r["dest"]) for r in sink.read_current(spark).collect())
    assert got == truth, "contention must never duplicate or drop rows"
    m = sink._read_manifest(spark)
    assert len(m["live_gens"]) == 1 and set(m["folded"]) >= set(range(5))


def test_bus_reads_directory_shaped_tables(spark, sf_dir, tmp_path):
    """Round-8 regression gate: a Spark-WRITTEN events table (directory
    of part files, the sf1/sf10 layout) must flow through the bus and
    the stateful stream helper in full — pathGlobFilter alone matches
    zero part files inside the directory, which silently emptied every
    sf1 streaming record before the fix (streaming/pipeline.py
    FileReplaySource.load, plans/streaming_queries._stream_events_raw).
    """
    import glob as _glob

    from frizzle_spark.plans.streaming_queries import run_bus_pipeline
    from frizzle_spark.sources.tables import load_table

    d = str(tmp_path / "dirshape")
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    # write a DIRECTORY-shaped copy (the load_table ts is already micros;
    # raw-schema stream reads it as native timestamp)
    ev.write.parquet(f"{d}/events.parquet")
    assert _glob.glob(f"{d}/events.parquet/part-*"), "setup: expected part files"

    base = run_bus_pipeline(spark, d)
    assert spark.read.parquet(base).count() == n

    from frizzle_spark.plans.registry import REGISTRY

    got = REGISTRY["qz13_stream_counts"].fn(spark, d)
    users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert got.count() == users


def test_stream_source_zero_input_files_fail_loudly(spark, tmp_path):
    """Round-9 gate (ADVICE r8 medium): a replay source whose resolved
    (path, glob) matches ZERO visible data files must raise at load
    time — the silent-empty-input failure mode the round-8 directory
    fix addressed can otherwise recur on any path shape the resolver
    mishandles (remote stores included; resolution now goes through the
    Hadoop FileSystem API).  ``allow_empty=True`` opts a genuinely live
    directory out."""
    from frizzle_spark.streaming.pipeline import resolve_stream_input

    empty = tmp_path / "empty_tbl"
    empty.mkdir()
    src = FileReplaySource(path=str(empty), schema=MSG_SCHEMA)
    with pytest.raises(FileNotFoundError, match="ZERO input files"):
        src.load(spark)
    # a glob matching no file in a non-empty dir raises too
    (tmp_path / "t2").mkdir()
    (tmp_path / "t2" / "data.csv").write_text("x")
    with pytest.raises(FileNotFoundError, match="ZERO input files"):
        resolve_stream_input(spark, str(tmp_path / "t2"), "*.parquet")
    # live-directory opt-out: builds a (still-unstarted) stream fine
    FileReplaySource(
        path=str(empty), schema=MSG_SCHEMA, allow_empty=True
    ).load(spark)


def test_resolve_stream_input_directory_shape_via_hadoop_fs(spark, tmp_path):
    """The directory-shaped-table resolution must work through the
    Hadoop FS API (not os.path): {path}/{glob} that IS a directory of
    part files streams the directory itself; a FILE-shaped single
    parquet keeps the glob.  Nested part files count as visible input
    (the require_files guard passes)."""
    from frizzle_spark.streaming.pipeline import resolve_stream_input

    d = str(tmp_path / "tbl")
    spark.createDataFrame([("a",)], "id string").write.parquet(
        f"{d}/msgs.parquet"
    )
    path, glob = resolve_stream_input(spark, d, "msgs.parquet")
    assert path.endswith("/msgs.parquet") and glob is None

    # FILE-shaped: a bare parquet file beside others keeps the glob
    import shutil

    f = str(tmp_path / "flat")
    os.makedirs(f)
    part = next(
        p for p in os.listdir(f"{d}/msgs.parquet") if p.startswith("part-")
    )
    shutil.copy(f"{d}/msgs.parquet/{part}", f"{f}/msgs.parquet")
    path2, glob2 = resolve_stream_input(spark, f, "msgs.parquet")
    assert path2 == f and glob2 == "msgs.parquet"
