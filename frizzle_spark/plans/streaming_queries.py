"""Q13 — the frizzle-equivalence pipeline (SURVEY.md §2.3), two ways:

* ``q13_routing``  — the routing semantics as a pure batch DataFrame
  (what one micro-batch of the bus computes), oracle-checked.
* ``q13_stream``   — the REAL Structured Streaming pipeline: file-replay
  source over events.parquet → receive/send transformer → fail routing →
  memory sink + DLQ, availableNow trigger, checkpointed.  Its collected
  output is returned as a DataFrame and checked against the SAME oracle —
  i.e. the streaming path itself is differentially verified.

Routing rule (the integration Example generalized,
frizzle_integration_test.go:26-45): rows with ``event_type = 'error' OR
value < 10`` are Fail()ed to the DLQ; everything else is sent to 'main'
after a send-side suffix transform.  Every input row lands in exactly one
of {main, dlq} — the invariant the un-acked map enforces in the
reference (common/unacked.go:10-59).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from frizzle_spark.plans.registry import query
from frizzle_spark.sources.tables import (
    enable_nanos_scan,
    events_raw_schema,
    load_table,
    normalize_events_ts,
)

SUFFIX = b"|ok"


def _stable_suffix(sf_dir: str) -> str:
    """Deterministic memory-table suffix for a dataset dir.

    Python's salted ``hash()`` differs run-to-run under hash
    randomization, which made leftover memory-table names impossible to
    correlate across driver runs (ADVICE r5); md5 is stable.
    """
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:6]

_ROUTING_ORACLE = """
    SELECT CASE WHEN event_type = 'error' OR value < 10
                THEN 'dlq' ELSE 'main' END AS dest,
           CAST(event_id AS VARCHAR) AS id,
           CASE WHEN event_type = 'error' OR value < 10
                THEN props ELSE props || '|ok' END AS payload
    FROM events
"""


def _fail_cond():
    return (F.col("event_type") == "error") | (F.col("value") < 10)


@query("q13_routing", oracle=_ROUTING_ORACLE)
def q13_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch expression of one micro-batch's routing + send transform."""
    ev = load_table(spark, sf_dir, "events")
    fail = _fail_cond()
    return ev.select(
        F.when(fail, "dlq").otherwise("main").alias("dest"),
        F.col("event_id").cast("string").alias("id"),
        F.when(fail, F.col("props"))
        .otherwise(F.concat(F.col("props"), F.lit(SUFFIX.decode())))
        .alias("payload"),
    )


# The events read schema comes from the parquet footer at call time
# (sources/tables.events_raw_schema) — the driver's datasets have shipped
# ts as both TIMESTAMP(NANOS)-as-int64 and native micros, and a
# hardcoded StructType silently corrupts event time when the variant
# flips (micros read as longs, divided by 1000 → 1970 timestamps).


def run_bus_pipeline(spark: SparkSession, sf_dir: str) -> str:
    """Assemble and run the REAL streaming bus end-to-end (availableNow):
    file-replay source → separator transform → fail routing → parquet
    sinks, checkpointed.  Returns the sink dir.  Shared by q13_stream
    (correctness differential) and bench_stream.py (the isolated O18
    throughput record, round 8) so both measure the identical pipeline."""
    import tempfile

    from frizzle_spark.streaming.metrics import DictStats
    from frizzle_spark.streaming.pipeline import FileReplaySource, ParquetSink, Pipeline
    from frizzle_spark.streaming.transforms import sep_transformer

    enable_nanos_scan(spark)

    def to_envelope(df: DataFrame) -> DataFrame:
        return normalize_events_ts(df).select(
            F.col("event_id").cast("string").alias("id"),
            F.encode("props", "UTF-8").alias("data"),
            "ts",
            F.lit(None).cast("string").alias("dest"),
            "event_type",
            "value",
        )

    source = FileReplaySource(
        path=sf_dir,
        schema=events_raw_schema(spark, sf_dir),
        glob_filter="events.parquet",
        to_envelope=to_envelope,
    )
    base = tempfile.mkdtemp(prefix="q13_sink_")
    # bench min-of-n runs would otherwise accumulate scratch sinks in
    # /tmp (same cleanup posture as qz13_curation_ingest below)
    import atexit
    import shutil

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    sink = ParquetSink(base)
    pipe = Pipeline(
        spark,
        source,
        sink,
        default_dest="main",
        fail_sink=(sink, "dlq"),
        transformers=[sep_transformer(SUFFIX)],
        fail_predicate=_fail_cond(),
        stats=DictStats(),
    )
    pipe.start()
    pipe.stop(flush_timeout=300)
    return base


@query("q13_stream", oracle=_ROUTING_ORACLE)
def q13_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real streaming bus run end-to-end (availableNow), then its
    sink contents returned for the differential check.

    Sinks are ParquetSink (partitioned by dest): a small replay takes
    its Arrow tier, a large one its executor-parallel Spark tier, so
    the same pipeline shape holds when the bus carries 100 TB; the
    golden-output test keeps
    MemorySink for the reference's basic-sink semantics."""
    base = run_bus_pipeline(spark, sf_dir)

    try:
        out = spark.read.parquet(base)
    except Exception:  # empty replay → the sink wrote no files at all
        return spark.createDataFrame([], "dest string, id string, payload string")
    return out.select(
        F.col("dest").cast("string").alias("dest"),
        "id",
        F.decode("data", "UTF-8").alias("payload"),
    )


def _run_isolated_stream(
    parent: SparkSession,
    build,
    name: str,
    output_mode: str,
    timeout: int = 300,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run an availableNow streaming query on an ISOLATED child session.

    State-partition sizing: every shuffle partition of a stateful
    streaming query materializes its own state store (open, checkpoint,
    sort per micro-batch), so partition count must track STATE VOLUME,
    not core count — measured at sf0.1: 32 partitions 6.0-11.4 s vs
    8 partitions 2.7-3.2 s for identical results (state is a few
    thousand rows; 32 stores were pure fixed overhead).  At 100 TB the
    same knob goes UP (state / ~200 MB per store).

    shuffle.partitions is SESSION-global, so r5/r6 flagged the old
    set-then-restore-in-finally pattern as a hazard: a concurrent query
    planned on the same session inside that window would silently pick
    up the streaming value.  The fix is the one the hazard note always
    named: ``parent.newSession()`` — own SQLConf and temp-view catalog,
    shared SparkContext, so the override cannot leak anywhere.
    ``build(child)`` constructs the streaming DataFrame ON the child;
    the memory-sink table registers in the child's session-scoped
    catalog, and the returned batch DataFrame carries that session, so
    callers collect/join it like any other result.

    Lifetime: each invocation holds one child session (and its
    memory-sink rows) until the returned DataFrame and session are
    GC'd — bounded by invocations, a few MB each at bench scale.  A
    long-lived service should swap MemorySink for an executor-side
    sink (as q13_stream's ParquetSink does) rather than accumulate
    driver-side tables.
    """
    import os

    child = parent.newSession()
    child.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("FRIZZLE_STREAM_STATE_PARTITIONS", "8"),
    )
    for k, v in (confs or {}).items():
        child.conf.set(k, v)
    from frizzle_spark.streaming.pipeline import scratch_ckpt_dir

    q = (
        build(child)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        # explicit tmpfs checkpoint (r13): without it Spark creates a
        # temp checkpoint under java.io.tmpdir and every micro-batch's
        # offset/commit/state fsyncs queue on the host disk — see
        # scratch_ckpt_dir (the 24 s curation window evidence)
        .option("checkpointLocation", scratch_ckpt_dir(f"{name}_ckpt_"))
        .start()
    )
    # awaitTermination(timeout) returns False while the query is STILL
    # RUNNING — returning the memory table then would hand back a
    # silently-partial result; stop and fail loudly instead.
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"{name}: stream did not drain in {timeout}s")
    if os.environ.get("FRIZZLE_STREAM_PROGRESS") == "1":
        # floor diagnostics (r13, VERDICT r12 #7): per-micro-batch phase
        # durations straight from the engine, so "overhead_bound" walls
        # are attributable to planning / state commit / addBatch instead
        # of guessed at.  stderr-only; no behavior change.
        import json as _json
        import sys as _sys

        for p in q.recentProgress:
            d = p.get("durationMs", {}) if isinstance(p, dict) else {}
            print(
                f"# stream-progress {name} batch={p.get('batchId')} "
                f"{_json.dumps(d)}",
                file=_sys.stderr,
            )
    return child.table(name)


def _stream_events_raw(child: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events table, DIRECTORY- or FILE-shaped.

    A ``pathGlobFilter`` names leaf files; when ``{sf_dir}/events.parquet``
    is itself a directory (every Spark-written table, e.g. the sf1/sf10
    replicated corpora) its part files don't match the glob and the
    stream silently reads ZERO files — the empty-input hazard caught in
    round 8.  Round 9: resolution goes through the shared Hadoop-FS
    helper (streaming/pipeline.resolve_stream_input), so remote
    directory-shaped tables resolve too and a zero-file input raises
    instead of silently draining over nothing (ADVICE r8 medium).
    """
    from frizzle_spark.streaming.pipeline import resolve_stream_input

    path, glob = resolve_stream_input(child, sf_dir, "events.parquet")
    reader = child.readStream.schema(events_raw_schema(child, sf_dir))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


_INTERVAL_JOIN_ORACLE = """
    SELECT c.event_id AS click_id, p.event_id AS buy_id
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@query("qz16_interval_join", oracle=_INTERVAL_JOIN_ORACLE)
def qz16_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run for real (availableNow): clicks
    joined to purchases within 1h per user, both sides watermarked
    streams over the same events replay.  FULLY ORACLE-BACKED
    (round 7): the availableNow drain emits every in-interval pair —
    watermarks only bound state, they drop nothing on a replay whose
    files are all present — so the streaming result hash-matches the
    batch SQL join (event timestamps carry no sub-microsecond
    component, so the µs-rebuilt stream clock preserves every strict
    inequality).  tests/test_streaming_analytics.py additionally
    asserts multi-batch equivalence.  State stays bounded because
    the join condition bounds event time in both directions — see
    streaming/analytics.interval_join.  Runs on an isolated child
    session (state-partition sizing notes: _run_isolated_stream).
    """
    from frizzle_spark.streaming.analytics import interval_join

    def build(child: SparkSession) -> DataFrame:
        enable_nanos_scan(child)

        def load_stream():
            return normalize_events_ts(_stream_events_raw(child, sf_dir), out="ets")

        clicks = (
            load_stream()
            .where(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ets").alias("l_ts"),
            )
        )
        buys = (
            load_stream()
            .where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("b_user"),
                F.col("event_id").alias("buy_id"),
                F.col("ets").alias("r_ts"),
            )
        ).withColumnRenamed("b_user", "user_id")
        return interval_join(clicks, buys).select("click_id", "buy_id")

    return _run_isolated_stream(
        spark, build, f"qz16_ij_{_stable_suffix(sf_dir)}", "append"
    )


QUALITY_MIN = 0.5  # routing floor: below → DLQ (≈ p25-p50 of the corpus)

_DOCS_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


@query("qz13_docs_pipeline", oracle=None)
def qz13_docs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data ingest bus end-to-end: the frizzle pipeline carrying
    the LLM text operators as bus stages — documents replayed as a
    stream, PII REDACTED by a receive-side transformer (transform.go:8-14
    semantics, here a declarative column stage Catalyst fuses into the
    stream plan), low-quality docs (quality_score < 0.5 on the redacted
    text) routed to the DLQ by the fail predicate, survivors landed in
    the corpus sink.  This is the engine's thesis in one query: the
    reference's bus shape (source → transform → route → ack) carrying a
    100 TB data-curation workload with executor-parallel sinks.

    Rows-only (streaming machinery); the pytest gate recomputes the
    routing + redaction in batch from the same shared expressions and
    asserts identical (dest, id, payload_fp) sets.
    """
    import tempfile

    from frizzle_spark.functions import text as T
    from frizzle_spark.streaming.metrics import DictStats
    from frizzle_spark.streaming.pipeline import FileReplaySource, ParquetSink, Pipeline
    from frizzle_spark.streaming.transforms import Transformer

    def to_envelope(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").cast("string").alias("id"),
            F.encode("text", "UTF-8").alias("data"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit(None).cast("string").alias("dest"),
        )

    redactor = Transformer(
        receive=lambda df: df.withColumn(
            "data", F.encode(T.redact_pii(F.decode("data", "UTF-8")), "UTF-8")
        )
    )
    source = FileReplaySource(
        path=sf_dir,
        schema=_DOCS_RAW_SCHEMA,
        glob_filter="documents.parquet",
        to_envelope=to_envelope,
        # single-file corpus + regex-heavy transforms: see spread_to
        spread_to=spark.sparkContext.defaultParallelism,
    )
    base = tempfile.mkdtemp(prefix="qz13_docs_")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    sink = ParquetSink(base)
    pipe = Pipeline(
        spark,
        source,
        sink,
        default_dest="corpus",
        fail_sink=(sink, "dlq"),
        transformers=[redactor],
        fail_predicate=T.quality_score(F.decode("data", "UTF-8")) < QUALITY_MIN,
        stats=DictStats(),
    )
    pipe.start()
    pipe.stop(flush_timeout=300)

    try:
        out = spark.read.parquet(base)
    except Exception:  # empty replay → the sink wrote no files at all
        return spark.createDataFrame([], "dest string, id string, payload_fp string")
    return out.select(
        F.col("dest").cast("string").alias("dest"),
        "id",
        F.md5("data").alias("payload_fp"),
    )


@query("qz13_curation_ingest", oracle=None)
def qz13_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous curation end-to-end (round 9): the corpus replayed as
    4 crawl slices (doc_id mod 4, one file-per-batch replay in slice
    order), each micro-batch near-dup-deduplicated against everything
    previously ACCEPTED (incremental_neardup vs the growing MinHash
    index + minhash_pairs_of within the slice), survivors appended to
    the corpus sink AND the index, duplicates routed to the DLQ with a
    provenance pointer — greedy first-occurrence-wins ingest, the
    operating mode the whole incremental dedup tier exists for
    (streaming/curation.py module doc has the exactly-once commit
    protocol and the crash-window argument).

    Output: one row per ingested doc — (doc_id, dest, reason, dup_of).
    Rows-only at the driver (the decision is order-dependent across
    micro-batches — greedy ingest is not a SQL-expressible set
    operator); pytest gates: survivors are pairwise non-near-dup
    corpus-wide, eager batch twin produces the identical assignment,
    committed-batch replay is a no-op, and a two-phase restart (2
    slices, stop, 2 more slices, same checkpoint) equals the one-shot
    run.

    Scale shape: per-slice cost is O(slice) signature work + one
    band-bucket join against the index; text never shuffles; state
    lives in storage (index + meta watermark), not in stream state
    stores."""
    import atexit
    import os
    import shutil
    import tempfile

    from frizzle_spark.streaming.curation import (
        ingest_assignment,
        stream_dedup_ingest,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="qz13_ingest_")
    # the scratch tree holds a full corpus copy (replay + index + out +
    # ckpt); bench min-of-n across scale factors would otherwise
    # accumulate unbounded /tmp — same pattern as qz11_incremental_neardup
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    # checkpoint on tmpfs (r13): the per-batch offset/commit/state
    # fsyncs must not block on the host disk queue — see
    # streaming.pipeline.scratch_ckpt_dir; data scratch stays on disk
    replay, index, out = f"{base}/replay", f"{base}/index", f"{base}/out"
    from frizzle_spark.streaming.pipeline import scratch_ckpt_dir

    ckpt = scratch_ckpt_dir("qz13_ckpt_")
    n_slices = 4
    # ONE pass builds every slice (r12): the old per-slice
    # filter+coalesce(1) loop re-scanned the corpus n_slices times (4
    # jobs, ~0.8 s of the bench entry); hash-partitioning on the slice
    # key writes each slice to its own partitionBy directory in one
    # shuffle, and the parts are then published flat with pinned
    # strictly-increasing mtimes so the file-stream's modTime order can
    # never tie on a fast filesystem.  Slice contents are identical
    # (same doc_id % n_slices membership); within-batch decisions are
    # order-independent, so the assignment is unchanged.
    stage = f"{base}/replay_stage"
    (
        docs.withColumn("slice", (F.col("doc_id") % n_slices).cast("int"))
        .repartition("slice")
        .write.partitionBy("slice")
        .mode("overwrite")
        .parquet(stage)
    )
    os.makedirs(replay, exist_ok=True)
    for k in range(n_slices):
        sdir = os.path.join(stage, f"slice={k}")
        parts = (
            sorted(f for f in os.listdir(sdir) if f.endswith(".parquet"))
            if os.path.isdir(sdir)
            else []
        )
        # One file per slice is LOAD-BEARING (ADVICE r12): the replay
        # reads with maxFilesPerTrigger=1, so a slice split across
        # files would silently split one micro-batch into several and
        # change the within-batch planted-dup semantics.  repartition
        # ("slice") guarantees one part per slice value today; if a
        # session ever sets spark.sql.files.maxRecordsPerFile (or a
        # writer change splits parts), fail loudly instead.
        assert len(parts) <= 1, (
            f"slice {k} wrote {len(parts)} parquet parts; the replay "
            "contract requires exactly one file per slice"
        )
        for i, f in enumerate(parts):
            dst = os.path.join(replay, f"slice-{k}-{i}.parquet")
            os.replace(os.path.join(sdir, f), dst)
            os.utime(dst, (1_000_000_000 + k * 60 + i,) * 2)
    shutil.rmtree(stage, ignore_errors=True)
    if not any(f.endswith(".parquet") for f in os.listdir(replay)):
        # empty corpus: partitionBy wrote no files at all — publish one
        # schema-only file so the replay stream has an input (the
        # zero-file resolver refuses loudly by design)
        docs.limit(0).coalesce(1).write.mode("append").parquet(replay)
    stream_dedup_ingest(
        spark,
        replay,
        "doc_id long, text string",
        index,
        out,
        ckpt,
    )
    return ingest_assignment(spark, out)


# Duplicate horizon for the streaming dedup: how far apart in EVENT TIME
# two duplicates of the same key may arrive and still be collapsed.  The
# replayed corpus spans 30 days, so 35d makes the replay's dedup exact
# (equal to batch DISTINCT — that is what the oracle checks).  In a live
# deployment this is the knob that bounds state: delay = the real
# duplicate horizon (minutes-hours for at-least-once redelivery), and
# state holds only keys seen within it, evicted by the watermark.
STREAM_DEDUP_HORIZON = "35 days"

_STREAM_DEDUP_ORACLE = """
    SELECT DISTINCT user_id, event_type FROM events
"""


@query("qz13_stream_dedup", oracle=_STREAM_DEDUP_ORACLE)
def qz13_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful deduplication: first occurrence of each
    (user_id, event_type) key wins, duplicates within the watermark
    horizon are dropped IN the stream — the exactly-once-per-key
    primitive an ingest bus needs when the upstream redelivers
    (the reference's un-acked map, common/unacked.go:10-59, solves the
    same redelivery problem per-message; this operator generalizes it
    to content keys across the whole stream).

    Mechanics: ``withWatermark`` + ``dropDuplicatesWithinWatermark`` —
    per-key state in the state store, keyed by the dedup columns,
    evicted once the watermark passes event_time + horizon, so state is
    bounded by keys-within-horizon, never by stream length (the
    no-watermark ``dropDuplicates`` variant grows state forever — the
    100 TB-wrong shape this query exists to avoid).  State shuffles on
    the dedup key: state-partition sizing follows qz16's measured rule
    (partitions track state volume, not core count).

    qz-prefixed but fully oracle-backed (≡ batch DISTINCT because the
    horizon covers the replayed corpus' 30-day span) via the pytest
    differential sweep.
    """
    from frizzle_spark.streaming.analytics import streaming_dedup

    def build(child: SparkSession) -> DataFrame:
        enable_nanos_scan(child)
        raw = _stream_events_raw(child, sf_dir)
        return streaming_dedup(
            normalize_events_ts(raw).select("ts", "user_id", "event_type"),
            keys=["user_id", "event_type"],
            watermark=STREAM_DEDUP_HORIZON,
        ).select("user_id", "event_type")

    return _run_isolated_stream(
        spark, build, f"qz13_dedup_{_stable_suffix(sf_dir)}", "append"
    )


_STREAM_COUNTS_ORACLE = """
    SELECT user_id AS key,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
"""


@query("qz13_stream_counts", oracle=_STREAM_COUNTS_ORACLE)
def qz13_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator as a query: per-key running
    (count, sum) via ``applyInPandasWithState`` — the escape hatch for
    state machines Spark's built-in streaming aggregates can't express
    (the reference's un-acked tracking, common/unacked.go:10-59, is
    exactly such hand-rolled per-key state; this is its generalized,
    executor-distributed form).

    The replay drains in ONE availableNow micro-batch, so update-mode
    emits exactly one row per key — the final running totals, which
    equal the batch GROUP BY: that equality makes this the rare custom-
    stateful query that is FULLY oracle-backed (the multi-batch
    emission semantics are separately pinned by
    tests/test_streaming_analytics.py's per-batch equivalence test).
    State: one (long, double) pair per key, shuffled once on the key;
    partition sizing follows qz16's state-volume rule.
    """
    from frizzle_spark.streaming.analytics import running_counts

    def build(child: SparkSession) -> DataFrame:
        enable_nanos_scan(child)
        raw = _stream_events_raw(child, sf_dir)
        return running_counts(normalize_events_ts(raw).select("user_id", "value"))

    return _run_isolated_stream(
        spark, build, f"qz13_counts_{_stable_suffix(sf_dir)}", "update"
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qz13_stream_counts on Spark 4's ``transformWithStateInPandas``
    (state v2) — same per-key running totals, same single-batch
    availableNow replay, same batch-GROUP-BY oracle, but through the
    successor stateful API with named ValueState on a RocksDB store.
    Running BOTH APIs against one oracle pins that the custom-state
    surface migrates without semantic drift (applyInPandasWithState is
    the legacy path).

    NOT a registry query: the state-v2 Python protocol needs
    ``google.protobuf``, which this sandbox does not ship — the pytest
    gate import-skips when protobuf is absent (the same env-gated
    posture as the live-Kafka round-trip; registry queries must stay
    total).  RocksDB matters at 100 TB independent of the API: state
    lives off-heap with incremental changelog checkpointing, so
    key-state volume is bounded by disk, not executor heap.  The
    provider conf is scoped to the isolated child session.
    """
    from frizzle_spark.streaming.analytics import running_counts_tws

    def build(child: SparkSession) -> DataFrame:
        enable_nanos_scan(child)
        raw = _stream_events_raw(child, sf_dir)
        return running_counts_tws(
            normalize_events_ts(raw).select("user_id", "value")
        )

    return _run_isolated_stream(
        spark,
        build,
        f"qz13_tws_{_stable_suffix(sf_dir)}",
        "update",
        confs={"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER},
    )


# ---------------------------------------------------------------------------
# qz13_stream_cusum — the streaming CUSUM monitor, oracle-pinned against
# the batch closed form (round 7).  qz23_cusum computes the two-sided
# CUSUM via the prefix-scan rewrite; this query folds the SAME daily
# volumes through the LITERAL clamped recursion inside
# applyInPandasWithState (streaming/analytics.cusum_monitor) and emits
# each type's final statistics + alarm count.  Recursion (stream) and
# rewrite (batch/DuckDB) check each other end-to-end; the algebraic
# identity itself is hypothesis-pinned in tests/test_properties.py.
#
# The (μ, σ) reference baseline is fit on the replayed corpus with the
# same avg/stddev_samp the oracle uses (in production: a historical
# window), collected as |types| rows — a domain-bounded driver fold.
# ---------------------------------------------------------------------------

from frizzle_spark.plans.sql_surface import (  # noqa: E402 - after headers
    CUSUM_ALARM_SDS as _ALARM,
    CUSUM_SLACK_SDS as _SLACK,
)

_STREAM_CUSUM_ORACLE = f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, event_type,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    centered AS (
        SELECT d, event_type, x,
               avg(x) OVER (PARTITION BY event_type) AS mu,
               stddev_samp(x) OVER (PARTITION BY event_type) AS sd
        FROM daily
    ),
    sums AS (
        SELECT d, event_type, x, mu, sd,
               sum(x - mu - {_SLACK!r} * sd) OVER w AS cum_up,
               sum(x - mu + {_SLACK!r} * sd) OVER w AS cum_dn
        FROM centered
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scanned AS (
        SELECT d, event_type, sd,
               cum_up - least(0, min(cum_up) OVER w) AS s_up,
               greatest(0, max(cum_dn) OVER w) - cum_dn AS s_dn
        FROM sums
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           round(arg_max(s_up, d), 6) AS final_up,
           round(arg_max(s_dn, d), 6) AS final_dn,
           CAST(sum(CASE WHEN s_up > {_ALARM!r} * sd OR s_dn > {_ALARM!r} * sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
    FROM scanned GROUP BY event_type
"""


@query("qz13_stream_cusum", oracle=_STREAM_CUSUM_ORACLE)
def qz13_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming two-sided CUSUM per event type: final S⁺/S⁻ and alarm
    count after folding the replayed corpus through the stateful
    recursion (header comment; availableNow = one batch, so every day
    enters the recursion exactly once)."""
    from frizzle_spark.plans.sql_surface import (
        CUSUM_ALARM_SDS,
        CUSUM_SLACK_SDS,
    )
    from frizzle_spark.streaming.analytics import cusum_monitor

    # reference baseline (μ, σ per type) — same estimator the oracle
    # window uses, |types| rows collected
    enable_nanos_scan(spark)
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    # stddev_samp of a single day is NULL → degrade to σ=0 (recursion
    # then tracks raw deviation from μ, same as the closed form's NULL
    # rows dropping out) so one-day types never crash the stream
    params = {
        r["event_type"]: (
            float(r["mu"]),
            float(r["sd"]) if r["sd"] is not None else 0.0,
        )
        for r in daily.groupBy("event_type")
        .agg(
            F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
        )
        .collect()
    }

    def build(child: SparkSession) -> DataFrame:
        enable_nanos_scan(child)
        raw = _stream_events_raw(child, sf_dir)
        return cusum_monitor(
            normalize_events_ts(raw).select("ts", "event_type"),
            params,
            CUSUM_SLACK_SDS,
            CUSUM_ALARM_SDS,
        )

    return _run_isolated_stream(
        spark, build, f"qz13_cusum_{_stable_suffix(sf_dir)}", "update"
    )


_STREAM_ATTRIBUTION_ORACLE = """
    WITH purch AS (
      SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id AS t_user, ts AS t_ts, event_type AS t_type,
             event_id AS t_id
      FROM events WHERE event_type IN ('click', 'view')
    ),
    ranked AS (
      SELECT p.p_id, p.p_value, t.t_type,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts DESC NULLS LAST,
                                         t.t_id DESC) AS rn
      FROM purch p LEFT OUTER JOIN touch t
        ON t.t_user = p.p_user
       AND t.t_ts <= p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
    )
    SELECT p_id, coalesce(t_type, '(none)') AS touch_type,
           round(p_value, 2) AS p_value
    FROM ranked WHERE rn = 1
"""


@query("qz13_stream_attribution", oracle=_STREAM_ATTRIBUTION_ORACLE)
def qz13_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-touch attribution as a query: per-purchase credit
    rows (p_id, touch_type, p_value) emitted by the per-user state
    machine the moment each purchase arrives — the real-time twin of
    qz10_attribution's last-touch model.

    The replay drains in one availableNow micro-batch, and the in-batch
    walk reproduces the batch argmax exactly (see
    streaming/analytics.last_touch_attribution's ordering contract), so
    the custom-stateful query is FULLY oracle-backed; time-ordered
    multi-batch replay is separately pinned by the equivalence test in
    tests/test_streaming_analytics.py."""
    from frizzle_spark.streaming.analytics import last_touch_attribution

    def build(child: SparkSession) -> DataFrame:
        enable_nanos_scan(child)
        raw = _stream_events_raw(child, sf_dir)
        return last_touch_attribution(
            normalize_events_ts(raw).select(
                "event_id", "ts", "user_id", "event_type", "value"
            )
        )

    return _run_isolated_stream(
        spark, build, f"qz13_attr_{_stable_suffix(sf_dir)}", "append"
    )


_STREAM_FUNNEL_ORACLE = """
    WITH u AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type IN ('signup', 'view', 'click', 'purchase')
    ),
    s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id
    ),
    s4 AS (
      SELECT e.user_id, min(e.ts) AS t4
      FROM events e JOIN s3 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN s4.user_id IS NOT NULL THEN 4
                     WHEN s3.user_id IS NOT NULL THEN 3
                     WHEN s2.user_id IS NOT NULL THEN 2
                     WHEN s1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage
    FROM u
    LEFT JOIN s1 ON s1.user_id = u.user_id
    LEFT JOIN s2 ON s2.user_id = u.user_id
    LEFT JOIN s3 ON s3.user_id = u.user_id
    LEFT JOIN s4 ON s4.user_id = u.user_id
"""


@query("qz13_stream_funnel", oracle=_STREAM_FUNNEL_ORACLE)
def qz13_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel stage per user: the applyInPandasWithState
    machine advances signup → view → click → purchase with the strict
    same-ts exclusion rule, reproducing qz10_funnel's batch min-ts
    chain exactly on the availableNow drain — FULLY ORACLE-BACKED
    (per-user reached stage vs the four-CTE SQL chain); cross-batch
    state carry is pinned in tests/test_streaming_analytics.py."""
    from frizzle_spark.streaming.analytics import funnel_progress

    def build(child: SparkSession) -> DataFrame:
        enable_nanos_scan(child)
        raw = _stream_events_raw(child, sf_dir)
        return funnel_progress(
            normalize_events_ts(raw).select("event_id", "ts", "user_id", "event_type")
        )

    return _run_isolated_stream(
        spark, build, f"qz13_funnel_{_stable_suffix(sf_dir)}", "update"
    )


@query("qz13_embedding_ingest", oracle=None)
def qz13_embedding_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous EMBEDDING curation end-to-end (round 11): the vector
    corpus replayed as 4 slices with DETERMINISTIC planted structure —
    exact re-keyed copies of earlier-slice vectors (cross-batch
    near-dups), same-slice copies (within-batch dups), and copies of
    eval-set members (contamination) — each micro-batch probed against
    the previously-ACCEPTED vectors via the bus's persisted IVF index,
    survivors landing in the corpus sink AND the index, drops routed to
    the DLQ with provenance (streaming/embedding_curation.py module doc
    has the tiers, the exactly-once protocol and the crash-window
    argument).  The ANN twin of qz13_curation_ingest: the two entries
    together run the text half and the embedding half of the curation
    story the north star names.

    Planted ids: originals keep vec_id; cross-batch copies are
    1_000_000 + vec_id (vec_id % 25 == 0 of slice-0 members, replayed
    one slice later → dup_index at cos 1.0); within-batch copies are
    2_000_000 + vec_id (vec_id % 31 == 0 of slice-1 members, same
    slice → dup_batch pointing at the original); eval copies are
    3_000_000 + vec_id for the 4 lowest ids (→ contaminated, as are
    the 4 originals when their own slice arrives — a doc matching the
    eval set is dropped no matter who it is).

    Output: one row per ingested vector — (vec_id, dest, reason,
    dup_of, cos_sim).  Rows-only at the driver (greedy ingest is
    order-dependent across micro-batches, not a SQL-expressible set
    operator); pytest gates pin batch-twin identity, replay no-op,
    redelivery bit-identity, the pairwise survivor invariant (exact
    recompute) and forced-tier identity.

    Scale shape: each slice is one micro-batch, collected whole onto
    the driver in one Arrow collect and decided by one driver-local
    body: O(slice) driver memory and normalize/assign GEMMs, the index
    probe (the driver's cluster cache, every cluster below 64 MiB of
    lists and the nprobe nearest above; a broadcast cluster-pruned scan
    when the probed clusters outgrow the cache), and O(slice²)
    within-batch scoring.  The slices are N/4 of the corpus, so both
    grow with the scale factor; state lives in storage (index + meta
    watermark), not in stream state stores."""
    import atexit
    import os
    import shutil
    import tempfile

    import numpy as np

    from frizzle_spark.streaming.embedding_curation import (
        embedding_assignment,
        stream_embedding_ingest,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    base = tempfile.mkdtemp(prefix="qz13_emb_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    # checkpoint on tmpfs (r13): the per-batch offset/commit/state
    # fsyncs must not block on the host disk queue — see
    # streaming.pipeline.scratch_ckpt_dir; data scratch stays on disk
    replay, index, out = f"{base}/replay", f"{base}/index", f"{base}/out"
    from frizzle_spark.streaming.pipeline import scratch_ckpt_dir

    ckpt = scratch_ckpt_dir("qz13_ckpt_")
    n_slices = 4
    eval_rows = emb.orderBy("vec_id").limit(4).collect()
    if eval_rows:
        ev = np.asarray([r["embedding"] for r in eval_rows], dtype=np.float64)
        ev /= np.linalg.norm(ev, axis=1, keepdims=True)
    else:  # empty corpus: no eval set, no decon gate — still total
        ev = None
    eval_ids = [int(r["vec_id"]) for r in eval_rows]
    # ONE pass builds every slice (r12, same move as the MinHash twin):
    # the old per-slice filter+union+coalesce(1) loop re-scanned the
    # corpus 4 times; here each planted family computes its slice as a
    # column (copies derive slice from the ORIGINAL vec_id before
    # re-keying, preserving the loop's membership exactly), one shuffle
    # writes all partitionBy directories, and the parts publish flat
    # with pinned strictly-increasing mtimes.  Slice contents — and
    # therefore every greedy cross-batch decision — are unchanged.
    sl_of = (F.col("vec_id") % n_slices).cast("int")
    branches = [
        emb.select("vec_id", "embedding", sl_of.alias("slice")),
        # cross-batch copies: slice k-1 members (k = 1..3) replay one
        # slice later under vec_id + 1_000_000
        emb.where(
            (F.col("vec_id") % 25 == 0) & (sl_of <= n_slices - 2)
        ).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            "embedding",
            (sl_of + 1).cast("int").alias("slice"),
        ),
        # within-batch copies: same slice as the original (slice 1)
        emb.where((sl_of == 1) & (F.col("vec_id") % 31 == 0)).select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"),
            "embedding",
            F.lit(1).cast("int").alias("slice"),
        ),
        # eval-set copies → contaminated (slice 2)
        emb.where(F.col("vec_id").isin(eval_ids)).select(
            (F.col("vec_id") + 3_000_000).alias("vec_id"),
            "embedding",
            F.lit(2).cast("int").alias("slice"),
        ),
    ]
    all_rows = branches[0]
    for b in branches[1:]:
        all_rows = all_rows.unionByName(b)
    stage = f"{base}/replay_stage"
    (
        all_rows.repartition("slice")
        .write.partitionBy("slice")
        .mode("overwrite")
        .parquet(stage)
    )
    os.makedirs(replay, exist_ok=True)
    for k in range(n_slices):
        sdir = os.path.join(stage, f"slice={k}")
        parts = (
            sorted(f for f in os.listdir(sdir) if f.endswith(".parquet"))
            if os.path.isdir(sdir)
            else []
        )
        # One file per slice is LOAD-BEARING (ADVICE r12): the replay
        # reads with maxFilesPerTrigger=1, so a slice split across
        # files would silently split one micro-batch into several and
        # change the within-batch planted-dup semantics.  repartition
        # ("slice") guarantees one part per slice value today; if a
        # session ever sets spark.sql.files.maxRecordsPerFile (or a
        # writer change splits parts), fail loudly instead.
        assert len(parts) <= 1, (
            f"slice {k} wrote {len(parts)} parquet parts; the replay "
            "contract requires exactly one file per slice"
        )
        for i, f in enumerate(parts):
            dst = os.path.join(replay, f"slice-{k}-{i}.parquet")
            os.replace(os.path.join(sdir, f), dst)
            os.utime(dst, (1_000_000_000 + k * 60 + i,) * 2)
    shutil.rmtree(stage, ignore_errors=True)
    if not any(f.endswith(".parquet") for f in os.listdir(replay)):
        # empty corpus: publish one schema-only file (see the MinHash
        # twin above — the zero-file resolver refuses loudly by design)
        emb.limit(0).coalesce(1).write.mode("append").parquet(replay)
    stream_embedding_ingest(
        spark, replay, index, out, ckpt, eval_vecs=ev
    )
    return embedding_assignment(spark, out)
