"""The bus process: one fresh Python + JVM that sets up a workload's bus
over a landing directory and runs it until told to finish.

It talks to ``run.py`` in JSON lines: commands on stdin, events on the
file descriptor named by ``BUSBENCH_CTL_FD`` (Spark owns stdout and
stderr).  Sequence:

1. session, bus start; the warm-up slice is already in the landing
   directory, so the first micro-batch is the warm-up.  When it commits:
   ``{"ev": "warm", ...}``.
2. ``{"cmd": "await", "rows": n}`` -> ``{"ev": "caught_up"}`` once the
   committed micro-batches hold ``n`` input rows.
3. ``{"cmd": "compact"}`` (embedding bus) -> run the index compaction
   now, between micro-batches -> ``{"ev": "compacted", "ms": ...}``.
4. ``{"cmd": "finish"}`` -> stop the query, dump what the correctness
   checks read, write ``record.json`` and reply ``{"ev": "done"}``;
   ``run.py`` then kills this process and its JVM.

With ``--trace 1`` the process also records spans around the calls it
makes into each layer (sink writes, the bus-body call, compactions, the
public ``operators.dedup`` functions) and counts Spark jobs per batch.
Only public functions are wrapped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from tracing import NoTrace, Tracer  # noqa: E402


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _make_recorder():
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        """Keeps every non-empty micro-batch's progress: start (the
        progress ``timestamp``), end (start + ``triggerExecution``), input
        rows and the ``durationMs`` split."""

        def __init__(self) -> None:
            self.batches: list[dict] = []
            self.rows = 0
            self.error: str | None = None
            self.cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if not p.numInputRows:
                return
            ms = {k: int(v) for k, v in p.durationMs.items()}
            start = _epoch(p.timestamp)
            with self.cv:
                self.batches.append({
                    "batch": p.batchId, "start": start,
                    "end": start + ms.get("triggerExecution", 0) / 1000.0,
                    "rows": int(p.numInputRows), "ms": ms,
                })
                self.rows += int(p.numInputRows)
                self.cv.notify_all()

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.cv:
                self.error = event.exception or "query terminated"
                self.cv.notify_all()

        def wait_rows(self, n: int, timeout: float) -> None:
            with self.cv:
                self.cv.wait_for(lambda: self.rows >= n or self.error, timeout)
                if self.error:
                    raise RuntimeError(f"bus query failed: {self.error}")
                if self.rows < n:
                    raise TimeoutError(f"{self.rows} of {n} rows committed")

    return Recorder()


@dataclass
class Bus:
    """What every workload's assembly hands back."""

    query: Any
    finish: Callable[[], dict]  # stops the query; returns record fields
    extra: dict  # per-batch body records
    compact: Callable[[], float] | None = None  # between batches; -> ms


def _tree_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# ------------------------------------------------------------------ bus
def build_bus(spark, d: str, shape, tracer: NoTrace) -> Bus:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, IntegerType, StringType, StructField, StructType,
        TimestampType,
    )

    from frizzle_spark.streaming.metrics import DictStats
    from frizzle_spark.streaming.pipeline import (
        FileReplaySource, ParquetSink, Pipeline,
    )
    from frizzle_spark.streaming.transforms import sep_transformer

    schema = StructType([
        StructField("id", StringType()),
        StructField("data", BinaryType()),
        StructField("dest", StringType()),
        StructField("prio", IntegerType()),
        StructField("due_ts", TimestampType()),
    ])
    source = FileReplaySource(
        path=f"{d}/landing",
        schema=schema,
        max_files_per_trigger=shape.max_files_per_trigger,
        allow_empty=True,
        # the envelope's ts is the generator's due time
        to_envelope=lambda df: df.withColumnRenamed("due_ts", "ts"),
    )
    if not tracer.enabled:
        sink, dlq = ParquetSink(f"{d}/sink"), ParquetSink(f"{d}/dlq")
    else:
        class TimedSink(ParquetSink):
            def __init__(self, base: str, span: str) -> None:
                super().__init__(base)
                self.span = span

            def write(self, df, default_dest, batch_id=None):
                with tracer.span(self.span, batch_id):
                    super().write(df, default_dest, batch_id=batch_id)

        sink = TimedSink(f"{d}/sink", "pipeline.sink_write")
        dlq = TimedSink(f"{d}/dlq", "pipeline.dlq_write")
    stats = DictStats()
    pipe = Pipeline(
        spark, source, sink,
        default_dest="main",
        fail_sink=(dlq, "dlq"),
        transformers=[sep_transformer(inputs.SEP)],
        fail_predicate=F.col("prio") == inputs.FAIL_PRIO,
        stats=stats,
        checkpoint_dir=f"{d}/ckpt",
    )
    query = pipe.start(trigger={"processingTime": "0 seconds"},
                       query_name="busbench_bus")

    def finish() -> dict:
        pipe.stop(flush_timeout=0.1)
        return {"stats": dict(stats.counts)}

    return Bus(query, finish, {})


# ------------------------------------------------- curation bus bodies
def _body_stream(spark, d, shape, schema, body, tracer, compact, name, index):
    """A file stream with a continuous trigger whose foreachBatch body
    is ``body``, plus the maintenance ``compact`` every
    ``shape.compact_every_rows`` input records.  Per-batch body wall is
    recorded; traced, so are the Spark jobs and the on-disk size of
    ``index`` (the table a tier cap is checked against) before the call.
    Returns (query, per-batch records, compact-now callable)."""
    batches: list[dict] = []
    sc = spark.sparkContext
    run_id: list[str] = []
    compacted = threading.Event()  # the next body is the first after one
    rows_in = [0]

    def jobs() -> int:
        return len(sc.statusTracker().getJobIdsForGroup(run_id[0])) if run_id else 0

    def wrapped(bdf, bid: int) -> None:
        rec = {"batch": bid}
        if compacted.is_set():
            compacted.clear()
            rec["after_compact"] = True
        if tracer.enabled:
            rec["jobs0"] = jobs()
            rec["index_bytes"] = _tree_bytes(index)[1]
        t0 = time.perf_counter()
        with tracer.span(f"{name}.body", bid):
            res = body(bdf, bid)
        rec["body_ms"] = (time.perf_counter() - t0) * 1000
        rec["n_in"], rec["n_kept"] = res.get("n_in", 0), res.get("n_kept", 0)
        if tracer.enabled:
            rec["jobs"] = jobs() - rec.pop("jobs0")
        every = shape.compact_every_rows
        before, rows_in[0] = rows_in[0], rows_in[0] + rec["n_in"]
        if every and rows_in[0] // every > before // every:
            t1 = time.perf_counter()
            with tracer.span(f"{name}.compact", bid):
                compact()
            rec["compact_ms"] = (time.perf_counter() - t1) * 1000
        batches.append(rec)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", shape.max_files_per_trigger)
        .parquet(f"{d}/landing")
    )
    query = (
        sdf.writeStream.foreachBatch(wrapped)
        .option("checkpointLocation", f"{d}/ckpt")
        .queryName(f"busbench_{name}")
        .trigger(processingTime="0 seconds")
        .start()
    )
    run_id.append(str(query.runId))

    def compact_now() -> float:
        t0 = time.perf_counter()
        with tracer.span(f"{name}.compact", "maint"):
            compact()
        compacted.set()
        return (time.perf_counter() - t0) * 1000

    return query, batches, compact_now


def _dump(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path)


def build_curate(spark, d: str, shape, tracer: NoTrace) -> Bus:
    from frizzle_spark.operators import dedup
    from frizzle_spark.streaming.curation import (
        dedup_ingest_batch, ingest_assignment,
    )
    from frizzle_spark.streaming.curation_compact import compact_curation_sinks

    if tracer.enabled:
        # curation imports these at call time, so the module attribute
        # is what each batch calls
        for fn, span in (("minhash_signatures_np", "dedup.signatures"),
                         ("incremental_neardup_local", "dedup.probe"),
                         ("append_minhash_index_local", "dedup.index_append")):
            setattr(dedup, fn, tracer.wrap(getattr(dedup, fn), span))

    def body(bdf, bid):
        return dedup_ingest_batch(spark, bdf, f"{d}/index", f"{d}/out", bid)

    def compact():
        dedup.compact_minhash_index(spark, f"{d}/index")
        compact_curation_sinks(spark, f"{d}/out")

    query, batches, _ = _body_stream(
        spark, d, shape, "doc_id long, text string, due_ts timestamp",
        body, tracer, compact, "curation", f"{d}/index/bands",
    )

    def finish() -> dict:
        query.stop()
        _dump(ingest_assignment(spark, f"{d}/out").toArrow(), f"{d}/assignment.parquet")
        n, size = _tree_bytes(f"{d}/index")
        return {"index_files": n, "index_bytes": size}

    return Bus(query, finish, {"bodies": batches})


def build_embed(spark, d: str, shape, tracer: NoTrace) -> Bus:
    from frizzle_spark.operators.ann_index import compact_ann_index
    from frizzle_spark.streaming.embedding_curation import (
        embedding_assignment, embedding_ingest_batch,
    )

    def body(bdf, bid):
        return embedding_ingest_batch(spark, bdf, f"{d}/index", f"{d}/out", bid)

    def compact():
        compact_ann_index(spark, f"{d}/index", retrain=True)

    query, batches, compact_now = _body_stream(
        spark, d, shape, "vec_id long, embedding array<float>, due_ts timestamp",
        body, tracer, compact, "embedding", f"{d}/index/lists",
    )

    def finish() -> dict:
        query.stop()
        _dump(embedding_assignment(spark, f"{d}/out").toArrow(),
              f"{d}/assignment.parquet")
        n, size = _tree_bytes(f"{d}/index")
        return {"index_files": n, "index_bytes": size}

    return Bus(query, finish, {"bodies": batches}, compact_now)


BUILD = {"bus": build_bus, "curate": build_curate, "embed": build_embed}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    ctl = os.fdopen(int(os.environ["BUSBENCH_CTL_FD"]), "w", buffering=1)

    def say(ev: dict) -> None:
        ctl.write(json.dumps(ev) + "\n")

    shape = inputs.SHAPES[a.workload]
    tracer = Tracer(a.workload) if a.trace else NoTrace()
    from frizzle_spark.session import get_spark

    t_session0 = time.time()
    with tracer.span("session.start", "setup"):
        spark = get_spark("busbench")
    t_session1 = time.time()
    recorder = _make_recorder()
    spark.streams.addListener(recorder)
    with tracer.span("session.warmup", "setup"):
        bus = BUILD[a.workload](spark, a.dir, shape, tracer)
        recorder.wait_rows(1, 120)
    say({"ev": "warm", "session_start": t_session0, "session_ready": t_session1,
         "warm_end": recorder.batches[0]["end"]})

    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "await":
            recorder.wait_rows(cmd["rows"], cmd["timeout"])
            say({"ev": "caught_up"})
        elif cmd["cmd"] == "compact":
            say({"ev": "compacted", "ms": bus.compact()})
        elif cmd["cmd"] == "finish":
            sc = spark.sparkContext
            jobs_total = len(sc.statusTracker().getJobIdsForGroup(str(bus.query.runId)))
            record = {
                "session_start": t_session0, "session_ready": t_session1,
                "batches": recorder.batches, "jobs_total": jobs_total,
                **bus.extra, **bus.finish(),
                "spans": getattr(tracer, "spans", []),
            }
            with open(os.path.join(a.dir, "record.json"), "w") as fh:
                json.dump(record, fh)
            # run.py kills the process group (this process and its JVM)
            # once it reads this; a graceful session stop only adds wall
            say({"ev": "done"})
            sys.stdin.read()
            return


if __name__ == "__main__":
    main()
