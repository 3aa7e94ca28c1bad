"""The streaming bus: frizzle's Source → Transform → process → Sink(+DLQ)
re-expressed as Structured Streaming.

Reference model (frizzle.go:11-21, 53-209): ``Init(source, sink, opts)``
starts a consume loop; every Msg is tracked un-acked until exactly one of
Ack/Fail; Fail optionally forwards to a fail sink (DLQ); Flush-and-close
drains in-flight work.  Spark mapping (SURVEY.md §3.2):

* consume loop        → micro-batch trigger on a streaming DataFrame
* per-record Ack      → per-batch checkpoint commit after the batch's
                        sinks succeed (at-least-once on retry, exactly
                        like frizzle's redeliver-before-Ack)
* Fail + fail sink    → row-level routing inside ``foreachBatch``:
                        every row lands in exactly one of {main sink,
                        DLQ} — the invariant the reference enforces via
                        the un-acked map (common/unacked.go:10-59)
* dest routing        → a ``dest`` column consumed by the sink writer
                        (frizzle.go:115-123's ``Send(m, dest)``)
* FlushAndClose       → ``stop(flush_timeout)``: processAllAvailable
                        bounded by the timeout, then query.stop()
* HandleShutdown      → ``handle_shutdown()``: SIGINT/SIGTERM →
                        FlushAndClose → user callback (options.go:105-135)

Scale: routing is a column predicate.  A small micro-batch
(``Pipeline._arrow_tier``) is collected through Arrow ONCE and written
by the driver-side ``write_batch_partition``; a larger one, or one of
unknown size (Kafka), never collects, and its sink writes stay
executor-parallel Spark jobs.  Rate limiting (reference's
buffer-500 backpressure, basic/source.go:13-16) maps to
``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` on the source.
"""

from __future__ import annotations

import json
import os
import signal
import tempfile
import uuid
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from frizzle_spark.streaming import metrics as M
from frizzle_spark.streaming.transforms import Transformer, chain

# the frizzle Msg envelope (msg.go:15-20) + dest routing column
ENVELOPE = StructType(
    [
        StructField("id", StringType()),
        StructField("data", BinaryType()),
        StructField("ts", TimestampType()),
        StructField("dest", StringType()),
    ]
)

DEFAULT_FLUSH_SECONDS = 30  # options.go:13-15

# A micro-batch takes the Arrow tier when its input plan's sizeInBytes
# is under this fraction of spark.driver.maxResultSize (16 MiB of 1g).
# Measured per batch on 4 cores, Arrow vs Spark tier: random-payload
# envelopes (1.2x Arrow expansion) 0.97 vs 1.51 s at 17 MiB, 1.71 vs
# 2.35 s at 65 MiB; Zipf text (2.7x) 1.14 vs 1.32 s at 16 MiB but 2.80
# vs 2.65 s at 65 MiB, with +510 MB driver Python peak.  A batch that
# still overflows maxResultSize falls back after its collect.
ARROW_TIER_MAX_RESULT_FRACTION = 1 / 64


# ---------------------------------------------------------------- sources
def scratch_ckpt_dir(prefix: str) -> str:
    """Scratch CHECKPOINT dir for replay/bench streams — prefers tmpfs.

    Every micro-batch synchronously writes offset/commit logs and state
    deltas through the checkpoint file manager; on a hypervisor-shared
    disk those small fsyncs are the one path in the engine that blocks
    on the HOST's disk queue — measured r13: a full-bench
    qz13_curation_ingest window read 24-28 s (vs its ~4-5 s typical)
    with load1 1.26, 0 ms GC, 3% steal: pure I/O wait, invisible to
    every CPU-side evidence field.  Scratch checkpoints carry no
    durability obligation (per-query /tmp lifetime, same argument as
    the r12 checksum disable), so tmpfs removes the host disk from the
    per-batch path entirely.  Production streams with durable
    checkpoints set FRIZZLE_SCRATCH_CKPT_BASE to real storage (or pass
    an explicit checkpoint dir, which this helper never overrides).
    """
    import atexit
    import shutil

    base = os.environ.get("FRIZZLE_SCRATCH_CKPT_BASE")
    if base is None:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def resolve_stream_input(
    spark: SparkSession,
    path: str,
    glob_filter: str | None,
    require_files: bool = True,
) -> tuple[str, str | None]:
    """Resolve a file-stream (path, glob) pair against what is actually
    on storage, via the Hadoop FileSystem API — so s3://, hdfs:// and
    local paths all behave identically (round 9, ADVICE medium).

    Two hazards, both of which previously produced a stream that
    silently read ZERO files:

    * A ``pathGlobFilter`` names leaf FILES.  When ``{path}/{glob}`` is
      itself a DIRECTORY (every Spark-written table: part-*.parquet
      inside), the part files never match the glob — stream the
      directory itself instead.  Round 8 fixed this with a local-only
      ``os.path.isdir``; the Hadoop FS check covers remote stores too.
    * Whatever the resolution, if no visible data file matches at
      resolve time the replay would drain instantly over nothing.
      ``require_files=True`` (the replay/test-source default) raises
      instead; pass False only for a genuinely live directory that a
      producer fills later.
    """
    fs, _hpath = _hadoop_fs(spark, path)

    def _is_dir(p: str) -> bool:
        hp = _hpath(p)
        return fs.exists(hp) and fs.getFileStatus(hp).isDirectory()

    def _visible_files(p: str, glob: str | None) -> int:
        """# of non-hidden data files one level under p (matching glob)."""
        hp = _hpath(p + "/" + glob) if glob else _hpath(p)
        statuses = fs.globStatus(hp) if glob else (
            fs.listStatus(hp) if fs.exists(hp) else None
        )
        if statuses is None:
            return 0
        n = 0
        for st in statuses:
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            n += 1 if st.isFile() else _visible_files(
                st.getPath().toString(), None
            )
        return n

    glob: str | None = glob_filter
    if glob_filter and _is_dir(path.rstrip("/") + "/" + glob_filter):
        path, glob = path.rstrip("/") + "/" + glob_filter, None
    if require_files and _visible_files(path, glob) == 0:
        raise FileNotFoundError(
            f"stream source resolved to ZERO input files: path={path!r} "
            f"glob={glob!r} — a replay over this would silently drain "
            "over nothing (pass require_files=False only for a live "
            "directory a producer fills later)"
        )
    return path, glob


@dataclass(frozen=True)
class FileReplaySource:
    """Replay a file directory as a stream (the test/replay source; the
    frizzle ``basic.Source`` analogue with durable storage instead of an
    in-memory channel, basic/source.go:34-68)."""

    path: str
    schema: StructType
    fmt: str = "parquet"
    max_files_per_trigger: int | None = None
    to_envelope: Callable[[DataFrame], DataFrame] | None = None
    glob_filter: str | None = None  # file streams need a DIRECTORY path
    allow_empty: bool = False  # replay over zero files is a config bug
    # Micro-batch fan-out: a file-stream batch inherits the FILE list's
    # partitioning and ignores spark.sql.files.maxPartitionBytes
    # (measured: a 50 MB single-file replay plans 2 partitions under a
    # 4 MB conf), so a single-file corpus pins every downstream
    # transform to 1-2 cores.  spread_to adds ONE round-robin exchange
    # of the batch ahead of the transforms — set it when the replay
    # files are few and the per-row work is real (the streaming twin of
    # operators/similarity._spread); leave None when the source already
    # arrives as many files (a real crawl at 100 TB) or the transforms
    # are trivial.
    spread_to: int | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream.schema(self.schema).format(self.fmt)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        # Hadoop-FS-aware resolution + zero-input guard (see
        # resolve_stream_input): directory-shaped tables stream the
        # directory itself, and an input matching no visible data file
        # fails LOUDLY unless allow_empty says the producer is live.
        path, glob = resolve_stream_input(
            spark, self.path, self.glob_filter, require_files=not self.allow_empty
        )
        if glob:
            reader = reader.option("pathGlobFilter", glob)
        df = reader.load(path)
        if self.spread_to:
            df = df.repartition(self.spread_to)
        return self.to_envelope(df) if self.to_envelope else df


# the Kafka connector's fixed wire schema (what reader.load() yields)
KAFKA_WIRE_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)


@dataclass(frozen=True)
class KafkaSource:
    """Kafka ecosystem source (declared type, frizzle.go:30-32).  Builds
    the standard Kafka envelope: key→id, value→data, timestamp→ts.

    ``reader_options`` and ``to_envelope`` are exposed separately so the
    option set and the envelope projection are unit-testable without a
    broker (the sandbox has none): tests apply ``to_envelope`` to a
    static DataFrame with ``KAFKA_WIRE_SCHEMA``.
    """

    brokers: str
    subscribe: str
    options: dict[str, str] = field(default_factory=dict)

    def reader_options(self) -> dict[str, str]:
        """The exact option set handed to the kafka DataStreamReader."""
        return {
            "kafka.bootstrap.servers": self.brokers,
            "subscribe": self.subscribe,
            **self.options,
        }

    @staticmethod
    def to_envelope(df: DataFrame) -> DataFrame:
        """Kafka wire record → frizzle ENVELOPE (msg.go:15-20 mapping)."""
        return df.select(
            F.col("key").cast("string").alias("id"),
            F.col("value").alias("data"),
            F.col("timestamp").alias("ts"),
            F.lit(None).cast("string").alias("dest"),
        )

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream.format("kafka")
        for k, v in self.reader_options().items():
            reader = reader.option(k, v)
        return self.to_envelope(reader.load())


# the spark-sql-kinesis connector's fixed wire schema (what
# reader.load() yields — the OSS kinesis-sql connector's documented
# record shape)
KINESIS_WIRE_SCHEMA = StructType(
    [
        StructField("data", BinaryType()),
        StructField("streamName", StringType()),
        StructField("partitionKey", StringType()),
        StructField("sequenceNumber", StringType()),
        StructField("approximateArrivalTimestamp", TimestampType()),
    ]
)


@dataclass(frozen=True)
class KinesisSource:
    """Kinesis ecosystem source (declared type, frizzle.go:33-34; impl in
    the reference lives in the sibling repo frinesis — ours likewise
    delegates to an external connector).  Requires the spark-sql-kinesis
    connector on the classpath (``--packages``); OSS Spark core does not
    bundle one, so ``load`` raises a clear error when it is absent.

    Mirrors :class:`KafkaSource`'s split: ``reader_options`` and
    ``to_envelope`` are connector-independent and unit-tested against a
    static DataFrame with ``KINESIS_WIRE_SCHEMA`` — only the ``load()``
    wire-up needs the connector jar.  Envelope mapping: partitionKey→id,
    data→data, approximateArrivalTimestamp→ts.
    """

    stream_name: str
    region: str
    endpoint: str | None = None
    options: dict[str, str] = field(default_factory=dict)

    def reader_options(self) -> dict[str, str]:
        """The exact option set handed to the kinesis DataStreamReader."""
        opts = {
            "streamName": self.stream_name,
            "region": self.region,
            **({"endpointUrl": self.endpoint} if self.endpoint else {}),
            **self.options,
        }
        return opts

    @staticmethod
    def to_envelope(df: DataFrame) -> DataFrame:
        """Kinesis wire record → frizzle ENVELOPE (msg.go:15-20 mapping)."""
        return df.select(
            F.col("partitionKey").cast("string").alias("id"),
            F.col("data").alias("data"),
            F.col("approximateArrivalTimestamp").alias("ts"),
            F.lit(None).cast("string").alias("dest"),
        )

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream.format("kinesis")
        for k, v in self.reader_options().items():
            reader = reader.option(k, v)
        try:
            df = reader.load()
        except Exception as exc:  # connector not on classpath
            raise NotImplementedError(
                "Kinesis needs the spark-sql-kinesis connector on the "
                "classpath (spark-submit --packages ...); not bundled here"
            ) from exc
        return self.to_envelope(df)


@dataclass(frozen=True)
class RateSource:
    """Synthetic source for smoke tests (rows/sec)."""

    rows_per_second: int = 100

    def load(self, spark: SparkSession) -> DataFrame:
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", self.rows_per_second)
            .load()
        )
        return df.select(
            F.col("value").cast("string").alias("id"),
            F.encode(F.col("value").cast("string"), "UTF-8").alias("data"),
            F.col("timestamp").alias("ts"),
            F.lit(None).cast("string").alias("dest"),
        )


@dataclass(frozen=True)
class ChainSource:
    """Bus composition (O25): a Friz satisfies Source AND Sink so buses
    chain (reference README.md:41, interfaces at frizzle.go:110-123).
    Spark-idiomatically, the durable output of an upstream Pipeline's
    ``ParquetSink`` IS a streaming source — downstream discovers files as
    the upstream commits them (the same role an intermediate Kafka topic
    plays in the reference's ecosystem).  Handoff is effectively-once:
    the upstream's batch-id dynamic-overwrite layout keeps retried
    batches from duplicating rows, and the downstream file source tracks
    seen files in its own checkpoint.

    ``dest`` narrows to one destination partition (e.g. only 'main');
    partition-directory pruning keeps unselected dests unread.

    NEVER run ``ParquetSink.compact`` on a base_path a ChainSource
    consumes: compaction rewrites rows into NEW files, and the file
    source's seen-files checkpoint would re-ingest every compacted row
    as a duplicate — see the warning on ``ParquetSink.compact``.
    """

    upstream: "ParquetSink"
    dest: str | None = None
    max_files_per_trigger: int | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        base = self.upstream.base_path
        # data files hold (id, data, ts); dest lives in the partition dir.
        # Read the dirs directly (glob when unnarrowed) and rebuild dest
        # from the file path — sidesteps streaming partition inference.
        schema = StructType([f for f in ENVELOPE.fields if f.name != "dest"])
        path = f"{base}/dest={self.dest}" if self.dest else f"{base}/dest=*"
        # recursiveFileLookup: data files sit under dest=<d>/_batch=<id>/
        # (ParquetSink's idempotent layout); partition-dir inference is
        # disabled and dest is rebuilt from the file path below.
        reader = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        df = reader.parquet(path)
        # routing is per-Send state, not message state (reference
        # msg.go:34-36): consumed messages re-enter unrouted, with the
        # upstream destination preserved as provenance in `src_dest`.
        src = (
            F.lit(self.dest)
            if self.dest
            else F.regexp_extract(F.input_file_name(), r"dest=([^/]+)/", 1)
        )
        return df.withColumn("dest", F.lit(None).cast("string")).withColumn(
            "src_dest", src
        )


# ------------------------------------------------------------------ sinks
class MemorySink:
    """Per-destination in-memory sink (basic/sink.go:28-37's
    ``map[dest][]Msg``): batches append into a driver-side dict of rows.
    Test-only by design, like the reference's basic sink (a retried
    batch appends again — at-least-once, as in the reference)."""

    def __init__(self) -> None:
        self.sent: dict[str, list] = {}

    def write(
        self, df: DataFrame, default_dest: str, batch_id: int | None = None
    ) -> None:
        dest_col = F.coalesce(F.col("dest"), F.lit(default_dest))
        for row in df.withColumn("dest", dest_col).collect():
            self.sent.setdefault(row["dest"], []).append(row)


class CompactionInProgressError(RuntimeError):
    """Raised when a compact() run loses the lock race to a concurrent
    compaction of the same base_path (the clean-loser outcome)."""


# ------------------------------------------------- batch-partition writer
# JVMView -> {class name: py4j JavaClass}.  ``jvm.org.apache.hadoop.fs.Path``
# walks py4j's package tree, one round trip per level (1.1 ms for Path,
# 1.7 ms for ExternalCatalogUtils), while a resolved JavaClass only names
# its class on its gateway.  Weakly keyed by the gateway's JVMView, so a
# relaunched gateway never gets a handle bound to the old one.
_JVM_CLASSES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _jvm_class(spark: SparkSession, name: str):
    """py4j handle of the JVM class ``name``, resolved once per gateway."""
    jvm = spark._jvm
    classes = _JVM_CLASSES.setdefault(jvm, {})
    if name not in classes:
        handle = jvm
        for part in name.split("."):
            handle = getattr(handle, part)
        classes[name] = handle
    return classes[name]


def _hadoop_fs(spark: SparkSession, base: str):
    """(hadoop FileSystem, Path ctor) for ``base``'s scheme — the
    same storage API the executors write through, so local paths, HDFS
    and object stores all resolve correctly."""
    Path = _jvm_class(spark, "org.apache.hadoop.fs.Path")
    fs = Path(base).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, Path


def arrow_filesystem(spark: SparkSession, base: str):
    """(pyarrow FileSystem, path) for ``base``, or None where pyarrow has
    no filesystem for its URI (``s3a://``, HDFS without libhdfs).  The
    base is qualified through the Hadoop FileSystem first, so a
    scheme-less path on a non-``file:`` defaultFS resolves to that
    store, never to the driver's local disk."""
    import pyarrow.fs as pafs

    fs, Path = _hadoop_fs(spark, base)
    try:
        return pafs.FileSystem.from_uri(fs.makeQualified(Path(base)).toString())
    except (OSError, ValueError, NotImplementedError):
        return None


def write_batch_partition(target, partition: str, table, batch_id: int) -> None:
    """Replace ``partition`` under ``target`` (an ``arrow_filesystem``
    result) with the Arrow ``table`` (partition columns belong in
    ``partition``) as one unit — the driver-side twin of a dynamic
    partition overwrite.  Publish protocol: write under a hidden staging
    name (leading ``.``, no ``.parquet`` suffix: Spark, pyarrow.dataset,
    ``glob('*.parquet')`` and the compactions' listings all skip it),
    move it to ``part-<batch_id>.parquet``, then delete every other
    entry of the partition — a Spark-tier write of the same batch id, or
    a dead attempt's staged file.  A redelivered batch thus replaces its
    own partition, as the Spark tier does."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, root = target
    d = f"{root.rstrip('/')}/{partition}"
    name = f"part-{int(batch_id)}.parquet"
    staged = f"{d}/.{name}.{uuid.uuid4().hex}.staging"
    fs.create_dir(d, recursive=True)
    pq.write_table(table, staged, filesystem=fs)
    fs.move(staged, f"{d}/{name}")
    for info in fs.get_file_info(pafs.FileSelector(d)):
        if info.base_name == name:
            continue
        if info.type == pafs.FileType.Directory:
            fs.delete_dir(info.path)
        else:
            fs.delete_file(info.path)


def write_batch_table(target, sink: str, batch_id: int, table) -> None:
    """The Arrow ``table`` as ``sink/batch_id=<id>`` under ``target`` —
    the curation buses' per-batch sink write."""
    if target is None:
        raise ValueError(f"pyarrow has no filesystem for the {sink} sink's base")
    write_batch_partition(target, f"{sink}/batch_id={batch_id}", table, batch_id)


def write_batch_rows(target, sink: str, batch_id: int, rows: list, schema) -> None:
    """``write_batch_table`` of ``rows`` (tuples in the order of
    ``schema``'s (name, pyarrow type) pairs)."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.table({n: pa.array(c, t) for (n, t), c in zip(schema, cols)})
    write_batch_table(target, sink, batch_id, table)


class ParquetSink:
    """Durable sink: one parquet dir per destination.

    Idempotent under micro-batch retries: when the pipeline passes a
    ``batch_id``, rows land under ``dest=<d>/_batch=<id>/`` and that
    partition is REPLACED — a replayed batch (checkpoint uncommitted →
    foreachBatch re-invoked with the SAME batch_id) rewrites exactly its
    own partitions instead of appending duplicates.  That upgrades the
    file output from at-least-once to effectively-once CONTENTS.
    Without a batch_id (plain batch use) it appends, as before.

    Two tiers write the same layout (``read_current`` / ``compact``
    read either back identically).  Given a DataFrame: one
    executor-parallel job with DYNAMIC partition overwrite.  Given a
    ``pyarrow.Table`` (what ``Pipeline`` passes for a batch under
    ``ARROW_TIER_MAX_RESULT_FRACTION`` of ``spark.driver.maxResultSize``,
    on a filesystem pyarrow opens): one ``write_batch_partition`` per
    destination directory.
    """

    def __init__(self, base_path: str) -> None:
        self.base_path = base_path

    def arrow_target(self, spark: SparkSession):
        """``arrow_filesystem`` of base_path, resolved once per sink: the
        py4j calls behind it take ~0.6 ms, which every batch would pay."""
        if not hasattr(self, "_arrow_target"):
            self._arrow_target = arrow_filesystem(spark, self.base_path)
        return self._arrow_target

    def write(
        self, df: DataFrame, default_dest: str, batch_id: int | None = None
    ) -> None:
        if not isinstance(df, DataFrame):
            self._write_arrow(df, default_dest, batch_id)
            return
        dest_col = F.coalesce(F.col("dest"), F.lit(default_dest))
        out = df.withColumn("dest", dest_col)
        if batch_id is None:
            out.write.mode("append").partitionBy("dest").parquet(self.base_path)
            return
        (
            out.withColumn("_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dest", "_batch")
            .parquet(self.base_path)
        )

    def _write_arrow(self, table, default_dest: str, batch_id: int) -> None:
        """Arrow tier: one partition replace per directory that Spark's
        own partition-path escaping gives.  Dest values that escape to
        one directory (NULL, '' and ``__HIVE_DEFAULT_PARTITION__``) are
        written together, as the Spark tier writes them."""
        import pyarrow as pa
        import pyarrow.compute as pc

        spark = SparkSession.active()
        dest = table["dest"]
        if default_dest is not None:
            dest = pc.fill_null(dest, default_dest)
        body = table.drop_columns(["dest"])
        paths = _jvm_class(
            spark, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils"
        )
        target = self.arrow_target(spark)
        groups: dict[str, list] = {}
        for d in pc.unique(dest).to_pylist():
            groups.setdefault(paths.getPartitionPathString("dest", d), []).append(d)
        for path, ds in groups.items():
            write_batch_partition(
                target,
                f"{path}/_batch={int(batch_id)}",
                body.filter(pc.is_in(dest, value_set=pa.array(ds, dest.type))),
                batch_id,
            )

    # -------------------------------------------------- compaction
    # Manifest/generation protocol — NO directory renames anywhere, so
    # it is exactly as safe on an object store (S3/GCS/ABFS, where
    # "rename" is a non-atomic copy+delete) as on HDFS/local:
    #
    #   1. compacted rows are APPENDED under a fresh negative
    #      ``_batch=<gen>`` partition (−1, −2, … per compaction run);
    #   2. the compaction COMMITS by atomically publishing
    #      ``_compaction_manifest.json`` (one single-object PUT — atomic
    #      on object stores by the store's own contract, single-block
    #      create+close on HDFS);
    #   3. the folded per-batch directories are deleted afterwards,
    #      resumably — a crash at ANY point leaves readers correct:
    #      an unpublished generation is invisible (not in ``live_gens``)
    #      and an undeleted folded batch is excluded (in ``folded``).
    #
    # ``read_current`` is the manifest-aware reader; the next compact()
    # run garbage-collects whatever a crash left behind.
    _MANIFEST = "_compaction_manifest.json"
    _LOCK = "_compaction.lock"
    LOCK_TTL_SECONDS = 3600.0

    def _fs(self, spark: SparkSession):
        return _hadoop_fs(spark, self.base_path)

    def _read_manifest(self, spark: SparkSession) -> dict:
        fs, Path = self._fs(spark)
        p = Path(f"{self.base_path}/{self._MANIFEST}")
        if not fs.exists(p):
            return {"live_gens": [], "folded": []}
        stream = fs.open(p)
        try:
            txt = _jvm_class(spark, "org.apache.commons.io.IOUtils").toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(txt)

    def _write_manifest(self, spark: SparkSession, manifest: dict) -> None:
        fs, Path = self._fs(spark)
        out = fs.create(Path(f"{self.base_path}/{self._MANIFEST}"), True)
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()

    def read_current(self, spark: SparkSession) -> DataFrame:
        """Manifest-aware batch read: the current contents of the sink,
        correct even mid-compaction or after a compaction crash
        (uncommitted generations and already-folded batches filtered
        out).  The filter is on the ``_batch`` partition column, so it
        prunes directories — excluded data is never scanned.  Parquet
        readers that ignore the manifest (plain ``spark.read``) are only
        guaranteed duplicate-free OUTSIDE a compaction window."""
        df = spark.read.parquet(self.base_path)
        if "_batch" not in df.columns:  # plain-append layout: no batches
            return df
        m = self._read_manifest(spark)
        # negative ids are RESERVED for generations and only valid once
        # committed to live_gens — so an uncommitted generation is
        # excluded even when no manifest exists yet (a crash during the
        # first-ever compaction's data write).
        live = F.col("_batch") >= 0
        if m["folded"]:
            live &= ~F.col("_batch").isin([int(b) for b in m["folded"]])
        if m["live_gens"]:
            live |= F.col("_batch").isin([int(g) for g in m["live_gens"]])
        return df.where(live)

    def _acquire_lock(self, spark: SparkSession) -> None:
        """Best-effort mutual exclusion for compact() runs.

        Two compactions interleaving on one base_path would both append
        into the SAME new generation dir (append mode) and then commit
        it — duplicating every folded row inside a live generation, the
        one corruption the crash-window protocol cannot undo.  The lock
        makes the second runner a CLEAN LOSER instead.  Acquisition is
        scheme-aware: local paths use ``os.open(O_CREAT|O_EXCL)`` (a
        true kernel-level atomic create — Hadoop's RawLocalFileSystem
        ``create(overwrite=False)`` is check-then-create and two racers
        can BOTH pass the check); HDFS uses ``fs.create(overwrite=False)``
        (atomic on the NameNode) plus a unique-token read-back so even a
        non-atomic store demotes a double-acquire to at most one
        survivor.  Object stores without conditional create remain
        best-effort — there, run compact from a single maintenance
        scheduler, the same operational rule Delta/Iceberg state for
        their non-locking stores.  A crash leaves a stale lock; holders
        older than ``LOCK_TTL_SECONDS`` are broken and taken over.
        """
        import errno
        import os
        import time
        import uuid

        local = self._local_lock_path()
        if local is not None:
            # kernel-atomic path: O_EXCL cannot double-acquire
            for _ in range(2):  # second pass after breaking a stale lock
                try:
                    fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, b"compact")
                    os.close(fd)
                    return
                except OSError as exc:
                    if exc.errno != errno.EEXIST:
                        raise
                    try:
                        age_s = time.time() - os.path.getmtime(local)
                    except OSError:
                        continue  # holder just released — retry create
                    if age_s < self.LOCK_TTL_SECONDS:
                        raise CompactionInProgressError(
                            f"another compact() holds {local} (age {age_s:.0f}s "
                            f"< ttl {self.LOCK_TTL_SECONDS:.0f}s); this run "
                            "loses cleanly — retry after it finishes, or "
                            "delete the lock if its holder is known dead"
                        ) from None
                    try:
                        os.unlink(local)  # stale: break it and take over
                    except OSError:
                        pass
            raise CompactionInProgressError(f"lost the race for {local}")

        fs, Path = self._fs(spark)
        p = Path(f"{self.base_path}/{self._LOCK}")
        try:
            if fs.exists(p):
                age_s = (
                    time.time() - fs.getFileStatus(p).getModificationTime() / 1000.0
                )
                if age_s < self.LOCK_TTL_SECONDS:
                    raise CompactionInProgressError(
                        f"another compact() holds {self.base_path}/{self._LOCK} "
                        f"(age {age_s:.0f}s < ttl {self.LOCK_TTL_SECONDS:.0f}s); "
                        "this run loses cleanly — retry after it finishes, or "
                        "delete the lock if its holder is known dead"
                    )
                fs.delete(p, False)  # stale: break it and take over
        except CompactionInProgressError:
            raise
        except Exception:
            # the lock vanished between exists/stat (holder just
            # released) — treat as absent and contend on create below,
            # whose overwrite=False is the actual atomicity point
            pass
        token = uuid.uuid4().hex.encode()
        try:
            out = fs.create(p, False)  # overwrite=False → atomic loser
            try:
                out.write(bytearray(token))
            finally:
                out.close()
        except Exception as exc:
            raise CompactionInProgressError(
                f"lost the race for {self.base_path}/{self._LOCK}: {exc}"
            ) from exc
        # read-back verify: if the store's create was NOT conditional and
        # two racers both "won", the lock file holds exactly one token —
        # the other racer self-demotes to a clean loser here.
        time.sleep(0.05)
        try:
            stream = fs.open(p)
            try:
                seen = bytes(stream.readAllBytes())
            finally:
                stream.close()
        except Exception:
            seen = token  # unreadable → keep the optimistic claim
        if seen != token:
            raise CompactionInProgressError(
                f"lost the race for {self.base_path}/{self._LOCK}: "
                "token read-back shows another holder"
            )

    def _local_lock_path(self) -> "str | None":
        """Filesystem path of the lock when base_path is local, else None."""
        base = self.base_path
        if base.startswith("file:"):
            from urllib.parse import urlparse

            base = urlparse(base).path
        elif "://" in base:
            return None
        return os.path.join(base, self._LOCK)

    def _release_lock(self, spark: SparkSession) -> None:
        fs, Path = self._fs(spark)
        fs.delete(Path(f"{self.base_path}/{self._LOCK}"), False)

    def compact(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 1_000_000,
        max_batch: int | None = None,
    ) -> None:
        """Maintenance: fold accumulated per-batch directories into few
        large files (the OPTIMIZE step every per-trigger file sink needs
        at scale — a day of 1-minute triggers is 1,440 batch dirs per
        dest, and small files destroy downstream scan throughput).
        Protocol above: append a new generation, commit via one atomic
        manifest PUT, then delete folded dirs — rename-free, crash-safe,
        object-store-safe.  Run from maintenance windows, not inside the
        trigger path.

        ``max_batch`` folds only batches ≤ it (previous generations are
        always re-folded).  Batches arriving DURING the run are pinned
        out by the initial listing and survive untouched.

        WARNING (ChainSource interplay): compaction rewrites rows into
        NEW files, and any file-stream reader of this base_path (a
        downstream ``ChainSource``) tracks seen FILES in its checkpoint
        — it would re-ingest every compacted row as a duplicate.  Never
        compact a base_path a ChainSource consumes; if batch history
        must be reclaimed under a live downstream, use ``max_batch`` ≤
        the newest batch the downstream has committed AND accept that
        the downstream must dedup on message id.  Likewise run compact
        only after the upstream pipeline's checkpoint has committed its
        final batch — folding a batch that later replays would
        resurrect it as a duplicate of the compacted copy.

        Concurrent compact() calls on one base_path: exactly one
        proceeds; the others raise :class:`CompactionInProgressError`
        (see ``_acquire_lock`` — two interleaved runs would otherwise
        both append into the same generation dir and commit duplicates).
        """
        self._acquire_lock(spark)
        try:
            self._compact_locked(spark, target_rows_per_file, max_batch)
        finally:
            self._release_lock(spark)

    def _compact_locked(
        self,
        spark: SparkSession,
        target_rows_per_file: int,
        max_batch: int | None,
    ) -> None:
        fs, Path = self._fs(spark)
        m = self._read_manifest(spark)
        folded, live_gens = set(m["folded"]), set(m["live_gens"])

        statuses = fs.globStatus(Path(f"{self.base_path}/dest=*/_batch=*")) or []
        dirs: dict[int, list] = {}
        for st in statuses:
            p = st.getPath()
            dirs.setdefault(int(p.getName().split("=", 1)[1]), []).append(p)

        # 0. recovery: drop whatever a crashed run left — folded batch
        # dirs that were never deleted, generation dirs never committed.
        for bid in [b for b in dirs if b in folded or (b < 0 and b not in live_gens)]:
            for p in dirs.pop(bid):
                fs.delete(p, True)

        to_fold = sorted(
            b
            for b in dirs
            if (b >= 0 and (max_batch is None or b <= max_batch)) or b in live_gens
        )
        if not to_fold:
            return
        in_paths = [p.toString() for b in to_fold for p in dirs[b]]
        cur = spark.read.option("basePath", self.base_path).parquet(*in_paths)
        n = cur.count()
        files = max(1, -(-n // target_rows_per_file))
        gen = min(live_gens, default=0) - 1

        # 1. append the new generation (invisible until the manifest
        # commits — readers key on live_gens, not directory presence)
        (
            cur.drop("_batch")
            .withColumn("_batch", F.lit(int(gen)))
            .repartition(files)
            .write.mode("append")
            .partitionBy("dest", "_batch")
            .parquet(self.base_path)
        )
        # 2. commit: one atomic manifest object
        folded = (folded | set(to_fold)) - {gen}
        live_gens = (live_gens - set(to_fold)) | {gen}
        self._write_manifest(
            spark, {"live_gens": sorted(live_gens), "folded": sorted(folded)}
        )
        # 3. delete folded dirs (resumable — step 0 of the next run
        # finishes the job if this crashes).  The folded list is kept in
        # the manifest FOREVER (small ints, trivial JSON): if an
        # upstream batch that was uncommitted at compact time later
        # REPLAYS, its dynamic overwrite re-creates a folded
        # ``_batch=N`` dir whose rows already live in the generation —
        # the retained entry keeps the replay excluded instead of
        # duplicated, and the next compact() deletes the dir.
        # (Corollary: never reset a pipeline's checkpoint so batch ids
        # restart at 0 against a compacted sink — recycled ids would
        # collide with folded history; reset the sink with it.)
        for b in to_fold:
            for p in dirs[b]:
                fs.delete(p, True)


class KafkaSink:
    """Kafka ecosystem sink (frizzle.go:27-29): dest column → topic.

    ``to_wire`` is the broker-free unit-testable half: envelope →
    (key, value, topic) exactly as the kafka writer expects them.
    """

    def __init__(self, brokers: str, default_topic: str) -> None:
        self.brokers = brokers
        self.default_topic = default_topic

    def to_wire(self, df: DataFrame, default_dest: str) -> DataFrame:
        """ENVELOPE → Kafka writer columns; dest routes the topic
        (frizzle.go:115-123's Send(m, dest)), falling back to the
        pipeline default then the sink's default topic."""
        return df.select(
            F.encode(F.col("id"), "UTF-8").alias("key"),
            F.col("data").alias("value"),
            F.coalesce(F.col("dest"), F.lit(default_dest or self.default_topic)).alias(
                "topic"
            ),
        )

    def write(
        self, df: DataFrame, default_dest: str, batch_id: int | None = None
    ) -> None:
        (
            self.to_wire(df, default_dest)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", self.brokers)
            .save()
        )


class KinesisSink:
    """Kinesis ecosystem sink (declared type, frizzle.go:33-34; the
    reference's implementation lives in the sibling repo frinesis —
    ours likewise delegates the wire to an external connector).

    ``to_wire`` is the connector-free unit-testable half: envelope →
    the PutRecords shape (data, partitionKey, streamName), with dest
    routing the stream exactly as KafkaSink routes the topic."""

    def __init__(self, region: str, default_stream: str) -> None:
        self.region = region
        self.default_stream = default_stream

    def to_wire(self, df: DataFrame, default_dest: str) -> DataFrame:
        """ENVELOPE → Kinesis PutRecords columns; dest routes the
        stream (frizzle.go:115-123's Send(m, dest)), falling back to
        the pipeline default then the sink's default stream."""
        return df.select(
            F.col("data").alias("data"),
            F.col("id").cast("string").alias("partitionKey"),
            F.coalesce(
                F.col("dest"), F.lit(default_dest or self.default_stream)
            ).alias("streamName"),
        )

    def write(
        self, df: DataFrame, default_dest: str, batch_id: int | None = None
    ) -> None:
        try:
            (
                self.to_wire(df, default_dest)
                .write.format("kinesis")
                .option("region", self.region)
                .save()
            )
        except Exception as exc:  # connector not on classpath
            raise NotImplementedError(
                "Kinesis needs the spark-sql-kinesis connector on the "
                "classpath (spark-submit --packages ...); not bundled here"
            ) from exc


# --------------------------------------------------------------- pipeline
class Pipeline:
    """``Init(source, sink, opts...)`` equivalent (frizzle.go:53-79).

    Usage::

        p = Pipeline(spark, source, sink,
                     fail_sink=(dlq_sink, "dead-letter"),
                     transformers=[sep_transformer(b"\\n")],
                     process=my_df_fn,            # the user loop
                     fail_predicate=F.col(...),   # rows that Fail()
                     stats=DictStats())
        q = p.start()          # begins consume
        p.stop(flush_timeout)  # FlushAndClose
    """

    def __init__(
        self,
        spark: SparkSession,
        source: Any,
        sink: Any,
        *,
        default_dest: str = "out",
        fail_sink: tuple[Any, str] | None = None,
        transformers: list[Transformer] | None = None,
        process: Callable[[DataFrame], DataFrame] | None = None,
        fail_predicate: Any = None,
        stats: M.StatsIncrementer | None = None,
        checkpoint_dir: str | None = None,
        monitor_rate: bool = False,
        drop_unrouted: bool = False,
    ) -> None:
        self.spark = spark
        self.source = source
        self.sink = sink
        self.default_dest = default_dest
        self.fail_sink = fail_sink
        self.transformers = transformers or []
        self.process = process
        self.fail_predicate = fail_predicate
        self.stats = stats or M.NoopStats()
        # reference semantics: a processed Msg may be Acked without ever
        # being Sent (frizzle_integration_test.go:26-45 acks upper-case
        # msgs without forwarding).  With drop_unrouted, ok-rows whose
        # dest is NULL are acked (batch commit) but skipped by the sink.
        self.drop_unrouted = drop_unrouted
        self.checkpoint_dir = checkpoint_dir or scratch_ckpt_dir("frizzle-ckpt-")
        self.query: StreamingQuery | None = None
        self.listener: M.PipelineListener | None = None
        if monitor_rate:
            self.listener = M.PipelineListener(self.stats)
            spark.streams.addListener(self.listener)

    # ≙ Receive() (frizzle.go:110-112): the post-receive-transform stream
    def stream(self) -> DataFrame:
        df = self.source.load(self.spark)
        return chain([t.receive for t in self.transformers], df)

    def _run_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # One micro-batch ≙ one slice of the consume loop.  Checkpoint
        # commit after this returns ≙ Ack for every routed row.
        # Persisted for both tiers: every job then scans the source once,
        # so the progress record's numInputRows counts each row once.
        batch_df = batch_df.persist()
        try:
            if not (
                self._arrow_tier(batch_df) and self._route(batch_df, batch_id, True)
            ):
                self._route(batch_df, batch_id, arrow=False)
        finally:
            batch_df.unpersist()

    def _arrow_tier(self, batch_df: DataFrame) -> bool:
        """Every sink is a ParquetSink pyarrow opens, and the input plan's
        sizeInBytes (a file index holds its file sizes; an unknown size,
        as on Kafka, reads as the default statistic) is under
        ``ARROW_TIER_MAX_RESULT_FRACTION`` of maxResultSize (1g if 0)."""
        sinks = [self.sink] + ([self.fail_sink[0]] if self.fail_sink else [])
        if not all(
            isinstance(s, ParquetSink) and s.arrow_target(self.spark)
            for s in sinks
        ):
            return False
        size = int(batch_df._jdf.queryExecution().analyzed().stats().sizeInBytes())
        jss = self.spark._jsparkSession
        max_result = jss.sparkContext().conf().getSizeAsBytes(
            "spark.driver.maxResultSize", "1g"
        )
        return size < jss.sessionState().conf().defaultSizeInBytes() and (
            size < ARROW_TIER_MAX_RESULT_FRACTION * (max_result or 1 << 30)
        )

    def _route(self, batch_df: DataFrame, batch_id: int, arrow: bool) -> bool:
        """Route one batch to the sink and the DLQ; both tiers build one
        plan whose counters ride one observe node.  The Spark tier writes
        each side as its own job.  The Arrow tier collects
        ``chain(send, ok) ∪ failed`` (rows tagged ``_fail``) in ONE job;
        it returns False, having written nothing, when a send transform
        changed a column type the union would widen or the collect
        overflowed ``spark.driver.maxResultSize``."""
        df = self.process(batch_df) if self.process else batch_df
        # NULL-normalize the fail predicate ONCE: a predicate over a
        # nullable column evaluates NULL on some rows, and both
        # filter(p) and filter(~p) drop NULL — the row would silently
        # land in neither the sink nor the DLQ.  NULL ≙ not failed,
        # so the {sink, DLQ} partition invariant (common/unacked.go
        # contract) holds for every row.
        has_fail = self.fail_predicate is not None
        pred = (
            F.coalesce(self.fail_predicate.cast("boolean"), F.lit(False))
            if has_fail
            else F.lit(False)
        )

        # Zero extra jobs per batch: rcv/fail/unrouted counters ride the
        # batch's first job via a CollectMetrics (observe) node BELOW the
        # routing filters and send transforms (SURVEY §2.1/O19's
        # df.observe mapping).  Guard (same observe): when the sink and
        # the DLQ share one ParquetSink base, an ok-row routed to
        # dest == dlq_dest would be silently DELETED by the DLQ's
        # overwrite of that (dest, _batch) partition — fail instead.
        dlq_dest = self.fail_sink[1] if self.fail_sink is not None else None
        dlq_shares_storage = (
            self.fail_sink is not None
            and isinstance(self.sink, ParquetSink)
            and isinstance(self.fail_sink[0], ParquetSink)
            and self.fail_sink[0].base_path == self.sink.base_path
        )
        collide = (
            F.count(
                F.when(
                    ~pred
                    & (
                        F.coalesce(F.col("dest"), F.lit(self.default_dest))
                        == F.lit(dlq_dest)
                    ),
                    True,
                )
            )
            if dlq_shares_storage
            else F.count(F.lit(None))
        )
        obs = Observation(f"frizzle-batch-{batch_id}")
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rcv"),
            F.count(F.when(pred, True)).alias("fail"),
            F.count(F.when(~pred & F.col("dest").isNull(), True)).alias("unrouted"),
            collide.alias("collide"),
        )
        failed = (
            df.filter(pred).withColumn("dest", F.lit(dlq_dest))
            if has_fail and self.fail_sink is not None
            else None
        )
        ok = df.filter(~pred) if has_fail else df

        to_send = ok.where(F.col("dest").isNotNull()) if self.drop_unrouted else ok
        to_send = chain([t.send for t in self.transformers], to_send)

        def counts() -> dict:
            c = obs.get  # resolved by the batch's first job
            if dlq_shares_storage and c["collide"]:
                raise ValueError(
                    f"batch {batch_id}: {c['collide']} ok-row(s) routed to "
                    f"dest={dlq_dest!r}, which is also the DLQ destination on the "
                    "SAME ParquetSink base — the DLQ's partition overwrite would "
                    "silently delete them.  Use a distinct DLQ base_path or dest."
                )
            return c

        if arrow:
            import pyarrow.compute as pc

            both = to_send.withColumn("_fail", F.lit(False))
            if failed is not None:
                types = {f.name: f.dataType for f in failed.schema}
                sent = to_send.schema
                if any(types.get(f.name, f.dataType) != f.dataType for f in sent):
                    return False
                both = both.unionByName(
                    failed.withColumn("_fail", F.lit(True)), allowMissingColumns=True
                )
            try:
                tb = both.toArrow()
            except Py4JJavaError as exc:
                if "maxResultSize" not in str(exc):
                    raise
                return False
            counts()  # a collision fails the batch before anything is written
            to_send = tb.filter(pc.invert(tb["_fail"])).select(to_send.columns)
            if failed is not None:
                failed = tb.filter(tb["_fail"]).select(failed.columns)

        self.sink.write(to_send, self.default_dest, batch_id=batch_id)
        c = counts()
        n_rcv, n_fail = c["rcv"], c["fail"]
        n_ok = n_rcv - n_fail
        n_send = n_ok - c["unrouted"] if self.drop_unrouted else n_ok
        self.stats.increment(M.RCV, n_rcv)
        self.stats.increment(M.SEND, n_send)
        self.stats.increment(M.ACK, n_ok)

        if has_fail and n_fail:
            self.stats.increment(M.FAIL, n_fail)
            if failed is not None:
                self.fail_sink[0].write(failed, dlq_dest, batch_id=batch_id)
                self.stats.increment(M.FAILSEND, n_fail)
        return True

    # ≙ Init's consume goroutine start (frizzle.go:72-74)
    def start(
        self,
        trigger: dict[str, Any] | None = None,
        query_name: str | None = None,
    ) -> StreamingQuery:
        out = chain([t.receive for t in self.transformers], self.source.load(self.spark))
        writer = (
            out.writeStream.foreachBatch(self._run_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(query_name or f"frizzle-{uuid.uuid4().hex[:8]}")
        )
        trigger = trigger or {"availableNow": True}
        writer = writer.trigger(**trigger)
        self.query = writer.start()
        return self.query

    # ≙ FlushAndClose (frizzle.go:152-179): drain, then stop.
    #
    # Straggler divergence (documented, SURVEY §2.1/O14): the reference
    # Fails → DLQ messages still un-acked when the timeout fires
    # (frizzle.go:160-175).  Here a micro-batch is atomic — if the
    # timeout interrupts an uncommitted batch, ALL its rows are
    # redelivered on restart (at-least-once) rather than Failed; routing
    # them to the DLQ at timeout would deliver them twice (DLQ now +
    # main sink after checkpoint replay).
    def stop(self, flush_timeout: float = DEFAULT_FLUSH_SECONDS) -> None:
        if self.query is None:
            return
        try:
            self.query.awaitTermination(flush_timeout)
        finally:
            if self.query.isActive:
                self.query.stop()
            if self.listener is not None:
                self.spark.streams.removeListener(self.listener)

    # ≙ HandleShutdown (options.go:105-135)
    def handle_shutdown(
        self,
        app_shutdown: Callable[[], None] | None = None,
        flush_timeout: float = DEFAULT_FLUSH_SECONDS,
    ) -> None:
        def _handler(signum, frame):
            self.stop(flush_timeout)
            if app_shutdown:
                app_shutdown()

        signal.signal(signal.SIGINT, _handler)
        signal.signal(signal.SIGTERM, _handler)
