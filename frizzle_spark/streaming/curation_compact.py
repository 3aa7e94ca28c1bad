"""Small-file compaction for the curation bus's corpus/DLQ sinks
(round 10, VERDICT r9 #9).

The bus writes one per-batch partition directory per sink per
micro-batch (`batch_id=N` — the idempotent-overwrite unit its
exactly-once protocol rides).  At real cadence that is the classic
streaming small-file problem: a day of 30 s triggers leaves ~2,880
directories per sink, and every ingest_assignment / corpus read pays
the listing + open storm.

Protocol — the same manifest/generation moves as ParquetSink.compact
(streaming/pipeline.py), re-based on the bus's ``batch_id`` partition
column, NO renames anywhere:

1. only batches ``<= committed_batch`` (the ingest_meta watermark) are
   foldable — an uncommitted batch can still be REDELIVERED and its
   partition overwritten, so it must keep its own directory;
2. folded rows are appended under a fresh NEGATIVE generation
   partition (``batch_id=-1, -2, …``);
3. the run COMMITS by atomically replacing ``_sink_manifest.json``
   (tmp + os.replace — same commit point as the ingest meta);
4. the folded positive directories are deleted afterwards, resumably.

Crash at any point leaves readers correct: an unpublished generation
is invisible (negative ids are excluded unless listed in
``live_gens``), an undeleted folded batch is excluded (listed in
``folded``).  After the delete step a PLAIN ``spark.read.parquet`` is
also exactly correct — the manifest-aware reader only matters inside a
crash window.

Scale shape: the fold runs on the driver with pyarrow, no Spark job.
It streams the foldable batch files row group by row group, whether
pyarrow or Spark wrote them, through one ``ParquetWriter``: memory is
one row group and each generation is one file, as the ``coalesce(1)``
Spark write it replaces gave (a single task too).  Run it from the
bus's maintenance cadence (every K batches or nightly), never
concurrently with itself (single-writer bus, same operational rule as
the index compaction in operators/dedup.py).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SINK_MANIFEST = "_sink_manifest.json"


def _read_sink_manifest(sink_dir: str) -> dict:
    try:
        with open(os.path.join(sink_dir, SINK_MANIFEST)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"folded": [], "live_gens": []}


def _write_sink_manifest(sink_dir: str, m: dict) -> None:
    path = os.path.join(sink_dir, SINK_MANIFEST)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(m, fh)
    os.replace(tmp, path)


def _batch_dirs(sink_dir: str) -> list[int]:
    if not os.path.isdir(sink_dir):
        return []
    out = []
    for d in os.listdir(sink_dir):
        if d.startswith("batch_id="):
            out.append(int(d.split("=", 1)[1]))
    return sorted(out)


def read_sink_current(spark: SparkSession, sink_dir: str) -> DataFrame | None:
    """Manifest-aware read of one curation sink: correct mid-compaction
    and after a compaction crash (uncommitted generations and
    already-folded-but-undeleted batches filtered out; the filter is on
    the batch_id partition column, so exclusions prune directories).
    Returns None for a not-yet-created sink."""
    from frizzle_spark.streaming.curation import _read_sink_or_empty

    df = _read_sink_or_empty(spark, sink_dir)
    if df is None:
        return None
    m = _read_sink_manifest(sink_dir)
    live = F.col("batch_id") >= 0
    if m["folded"]:
        live &= ~F.col("batch_id").isin([int(b) for b in m["folded"]])
    if m["live_gens"]:
        live |= F.col("batch_id").isin([int(g) for g in m["live_gens"]])
    return df.where(live)


# The fold flushes its buffered input batches as one output row group
# once they reach this many bytes in memory.
_FOLD_RG_BYTES = 64 << 20


def _fold_batches(sink_dir: str, foldable: list[int], gen: int, cols) -> int:
    """Stream every row of the ``foldable`` batch dirs, cast to the
    sink's declared ``cols`` ((name, pyarrow type) pairs), into ONE file
    of a fresh ``batch_id=<gen>`` dir: any leftover dir of an
    uncommitted run is cleared first, the file is written under a
    hidden staged name and renamed into place.  Returns the rows
    folded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frizzle_spark.operators.dedup import _list_index_files

    schema = pa.schema(list(cols))
    names = schema.names
    gen_dir = os.path.join(sink_dir, f"batch_id={gen}")
    shutil.rmtree(gen_dir, ignore_errors=True)
    os.makedirs(gen_dir)
    name = f"part-{gen}.parquet"
    staged = os.path.join(gen_dir, f".{name}.{uuid.uuid4().hex}.staging")
    wanted = set(foldable)
    n = 0
    buf: list = []
    buf_bytes = 0
    with pq.ParquetWriter(staged, schema) as writer:
        for path, b in _list_index_files(sink_dir, "batch_id"):
            if b not in wanted:
                continue
            with pq.ParquetFile(path) as f:
                for rb in f.iter_batches(columns=names, use_threads=False):
                    buf.append(rb.select(names).cast(schema))
                    buf_bytes += rb.nbytes
                    n += rb.num_rows
                    if buf_bytes >= _FOLD_RG_BYTES:
                        writer.write_table(pa.Table.from_batches(buf, schema))
                        buf, buf_bytes = [], 0
        if buf:
            writer.write_table(pa.Table.from_batches(buf, schema))
    os.replace(staged, os.path.join(gen_dir, name))
    return n


def compact_curation_sinks(spark: SparkSession, out_base: str) -> dict:
    """Fold the committed per-batch partition directories of BOTH
    curation sinks into one fresh generation each (module doc).  The
    fold runs on the driver; ``spark`` is not used by it.  Returns
    per-sink {folded: n_dirs, rows: n} accounting."""
    from frizzle_spark.streaming.curation import (
        _CORPUS_COLS,
        _DLQ_COLS,
        _read_ingest_meta,
    )

    watermark = int(_read_ingest_meta(out_base).get("committed_batch", -1))
    stats: dict = {}
    for sink, cols in (("corpus", _CORPUS_COLS), ("dlq", _DLQ_COLS)):
        sink_dir = os.path.join(out_base, sink)
        m = _read_sink_manifest(sink_dir)
        # resume a crashed delete step: a crash between the manifest
        # commit and rmtree leaves batch dirs that the manifest already
        # folded — they are excluded from this run's foldable set, so
        # without this sweep a plain spark.read.parquet double-counts
        # their rows forever
        for b in set(m["folded"]) & set(_batch_dirs(sink_dir)):
            shutil.rmtree(
                os.path.join(sink_dir, f"batch_id={b}"), ignore_errors=True
            )
        batches = _batch_dirs(sink_dir)
        foldable = [
            b for b in batches
            if 0 <= b <= watermark and b not in set(m["folded"])
        ]
        if not foldable:
            stats[sink] = {"folded": 0, "rows": 0}
            continue
        gen = min([-1] + [g - 1 for g in m["live_gens"]])
        n = _fold_batches(sink_dir, foldable, gen, cols)
        # commit: the generation becomes live and the batches folded in
        # ONE atomic manifest replace
        _write_sink_manifest(
            sink_dir,
            {
                "folded": sorted(set(m["folded"]) | set(foldable)),
                "live_gens": sorted(m["live_gens"] + [gen]),
            },
        )
        # resumable cleanup; a crash here leaves excluded-by-manifest dirs
        for b in foldable:
            shutil.rmtree(
                os.path.join(sink_dir, f"batch_id={b}"), ignore_errors=True
            )
        stats[sink] = {"folded": len(foldable), "rows": n}
    return stats
