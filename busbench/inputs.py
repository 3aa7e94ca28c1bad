"""Deterministic workload inputs: the same seed gives the same files.

Every workload is a list of slices (one landed file each) in phases:
one ``warm`` slice, an optional ``pre`` backlog drained before the
clock starts, the ``settle`` and ``live`` slices landed on one fixed
schedule (only ``live`` is measured), the ``drain`` backlog landed at
once, and, traced only, ``maint`` slices.  Ids rise with the
schedule, so a planted duplicate always has a larger id than the record
it copies and the min-id survivor rule keeps the original.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SEP = b"\n"
FAIL_PRIO = 0  # bus records with prio == FAIL_PRIO go to the DLQ
EMB_DIM = 384  # a common sentence-embedding width


@dataclass(frozen=True)
class Shape:
    """Per-workload sizing.  ``interval_s`` is the live file cadence;
    ``max_files_per_trigger`` is the bus's own rate limit."""

    warm_rows: int
    live_rows_per_file: int
    interval_s: float
    drain_files: int
    drain_rows_per_file: int
    max_files_per_trigger: int
    # curate: compact after the micro-batch whose input takes the bus
    # past each multiple of this many records.  A cadence in records,
    # not batches, puts the same number of compactions in each phase
    # however fast the host runs the batches
    compact_every_rows: int = 0
    pre_files: int = 0  # untimed backlog drained between warm-up and live
    pre_rows_per_file: int = 0
    # live-rate files landed just before the measured live files and not
    # measured: a fresh JVM's first micro-batches take ~2x their steady
    # time while the JIT compiles the per-batch path
    settle_files: int = 0
    # traced runs only: one file per entry, landed one at a time after a
    # compaction that follows the drain
    maint_rows: tuple[int, ...] = ()


# The live phase lands a fraction of the drain rate, and the file cap
# leaves room for seconds of live arrivals in one micro-batch, so a slow
# host delays the bus without tipping it into a growing backlog.
SHAPES = {
    # 2.5k events/s in 250 ms files, an eighth of the drain rate, so the
    # live phase measures the per-micro-batch fixed cost; the file cap
    # leaves room for 4 s of arrivals, as a contended host stretched the
    # bus's per-batch cost to 3 s; the drain spans 6 micro-batches
    "bus": Shape(5000, 625, 0.25, 96, 1250, 16, settle_files=16),
    # 100 docs/s in 250 ms crawl slices; the 800-doc drain spans 2
    # micro-batches.  4 s of settling and a 10 s live phase end at 1,500
    # docs, so the compaction falls in the drain's first batch (1,900
    # docs) and the live phase never waits on it
    "curate": Shape(100, 25, 0.25, 16, 50, 8, compact_every_rows=1800,
                    settle_files=16),
    # 200 vectors/s in 200 ms slices, a fifth of the drain rate, over an
    # index preloaded with 18.5k vectors, so it crosses the 64 MiB
    # young-tier cap (~17k indexed vectors at dim 384 in per-batch
    # append files) a second or two into the live phase; the file cap
    # leaves room for 3.2 s of arrivals; the drain spans 4 micro-batches.
    # Traced, a retrain compaction follows the drain, then a local batch
    # meets the cold cache and a batch above EMB_LOCAL_MAX_VECS (16,384)
    # takes the distributed twin
    "embed": Shape(200, 40, 0.2, 64, 125, 16, pre_files=37,
                   pre_rows_per_file=500, maint_rows=(1000, 17000)),
}


@dataclass
class Slice:
    phase: str  # warm | pre | settle | live | drain | maint
    index: int
    table: pa.Table  # without the due-time column

    @property
    def name(self) -> str:
        return f"{self.phase}-{self.index:05d}.parquet"


@dataclass
class Inputs:
    workload: str
    shape: Shape
    slices: list[Slice]
    # bus: ids whose prio routes them to the DLQ; curate/embed: planted
    # duplicate id -> the id it copies
    planted: dict = field(default_factory=dict)

    def phase(self, name: str) -> list[Slice]:
        return [s for s in self.slices if s.phase == name]

    def rows(self, phase: str | None = None) -> int:
        return sum(s.table.num_rows for s in self.slices
                   if phase is None or s.phase == phase)


def n_live_files(shape: Shape, live_s: float) -> int:
    return max(1, int(round(live_s / shape.interval_s)))


def make(workload: str, seed: int, live_s: float, traced: bool) -> Inputs:
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    sizes = (
        [("warm", shape.warm_rows)]
        + [("pre", shape.pre_rows_per_file)] * shape.pre_files
        + [("settle", shape.live_rows_per_file)] * shape.settle_files
        + [("live", shape.live_rows_per_file)] * n_live_files(shape, live_s)
        + [("drain", shape.drain_rows_per_file)] * shape.drain_files
        + [("maint", n) for n in (shape.maint_rows if traced else ())]
    )
    build = {"bus": _bus, "curate": _curate, "embed": _embed}[workload]
    return build(workload, shape, sizes, rng)


def _slices(sizes) -> list[tuple[str, int, int, int]]:
    """(phase, index within phase, first id, rows) per slice."""
    out, first, seen = [], 0, {}
    for phase, n in sizes:
        i = seen.get(phase, 0)
        seen[phase] = i + 1
        out.append((phase, i, first, n))
        first += n
    return out


# ------------------------------------------------------------------- bus
def _bus(workload, shape, sizes, rng) -> Inputs:
    slices, planted = [], {}
    for phase, i, first, n in _slices(sizes):
        ids = np.arange(first, first + n, dtype=np.int64)
        lens = rng.integers(40, 120, size=n)
        body = rng.integers(97, 123, size=int(lens.sum()), dtype=np.uint8)
        # half the payloads already end in the separator: the receive
        # transform strips it and the send transform puts it back
        with_sep = rng.random(n) < 0.5
        ends = np.cumsum(lens)
        body[ends[with_sep] - 1] = SEP[0]
        offsets = np.concatenate([[0], ends]).astype(np.int32)
        data = pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(body)]
        )
        dest_pick = rng.random(n)
        dest = pa.array(
            np.where(dest_pick < 0.15, "a", np.where(dest_pick < 0.3, "b", "")),
            pa.string(),
        )
        dest = pc.if_else(pc.equal(dest, ""), pa.scalar(None, pa.string()), dest)
        prio = rng.integers(0, 32, size=n).astype(np.int32)
        for d in ids[prio == FAIL_PRIO]:
            planted[str(int(d))] = True
        slices.append(Slice(phase, i, pa.table({
            "id": pc.cast(pa.array(ids), pa.string()),
            "data": data,
            "dest": dest,
            "prio": pa.array(prio),
        })))
    return Inputs(workload, shape, slices, planted)


# ---------------------------------------------------------------- curate
VOCAB = 50_000
ZIPF_S = 1.1
DUP_FRAC = 0.1
EDIT_FRAC = 0.03


def _words() -> np.ndarray:
    """Word of each Zipf rank: the bijective base-26 spelling of the
    rank, so frequent words are short (a 300-word doc is ~1.2 KB)."""
    out = []
    for k in range(VOCAB):
        w, k = "", k + 1
        while k:
            k, r = divmod(k - 1, 26)
            w = chr(97 + r) + w
        out.append(w)
    return np.array(out, dtype=object)


def _curate(workload, shape, sizes, rng) -> Inputs:
    words = _words()
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), VOCAB - 1)

    slices, planted = [], {}
    words_of: dict[int, np.ndarray] = {}  # unplanted doc -> word ranks
    accepted: list[int] = []  # unplanted docs of earlier slices
    for phase, i, first, n in _slices(sizes):
        ids = list(range(first, first + n))
        own: list[int] = []  # unplanted docs of this slice
        for d in ids:
            if phase != "warm" and rng.random() < DUP_FRAC and (own or accepted):
                # edit of an earlier unplanted doc, in this slice or before
                pool = own if own and (not accepted or rng.random() < 0.5) else accepted
                orig = pool[int(rng.integers(0, len(pool)))]
                w = words_of[orig].copy()
                k = max(1, int(len(w) * EDIT_FRAC))
                w[rng.choice(len(w), size=k, replace=False)] = draw(k)
                planted[d] = orig
                words_of[d] = w
            else:
                length = int(np.clip(rng.lognormal(5.6, 0.5), 80, 900))
                words_of[d] = draw(length)
                own.append(d)
        accepted.extend(own)
        text = [" ".join(words[words_of[d]].tolist()) for d in ids]
        for d in ids:
            if d in planted:
                del words_of[d]
        slices.append(Slice(phase, i, pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(text, pa.string()),
        })))
    return Inputs(workload, shape, slices, planted)


# ----------------------------------------------------------------- embed
NEAR_COPY_SIGMA = 0.01  # per-dim noise: cosine to the original ~0.98


def _embed(workload, shape, sizes, rng) -> Inputs:
    slices, planted = [], {}
    pool = np.empty((0, EMB_DIM), dtype=np.float32)  # unplanted so far
    pool_ids = np.empty(0, dtype=np.int64)
    for phase, i, first, n in _slices(sizes):
        v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
        ids = np.arange(first, first + n, dtype=np.int64)
        dup = (rng.random(n) < DUP_FRAC) if phase != "warm" else np.zeros(n, bool)
        dup[0] = False
        for r in np.nonzero(dup)[0]:
            # copy an earlier unplanted vector of this slice or before
            here = np.nonzero(~dup[:r])[0]
            if len(pool_ids) and (rng.random() < 0.5 or not len(here)):
                k = int(rng.integers(0, len(pool_ids)))
                src, orig = pool[k], int(pool_ids[k])
            else:
                k = int(here[rng.integers(0, len(here))])
                src, orig = v[k], int(ids[k])
            v[r] = src / np.linalg.norm(src) + NEAR_COPY_SIGMA * rng.standard_normal(
                EMB_DIM
            ).astype(np.float32)
            planted[int(ids[r])] = orig
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        pool = np.concatenate([pool, v[~dup]])
        pool_ids = np.concatenate([pool_ids, ids[~dup]])
        emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM)
        slices.append(Slice(phase, i, pa.table({
            "vec_id": pa.array(ids),
            "embedding": emb.cast(pa.list_(pa.float32())),
        })))
    return Inputs(workload, shape, slices, planted)
