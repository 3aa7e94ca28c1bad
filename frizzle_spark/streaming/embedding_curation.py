"""Continuous EMBEDDING curation: cosine near-dup dedup + semantic
decontamination INSIDE the ingest bus — the ANN twin of the MinHash
curation bus (streaming/curation.py).

The MinHash bus curates on lexical overlap; this bus curates on the
embedding geometry: a stream of vector slices arrives, each micro-batch
is scored against everything already ACCEPTED (survivors only, never
raw history), cosine near-dups and eval-set-contaminated vectors route
to the DLQ with provenance, survivors land in the corpus sink AND join
a persisted IVF index (operators/ann_index.py layout — the SAME
centroids/lists directory scheme, so ``search_ivf_index`` works on the
bus's index unchanged).  Together the two buses are the text half and
the embedding half of the one pipeline the north star names
("dedup, similarity search … for LLM training data"); the reference's
bus shape (source → transform → route → ack, frizzle.go:53-79) carries
both.

Semantics — greedy first-occurrence-wins, mirroring the MinHash bus:

* a vector is ``contaminated`` iff its max cosine against the (small,
  broadcast) eval set reaches ``eval_threshold`` — the streaming form
  of qz11_semantic_decontaminate; the drop wins over every other rule
  (a contaminated vector is never indexed, never a survivor, never a
  ``dup_of`` target);
* a vector is a ``dup_index`` drop iff its cosine against any
  previously ACCEPTED vector reaches ``threshold`` — established by
  probing the persisted index (tiers below);
* within one batch, cosine near-dup components collapse to their
  min-vec_id member that is neither contaminated nor an index dup
  (``dup_batch`` drops point at that survivor);
* therefore NO TWO SURVIVORS are near-dups under the probe rule — the
  invariant the pytest gate recomputes exactly corpus-wide.

Probe tiers (the sub-linear story, same posture as the MinHash bus's
rowgroup probe):

* **cached cluster probe** (the driver tier): the probed clusters'
  (ids, matrix) blocks live in a per-cluster LRU driver cache
  (``_CLUSTER_CACHE``, byte budget ``EMB_CLUSTER_CACHE_MAX_BYTES``)
  coherence-checked by per-cluster manifest signature and extended in
  place on append — zero Spark jobs per batch.  While the lists are
  young (≤ ``EMB_PROBE_LOCAL_MAX_BYTES`` on disk) it probes every
  cluster, so the probe is exact; past that cap it probes each batch
  vector's ``nprobe`` nearest coarse clusters.  A working set over the
  budget falls back to:
* **broadcast pruned probe** (the Spark scale tier): the same centroid
  routing, but the lists scan prunes to exactly the probed
  ``cluster=…`` partitions at file-listing time, and a mapInPandas
  over the scan GEMMs each Arrow batch against only the sub-batch
  probing its cluster (batch matrix broadcast once).  THE INDEX SIDE
  NEVER SHUFFLES — zero exchanges before the ≤-batch-rows aggregation.
  Its hits equal the cached tier's (pytest-gated);
* probing is approximate above the young cap exactly as IVF search
  is: a true near-dup outside the probed clusters is missed.  That is
  the deliberate trade the MinHash estimator also makes; forcing
  ``nprobe="all"`` makes the probe EXACT and is how the identity gate
  pins both pruned tiers against ground truth.  Long-run index health
  is ``compact_ann_index(retrain=True)`` on a cadence: the fold
  rewrites every row anyway, so the coarse quantizer retrains to the
  CURRENT corpus size (k tracks √n instead of freezing at the
  bootstrap batch), with a loud guard for the interrupted-retrain
  window (probe refuses lists partitions ≥ k).

Exactly-once under restart/replay: identical protocol to the MinHash
bus — a committed-batch watermark in ``emb_ingest_meta.json`` (atomic
tmp+replace), per-batch partition directories written with overwrite,
replay of a committed batch is a no-op.  The index append sits between
the sink write and the meta commit; the crash window is benign because
the redelivered batch's probe EXCLUDES its own vec_ids from the index
side, and the per-cluster append files are named by
batch_id so a redelivered append overwrites itself instead of
duplicating.  ``index_meta.json``'s ``n_vectors`` is synced from the
COMMITTED ledger at commit time, so a crash between append and commit
cannot double-count.

Scale shape (100 TB): every micro-batch is decided by one driver-local
body over one Arrow collect of the whole batch, so driver memory is
O(batch) and within-batch scoring is O(batch²) GEMMs, never O(corpus).
The batch size is bounded by the caller: a trigger-bounded stream batch
(``maxFilesPerTrigger``) or a caller's slice (qz13_embedding_ingest's
N/4 slices grow with the corpus); a collect over
``spark.driver.maxResultSize`` fails the batch loudly before any write.
Per-batch cost is that collect + O(batch) normalize/assign GEMMs + the
pruned probe + the within-batch scoring.  Vectors never shuffle (they
move driver⇄storage once each way, as Arrow buffers: the collected
batch, the corpus and DLQ writes and the list and centroid files
convert to and from numpy matrices without a Python float per
element); the index grows only by survivors; state lives entirely in
storage (index + meta), not in stream state stores.  Small-file
accumulation from per-batch appends is the disease
``compact_ann_index`` (operators/ann_index.py) already cures — the
long-run harness folds it in on a cadence like the MinHash bus's
compaction.

No reference counterpart: frizzle persists nothing (its whole state is
in-memory channels, basic/source.go:34-53); this module is north-star
extension surface like the rest of the ANN tier.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EMB_INGEST_META = "emb_ingest_meta.json"

EMB_ASSIGNMENT_SCHEMA = (
    "vec_id long, dest string, reason string, dup_of long, cos_sim double"
)

# Cosine at/above which two embeddings are the same document for
# curation purposes.  0.9 on unit vectors is "near-identical" — the
# regime embedding dedup exists for (exact re-crawls, trivial edits);
# topical similarity lives far below it on any real model's geometry.
EMB_DUP_THRESHOLD = 0.9
# Streaming twin of qz11_semantic_decontaminate's τ.
EMB_DECON_THRESHOLD = 0.45

# Over-cap batch size: a batch above this many rows is reported as
# over-cap (busbench's ``embedding.distributed_batches``).  Every batch,
# over-cap or not, is decided by the same one-collect body.
EMB_LOCAL_MAX_VECS = 1 << 14
# Young-index cap: below this on-disk size of the lists the cached probe
# scans every cluster (exact, and the whole index fits the cluster
# cache); above it, each vector's nprobe nearest.  64 MiB ≈ 120k vectors
# at 64d float64.
EMB_PROBE_LOCAL_MAX_BYTES = 64 << 20
# Driver GEMM block edge: bounds any single scores matrix to
# BLOCK² ≈ 16 MB regardless of batch/index size.
_GEMM_BLOCK = 1 << 11


def _read_emb_meta(out_base: str) -> dict:
    try:
        with open(os.path.join(out_base, EMB_INGEST_META)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_emb_meta(out_base: str, meta: dict) -> None:
    os.makedirs(out_base, exist_ok=True)
    path = os.path.join(out_base, EMB_INGEST_META)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def _lists_bytes(index_base: str) -> int:
    """On-disk bytes of the lists tree — one directory walk, no file
    reads (the young cap's gate)."""
    total = 0
    for root, _dirs, files in os.walk(os.path.join(index_base, "lists")):
        for f in files:
            if f.endswith(".parquet"):
                total += os.stat(os.path.join(root, f)).st_size
    return total


def _arrow_matrix(col) -> np.ndarray:
    """float64 [n, d] matrix of the n non-empty rows of an Arrow list
    column, from one flatten of its value buffer.  NULL and empty rows
    are skipped and a NULL element reads as NaN, as ``np.asarray`` reads
    None; ragged rows raise ValueError, as in ``np.asarray``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    lens = lens[lens > 0]  # a NULL row's length reads NaN
    if not len(lens):
        return np.empty((0, 0))
    if lens.min() != lens.max():
        raise ValueError(f"ragged list rows: {lens.min():.0f}..{lens.max():.0f}")
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    return flat.reshape(len(lens), -1).astype(np.float64, copy=False)


def _list_column(mat: np.ndarray):
    """The rows of ``mat`` as an Arrow list<double> column over its
    buffer: the same column as ``pa.array`` of the rows as float lists."""
    import pyarrow as pa

    n, d = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)),
        pa.array(np.ascontiguousarray(mat, dtype=np.float64).ravel()),
    )


def _read_list_files(paths) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit matrix) of the (vec_id, u) list files ``paths``, in
    order, read driver-side via Arrow."""
    import pyarrow.parquet as pq

    ids, mats = [], []
    for p in paths:
        with pq.ParquetFile(p) as f:
            tb = f.read(columns=["vec_id", "u"], use_threads=False)
        if tb.num_rows == 0:
            continue
        ids.append(tb["vec_id"].to_numpy())
        mats.append(_arrow_matrix(tb["u"]))
    if not ids:
        return np.empty(0, dtype=np.int64), np.empty((0, 0))
    return np.concatenate(ids).astype(np.int64), np.vstack(mats)


# Per-cluster probe-block cache (r13, VERDICT r12 #9): past the young
# tier's byte cap the steady-state probe was a Spark job per micro-batch
# (_probe_index_pruned_broadcast) — measured on the long bus
# (EMB_LONGBUS.json at r12), per-batch wall climbed 0.55 s → 4.4 s once
# the index outgrew the 64 MiB cap, paying job launch + a pruned
# partition scan every batch for index bytes that had NOT changed since
# the previous batch.  This tier keeps the PROBED clusters' (ids, unit
# matrix) blocks in driver memory under an LRU byte budget, coherence-
# checked per cluster by a (file, size) manifest signature (appends,
# compaction, retrain and out-of-process writers all invalidate
# correctly); the appending batch extends its own touched blocks in
# place when nothing else changed them (``_cluster_cache_extend``).
# While the index is young every cluster is probed, so the cache holds
# the whole index.  Result identity with the broadcast tier is exact —
# same centroid routing, same exclude masking, same min-old_id hit
# semantics — and pytest-gated.  A batch whose probed
# working set exceeds the budget falls back to the broadcast tier for
# that batch, so the 100 TB posture is unchanged: the index side never
# shuffles, and the driver holds at most the budget.
EMB_CLUSTER_CACHE_MAX_BYTES = 256 << 20
# index_base → OrderedDict[cluster → {"sig", "ids", "mat", "bytes"}]
_CLUSTER_CACHE: dict[str, dict] = {}


def _cluster_manifest(index_base: str, c: int) -> tuple:
    """Sorted (file, size) signature of one cluster's list directory —
    one listdir, no file reads."""
    d = os.path.join(index_base, "lists", f"cluster={c}")
    sig = []
    try:
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                sig.append((f, os.stat(os.path.join(d, f)).st_size))
    except OSError:
        pass
    return tuple(sorted(sig))


def _read_cluster_local(index_base: str, c: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit matrix) of ONE cluster's inverted list."""
    d = os.path.join(index_base, "lists", f"cluster={c}")
    files = sorted(os.listdir(d)) if os.path.isdir(d) else []
    return _read_list_files(
        os.path.join(d, f) for f in files if f.endswith(".parquet")
    )


def _cluster_blocks(index_base: str, wanted: list[int]) -> dict | None:
    """{cluster: block} for every wanted cluster, loading cold/stale
    blocks driver-side, or None when the probed working set cannot fit
    the byte budget (the caller then takes the broadcast tier).  The
    pre-load gate estimates cold blocks at 2× their parquet bytes so a
    giant working set is refused BEFORE anything is read."""
    from collections import OrderedDict

    budget = EMB_CLUSTER_CACHE_MAX_BYTES
    cache = _CLUSTER_CACHE.setdefault(index_base, OrderedDict())
    plan, cold = [], 0
    for c in wanted:
        sig = _cluster_manifest(index_base, c)
        blk = cache.get(c)
        if blk is not None and blk["sig"] != sig:
            del cache[c]  # stale: reloaded below, or refused
            blk = None
        if blk is None:
            cold += 2 * sum(s for _, s in sig)
        plan.append((c, sig, blk))
    # trim the LRU before the gate, so a refusal never leaves stale or
    # unprobed blocks holding more than the budget
    _trim_lru(cache, budget - cold, keep=set(wanted))
    if sum(b["bytes"] for b in cache.values()) + cold > budget:
        _trim_lru(cache, budget)
        return None
    blocks: dict[int, dict] = {}
    for c, sig, blk in plan:
        if blk is None:
            ids, mat = _read_cluster_local(index_base, c)
            blk = {
                "sig": sig,
                "ids": ids,
                "mat": mat,
                "bytes": ids.nbytes + mat.nbytes,
            }
            cache[c] = blk
        cache.move_to_end(c)
        blocks[c] = blk
    _trim_lru(cache, budget, keep=set(blocks))
    return blocks


def _trim_lru(cache, budget: int, keep: set = frozenset()) -> None:
    """Evict blocks outside ``keep``, least recently used first, until
    the cache holds at most ``budget`` bytes (or only ``keep`` is left)."""
    used = sum(b["bytes"] for b in cache.values())
    for c in [k for k in cache if k not in keep]:
        if used <= budget:
            return
        used -= cache.pop(c)["bytes"]


def _cluster_cache_extend(
    index_base: str,
    kept_ids: np.ndarray,
    kept_u: np.ndarray,
    assign: np.ndarray | None,
    batch_id: int,
) -> None:
    """Fold a just-appended survivor block into the touched clusters'
    cached blocks, so the next batch's probe needs no re-read.  A block
    is extended (and stamped with its post-append manifest) only when it
    was fresh before the append: its signature must equal that manifest
    minus this batch's own file.  Any other difference (an
    out-of-process write, a redelivered batch's earlier file) drops the
    block, and the next probe reloads it.  No-op for clusters not
    currently cached."""
    cache = _CLUSTER_CACHE.get(index_base)
    if not cache or assign is None or not len(kept_ids):
        return
    own = _own_index_file(batch_id)
    for c in map(int, np.unique(assign)):
        blk = cache.get(c)
        if blk is None:
            continue
        sig = _cluster_manifest(index_base, c)
        if blk["sig"] != tuple(e for e in sig if e[0] != own):
            del cache[c]
            continue
        mask = assign == c
        nid, nu = kept_ids[mask].astype(np.int64), kept_u[mask]
        if len(blk["ids"]):
            blk["ids"] = np.concatenate([blk["ids"], nid])
            blk["mat"] = np.vstack([blk["mat"], nu])
        else:
            blk["ids"], blk["mat"] = nid, nu.copy()
        blk["bytes"] = blk["ids"].nbytes + blk["mat"].nbytes
        blk["sig"] = sig


def _blocked_max_hits(
    qu: np.ndarray,
    iu: np.ndarray,
    iids: np.ndarray,
    threshold: float,
    exclude: np.ndarray,
) -> dict[int, tuple[int, float]]:
    """row index of ``qu`` → (min old vec_id at/above threshold, its
    cosine), skipping index rows whose vec_id is in ``exclude`` (the
    redelivery guard, an int64 id array).  Blocked GEMM, O(BLOCK²) peak
    memory."""
    hits: dict[int, tuple[int, float]] = {}
    if not len(qu) or not len(iu):
        return hits
    keep = ~np.isin(iids, exclude)
    iu, iids = iu[keep], iids[keep]
    if not len(iu):
        return hits
    for qs in range(0, len(qu), _GEMM_BLOCK):
        qb = qu[qs : qs + _GEMM_BLOCK]
        for is_ in range(0, len(iu), _GEMM_BLOCK):
            ib = iu[is_ : is_ + _GEMM_BLOCK]
            sims = qb @ ib.T
            hit = sims >= threshold
            if not hit.any():  # one pass; nonzero costs ~8× more
                continue
            qi, ii = np.nonzero(hit)
            for q, i in zip(qi, ii):
                old = int(iids[is_ + i])
                c = float(sims[q, i])
                cur = hits.get(qs + q)
                if cur is None or old < cur[0]:
                    hits[qs + int(q)] = (old, c)
    return hits


def _within_batch_pairs(
    u: np.ndarray, threshold: float
) -> list[tuple[int, int, float]]:
    """(i, j, cos) row-index pairs with cos ≥ threshold, i < j —
    blocked upper-triangle GEMM over the batch."""
    out: list[tuple[int, int, float]] = []
    for as_ in range(0, len(u), _GEMM_BLOCK):
        ab = u[as_ : as_ + _GEMM_BLOCK]
        for bs in range(as_, len(u), _GEMM_BLOCK):
            bb = u[bs : bs + _GEMM_BLOCK]
            sims = ab @ bb.T
            hit = sims >= threshold
            if not hit.any():  # one pass; nonzero costs ~8× more
                continue
            i, j = np.nonzero(hit)
            if as_ == bs:  # the diagonal block: its upper triangle only
                upper = i < j
                i, j = i[upper], j[upper]
            out.extend(
                (as_ + int(a), bs + int(b), float(sims[a, b]))
                for a, b in zip(i, j)
            )
    return out


def _guard_lists_within_k(index_base: str, k: int) -> None:
    """Retrain-compaction crash guard (operators/ann_index.py): lists
    re-clustered to a NEW quantizer but the centroid table not yet
    republished leaves partition ids ≥ k — pruning against the stale
    router would silently miss dups, so refuse loudly instead.  r12:
    additionally compares the retrain EPOCH stamps (lists marker vs
    index_meta.json) — the partition-id check alone is probabilistic
    (a retrain that leaves the high partitions empty slips past it);
    the epoch compare is exact (ADVICE low)."""
    from frizzle_spark.operators.ann_index import check_quantizer_epoch

    check_quantizer_epoch(index_base)
    lists_root = os.path.join(index_base, "lists")
    if os.path.isdir(lists_root):
        for d in os.listdir(lists_root):
            if d.startswith("cluster=") and int(d.split("=", 1)[1]) >= k:
                raise RuntimeError(
                    f"index at {index_base} has list partition {d} outside "
                    f"the centroid table (k={k}) — an interrupted "
                    "compact_ann_index(retrain=True); re-run it to heal"
                )


def _routing_by_cluster(
    u: np.ndarray, cent: np.ndarray, eff_nprobe: int
) -> dict[int, np.ndarray]:
    """cluster → probing row indices, the EXACT routing expression the
    broadcast tier uses (shared so the cached tier can never drift)."""
    k = len(cent)
    if eff_nprobe >= k:
        return {c: np.arange(len(u)) for c in range(k)}
    top = np.argsort(-(u @ cent.T), axis=1)[:, :eff_nprobe]
    by_cluster: dict[int, list] = {}
    for row, clusters in enumerate(top):
        for c in clusters:
            by_cluster.setdefault(int(c), []).append(row)
    return {c: np.asarray(rows) for c, rows in by_cluster.items()}


def _probe_index_pruned_cached(
    index_base: str,
    u: np.ndarray,
    threshold: float,
    nprobe,
    exclude: np.ndarray,
) -> dict[int, tuple[int, float]] | None:
    """Driver-side twin of ``_probe_index_pruned_broadcast`` over the
    per-cluster block cache: same centroid routing, same exclude
    masking, same min-old_id hit — zero Spark jobs.  Returns None when
    the probed working set exceeds the cache budget (the caller falls
    back to the broadcast tier for that batch)."""
    cent = _load_centroids(index_base)
    k = len(cent)
    _guard_lists_within_k(index_base, k)
    eff_nprobe = (
        k if (nprobe == "all" or nprobe is None) else min(int(nprobe), k)
    )
    by_cluster = _routing_by_cluster(u, cent, eff_nprobe)
    blocks = _cluster_blocks(index_base, sorted(by_cluster))
    if blocks is None:
        return None
    hits: dict[int, tuple[int, float]] = {}
    for c, rows in by_cluster.items():
        blk = blocks[c]
        if not len(blk["ids"]):
            continue
        sub = _blocked_max_hits(
            u[rows], blk["mat"], blk["ids"], threshold, exclude
        )
        # merge across probed clusters: min old_id wins, WITH its own
        # cosine — an index vector lives in exactly one cluster, so the
        # same old_id can never arrive twice for one probe row
        for q, (old, cs) in sub.items():
            r = int(rows[q])
            cur = hits.get(r)
            if cur is None or old < cur[0]:
                hits[r] = (old, cs)
    return hits


def _probe_index_pruned_broadcast(
    spark: SparkSession,
    index_base: str,
    vec_ids: np.ndarray,
    u: np.ndarray,
    threshold: float,
    nprobe,
    exclude: np.ndarray,
) -> dict[int, tuple[int, float]]:
    """The scale probe, for a probed working set over the cluster
    cache's budget: the INDEX SIDE NEVER SHUFFLES.  The batch matrix
    broadcasts once with a cluster→probing-row table; the lists scan
    prunes to the probed ``cluster=…`` partitions at file-listing time
    and a mapInPandas over the scan groups each Arrow batch by its
    partition column and GEMMs it against exactly the sub-batch that
    probes that cluster — zero exchanges, plan = PruneScan →
    MapInPandas → partial/final agg of ≤ batch rows."""
    cent = _load_centroids(index_base)
    k = len(cent)
    _guard_lists_within_k(index_base, k)
    eff_nprobe = (
        k if (nprobe == "all" or nprobe is None) else min(int(nprobe), k)
    )
    by_cluster = _routing_by_cluster(u, cent, eff_nprobe)
    wanted = sorted(by_cluster)
    # the redelivery guard rides the broadcast: excluded ids (the
    # batch's own, ≤ cap) are masked off the index side BEFORE the
    # GEMM, so a same-batch sibling can never shadow a true earlier hit
    bc = spark.sparkContext.broadcast(
        (u, vec_ids, by_cluster, np.unique(exclude))
    )

    def score(batches):  # pragma: no cover - executed on executors
        import pandas as pd

        qu, qids, routing, excl = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            for c, grp in pdf.groupby("cluster"):
                rows = routing.get(int(c))
                if rows is None or not len(rows):
                    continue
                iids = grp["vec_id"].to_numpy()
                if len(excl):
                    keep = ~np.isin(iids, excl)
                    if not keep.any():
                        continue
                    grp = grp[keep]
                    iids = iids[keep]
                iu = np.asarray(grp["u"].to_list(), dtype=np.float64)
                sims = qu[rows] @ iu.T
                qi, ii = np.nonzero(sims >= threshold)
                if not len(qi):
                    continue
                yield pd.DataFrame(
                    {
                        "vec_id": qids[rows[qi]],
                        "old_id": iids[ii],
                        "cos": sims[qi, ii],
                    }
                )

    lists = spark.read.parquet(os.path.join(index_base, "lists")).where(
        F.col("cluster").isin(wanted)
    )
    # struct-min keeps (old_id, cos) FROM THE SAME HIT — the local
    # tier's _blocked_max_hits semantics (min old_id, that hit's
    # cosine); independent min/max could pair the min id with another
    # hit's cosine (r12, ADVICE low)
    hits = (
        lists.mapInPandas(score, "vec_id long, old_id long, cos double")
        .groupBy("vec_id")
        .agg(F.min(F.struct("old_id", "cos")).alias("h"))
        .select("vec_id", F.col("h.old_id").alias("old_id"), F.col("h.cos").alias("cos"))
        .collect()
    )
    row_of = {int(v): i for i, v in enumerate(vec_ids)}
    return {
        row_of[int(r["vec_id"])]: (int(r["old_id"]), float(r["cos"]))
        for r in hits
    }


def _bootstrap_index(
    index_base: str, kept_ids: np.ndarray, kept_u: np.ndarray
) -> None:
    """Train the coarse quantizer on the FIRST survivor set (frozen
    thereafter — the standard IVF posture: retrain on drift, never per
    ingest) and write the ann_index-compatible layout: centroids
    parquet + per-cluster lists + index_meta.json.  Driver-side pyarrow
    throughout (the survivor matrix is already in hand)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frizzle_spark.operators.similarity import (
        _kmeans_unit,
        _pinned_blas,
        ivf_params,
    )

    k, nprobe = ivf_params(len(kept_u))
    cent = _pinned_blas(_kmeans_unit, kept_u.copy(), k)
    os.makedirs(os.path.join(index_base, "centroids"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "cluster": pa.array(range(len(cent)), pa.int32()),
                "centroid": _list_column(cent),
            }
        ),
        os.path.join(index_base, "centroids", "part-emb-0.parquet"),
    )
    meta = {
        "k": int(len(cent)),
        "nprobe": int(nprobe),
        "n_vectors": 0,
        "dim": int(kept_u.shape[1]),
    }
    with open(os.path.join(index_base, "index_meta.json"), "w") as fh:
        json.dump(meta, fh)
    _append_index_local(index_base, kept_ids, kept_u, batch_id=0, cent=cent)


def _load_centroids(index_base: str) -> np.ndarray:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdir = os.path.join(index_base, "centroids")
    tabs = []
    for f in sorted(os.listdir(cdir)):
        if f.endswith(".parquet"):
            with pq.ParquetFile(os.path.join(cdir, f)) as pf:
                tabs.append(
                    pf.read(columns=["cluster", "centroid"], use_threads=False)
                )
    tb = pa.concat_tables(tabs)
    order = np.argsort(tb["cluster"].to_numpy())
    return _arrow_matrix(tb["centroid"])[order]


def _append_index_local(
    index_base: str,
    kept_ids: np.ndarray,
    kept_u: np.ndarray,
    batch_id: int,
    cent: np.ndarray | None = None,
) -> np.ndarray | None:
    """Assign survivors to their inverted lists against the FROZEN
    centroids and append — one pyarrow file per touched cluster, NAMED
    BY batch_id so a redelivered append overwrites itself (idempotent
    by filename, the same unit as the per-batch sink partitions).
    Returns the per-survivor cluster assignment (None on an empty
    append) so the caller can extend the cluster-block cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not len(kept_ids):
        return None
    if cent is None:
        cent = _load_centroids(index_base)
    assign = (kept_u @ cent.T).argmax(axis=1)
    for c in np.unique(assign):
        mask = assign == c
        target = os.path.join(index_base, "lists", f"cluster={int(c)}")
        os.makedirs(target, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(kept_ids[mask], pa.int64()),
                    "u": _list_column(kept_u[mask]),
                }
            ),
            os.path.join(target, _own_index_file(batch_id)),
        )
    return assign


def _own_index_file(batch_id: int) -> str:
    """The list file a batch appends in each cluster it touches."""
    return f"part-embbatch-{batch_id}.parquet"


def _index_nprobe(index_base: str) -> int:
    """The index's CURRENT nprobe, read from index_meta.json at probe
    time (r12, ADVICE medium): ``compact_ann_index(retrain=True)``
    grows k and nprobe as the index grows, so a bus that cached the
    bootstrap nprobe would silently probe an ever-smaller fraction of
    the retrained index — cross-batch dup recall decaying exactly when
    the retrain exists to preserve it.  One small JSON read per batch;
    the file is already opened at every commit."""
    with open(os.path.join(index_base, "index_meta.json")) as fh:
        return int(json.load(fh)["nprobe"])


def _sync_index_n_vectors(index_base: str, n_vectors: int) -> None:
    """index_meta.json's n_vectors follows the COMMITTED ledger — set
    at commit time, so the append-then-crash window cannot leave a
    double count (redelivery rewrites the same files AND the same
    meta)."""
    path = os.path.join(index_base, "index_meta.json")
    with open(path) as fh:
        meta = json.load(fh)
    meta["n_vectors"] = int(n_vectors)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def embedding_ingest_batch(
    spark: SparkSession,
    batch_vecs: DataFrame,
    index_base: str,
    out_base: str,
    batch_id: int,
    threshold: float = EMB_DUP_THRESHOLD,
    eval_vecs: "np.ndarray | None" = None,
    eval_threshold: float = EMB_DECON_THRESHOLD,
    nprobe=None,
) -> dict:
    """One micro-batch of the embedding curation bus (the foreachBatch
    body, callable directly for the eager/batch twin): decon, probe,
    within-batch collapse, route, index, commit.  Returns the batch
    accounting dict ({"skipped": True} on the replay no-op path).

    ``batch_vecs``: (vec_id long, embedding array<float>).  NULL
    embeddings route to the DLQ as ``invalid`` (a vector row without a
    vector is not a corpus member — the same boundary rule as
    similarity._corpus).  ``eval_vecs``: optional (m, dim) unit matrix
    of eval-set embeddings; ``nprobe``: None → index default,
    ``"all"`` → exact probe (the identity-gate mode)."""
    meta = _read_emb_meta(out_base)
    if batch_id <= int(meta.get("committed_batch", -1)):
        return {"skipped": True, "batch_id": batch_id}

    tb = batch_vecs.select("vec_id", "embedding").toArrow()

    import pyarrow as pa
    import pyarrow.compute as pc

    all_ids = tb["vec_id"].to_numpy().astype(np.int64, copy=False)
    emb = tb["embedding"].combine_chunks()
    valid = pc.fill_null(pc.list_value_length(emb), 0).to_numpy() > 0
    ids = all_ids[valid]
    u = _arrow_matrix(emb)
    if len(u):
        nrm = np.linalg.norm(u, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        u = u / nrm

    # -- decon gate (wins over every other rule) ------------------------
    contaminated: dict[int, float] = {}
    if eval_vecs is not None and len(u):
        esim = u @ np.asarray(eval_vecs, dtype=np.float64).T
        emax = esim.max(axis=1) if esim.shape[1] else np.zeros(len(u))
        for row in np.nonzero(emax >= eval_threshold)[0]:
            contaminated[int(ids[row])] = float(emax[row])
    e_rows = np.nonzero(
        ~np.isin(ids, np.fromiter(contaminated, np.int64, len(contaminated)))
    )[0]

    # -- cross probe: batch vs ACCEPTED (tiered; redelivery-guarded) ----
    idx_dup: dict[int, tuple[int, float]] = {}  # vec_id → (old_id, cos)
    if meta.get("index_ready") and len(e_rows):
        if _lists_bytes(index_base) <= EMB_PROBE_LOCAL_MAX_BYTES:
            np_eff = "all"  # the young index: exact, every cluster
        else:
            np_eff = nprobe if nprobe is not None else _index_nprobe(index_base)
        # cluster-block cache first (zero Spark jobs, identical result —
        # r13, VERDICT r12 #9); the broadcast-tier Spark job only when
        # the probed working set outgrows the driver cache budget
        hits = _probe_index_pruned_cached(
            index_base, u[e_rows], threshold, np_eff, ids
        )
        if hits is None:
            hits = _probe_index_pruned_broadcast(
                spark, index_base, ids[e_rows], u[e_rows], threshold, np_eff, ids
            )
        for q, (old, c) in hits.items():
            idx_dup[int(ids[e_rows[q]])] = (old, c)

    # -- within-batch collapse (among non-contaminated) -----------------
    pairs = _within_batch_pairs(u[e_rows], threshold) if len(e_rows) else []
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    evidence: dict[int, float] = {}  # vec_id → max within-batch cos
    for a, b, c in pairs:
        va, vb = int(ids[e_rows[a]]), int(ids[e_rows[b]])
        ra, rb = find(va), find(vb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
        for v in (va, vb):
            if c > evidence.get(v, -2.0):
                evidence[v] = c
    cluster = {int(d): find(int(d)) for d in ids[e_rows]}

    # -- survivor rule: min id among eligible (not contaminated, not
    #    index dup) per component — greedy first-accepted-wins ----------
    keep_of: dict[int, int] = {}
    for d in map(int, ids):
        if d in contaminated or d in idx_dup:
            continue
        c = cluster.get(d, d)
        if d < keep_of.get(c, 1 << 62):
            keep_of[c] = d

    kept_rows = []  # rows of the collected batch
    dlq = []
    for row, d in enumerate(map(int, all_ids)):
        if not valid[row]:
            dlq.append((d, "invalid", None, None))
            continue
        if d in contaminated:
            dlq.append((d, "contaminated", None, contaminated[d]))
            continue
        c = cluster.get(d, d)
        k = keep_of.get(c)
        if k == d:
            kept_rows.append(row)
        elif d in idx_dup:
            old, cs = idx_dup[d]
            dlq.append((d, "dup_index", old, round(cs, 6)))
        else:
            # k is not None: a component with no eligible member has
            # every member contaminated or an index dup, handled above
            dlq.append((d, "dup_batch", k, round(evidence.get(d, 1.0), 6)))
    kept_rows = np.asarray(kept_rows, dtype=np.int64)
    n_kept = len(kept_rows)

    # -- route (idempotent per-batch partition overwrite) ---------------
    from frizzle_spark.streaming.pipeline import (
        arrow_filesystem,
        write_batch_rows,
        write_batch_table,
    )

    # the corpus is the collected batch's own columns, cast to the sink
    # schema: its float32 values never become Python floats
    corpus = pa.table(
        {
            "vec_id": tb["vec_id"].take(kept_rows).cast(pa.int64()),
            "embedding": emb.take(kept_rows).cast(pa.list_(pa.float32())),
        }
    )
    dlq_cols = (
        ("vec_id", "int64"),
        ("reason", "string"),
        ("dup_of", "int64"),
        ("cos_sim", "float64"),
    )
    out = arrow_filesystem(spark, out_base)
    write_batch_table(out, "corpus", batch_id, corpus)
    write_batch_rows(out, "dlq", batch_id, dlq, dlq_cols)

    # -- index the survivors (redelivery-guarded window, module doc) ----
    kmask = np.isin(ids, all_ids[kept_rows])
    kept_ids, kept_u = ids[kmask], u[kmask] if len(u) else u
    if not meta.get("index_ready"):
        if len(kept_ids):
            _bootstrap_index(index_base, kept_ids, kept_u)
    else:
        assign = _append_index_local(index_base, kept_ids, kept_u, batch_id)
        _cluster_cache_extend(index_base, kept_ids, kept_u, assign, batch_id)

    # -- commit ----------------------------------------------------------
    n_total_kept = int(meta.get("n_vecs_kept", 0)) + n_kept
    new_meta = {
        **meta,
        "committed_batch": batch_id,
        "index_ready": bool(meta.get("index_ready")) or n_kept > 0,
        "n_vecs_in": int(meta.get("n_vecs_in", 0)) + len(all_ids),
        "n_vecs_kept": n_total_kept,
    }
    if new_meta["index_ready"]:
        # nprobe is deliberately NOT cached into the bus meta (r12,
        # ADVICE medium): probes read the index's current value each
        # batch (_index_nprobe), so a retrain-compact's larger k/nprobe
        # takes effect immediately instead of probing an ever-smaller
        # fraction of the grown index with the bootstrap value
        new_meta.pop("nprobe", None)  # drop any stale pre-r12 cache
        _sync_index_n_vectors(index_base, n_total_kept)
    _write_emb_meta(out_base, new_meta)
    return {
        "skipped": False,
        "batch_id": batch_id,
        "n_in": len(all_ids),
        "n_kept": n_kept,
    }


def stream_embedding_ingest(
    spark: SparkSession,
    replay_dir: str,
    index_base: str,
    out_base: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    threshold: float = EMB_DUP_THRESHOLD,
    eval_vecs: "np.ndarray | None" = None,
    eval_threshold: float = EMB_DECON_THRESHOLD,
) -> None:
    """Drive the embedding bus over a file-replay stream to completion
    (availableNow): one vector-slice file per micro-batch — the same
    wiring as the MinHash bus's stream_dedup_ingest."""
    from frizzle_spark.streaming.pipeline import resolve_stream_input

    path, glob = resolve_stream_input(spark, replay_dir, None)
    reader = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    sdf = reader.parquet(path)

    def _body(bdf: DataFrame, bid: int) -> None:
        embedding_ingest_batch(
            spark,
            bdf,
            index_base,
            out_base,
            bid,
            threshold=threshold,
            eval_vecs=eval_vecs,
            eval_threshold=eval_threshold,
        )

    q = (
        sdf.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def embedding_assignment(spark: SparkSession, out_base: str) -> DataFrame:
    """The replay's full routing verdict, one row per ingested vector:
    (vec_id, dest ∈ {corpus, dlq}, reason ∈ {NULL, dup_index,
    dup_batch, contaminated, invalid}, dup_of, cos_sim)."""
    from frizzle_spark.streaming.curation import _read_sink_or_empty

    corpus_raw = _read_sink_or_empty(spark, f"{out_base}/corpus")
    if corpus_raw is not None:
        corpus = corpus_raw.select(
            "vec_id",
            F.lit("corpus").alias("dest"),
            F.lit(None).cast("string").alias("reason"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(None).cast("double").alias("cos_sim"),
        )
    else:
        corpus = spark.createDataFrame([], EMB_ASSIGNMENT_SCHEMA)
    dlq_raw = _read_sink_or_empty(spark, f"{out_base}/dlq")
    if dlq_raw is not None:
        dlq = dlq_raw.select(
            "vec_id",
            F.lit("dlq").alias("dest"),
            "reason",
            "dup_of",
            F.col("cos_sim").cast("double"),
        )
    else:
        dlq = spark.createDataFrame([], EMB_ASSIGNMENT_SCHEMA)
    return corpus.unionByName(dlq)
