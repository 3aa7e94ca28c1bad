"""Continuous curation: near-dup deduplication INSIDE the ingest bus.

The batch incremental pieces each exist and are identity-gated on their
own (``materialize_minhash_index`` / ``append_minhash_index``,
``incremental_neardup`` for new-vs-indexed, ``minhash_pairs_of`` for
new-vs-new, ``dedup_clusters`` for within-slice components,
``append_cluster_index`` downstream).  This module is the operating
mode they exist FOR: a stream of crawl slices arrives, each micro-batch
is deduplicated against everything already ACCEPTED (never against
raw history — survivors only), survivors land in the corpus sink and
join the MinHash index, duplicates route to the DLQ with a provenance
pointer — the reference's bus shape (source → transform → route → ack,
frizzle.go:53-79, basic/sink.go) carrying the curation decision loop.

Semantics — greedy first-occurrence-wins, the standard crawl-ingest
contract:

* a doc is a ``dup_index`` drop iff its MinHash-estimated Jaccard
  against any previously ACCEPTED doc reaches the batch threshold
  (same signatures, banding, threshold as qz11_minhash_lsh);
* within one batch, near-dup components collapse to their min-doc_id
  member that was not itself an index dup (``dup_batch`` drops point at
  that survivor);
* therefore NO TWO SURVIVORS are near-dups under the estimator — the
  invariant the pytest gate asserts corpus-wide after the replay.

Exactly-once under restart/replay: the per-batch writer is guarded by a
committed-batch watermark in ``ingest_meta.json`` (atomic tmp+replace —
the same commit-point pattern as the cluster-index meta), and the
corpus/DLQ appends go to PER-BATCH partition directories written with
overwrite — so Spark's standard failure mode (redeliver the last
uncommitted micro-batch with the SAME batch_id) rewrites the partial
partition instead of duplicating it, and replay of an already-committed
batch is a no-op.  The index append sits between the sink write and the
meta commit; a crash in that window leaves this batch's own survivors
in the index when the batch is redelivered.  Two guards make that
window truly benign: the redelivered batch's probe EXCLUDES its own
doc_ids from the index side (so a survivor never sees itself or a
same-batch sibling as "previously accepted" — without this, every
survivor self-matched at est 1.0 and the rewritten corpus partition
came out EMPTY), and duplicated rows from prior batches change no
decision because every consumer is set-semantic (candidates are
``.distinct()``-ed, the drop decision is min-aggregated).  The pytest
gates pin both: redelivery-after-uncommitted-append reproduces the
original assignment bit-for-bit, and doubled prior-batch index rows
change no pair.

Scale shape (100 TB): per-batch cost is O(batch docs) signature work —
computed ONCE per batch and shared by the probe, the within-batch pair
scan, and the index append — plus the index probe, which reads only the
parquet row groups whose band_hash statistics intersect the batch's
hashes (the "rowgroup" tier in operators/dedup.py): probe I/O is
O(min(batch_keys x row_group, index)), flat in index size once the
index outgrows the batch instead of a full index scan per micro-batch.
Text never shuffles; the index grows only by survivors, so a crawl
that is 40% duplicate pays index writes for the 60%.  State lives
entirely in storage (index + meta), NOT in stream state stores —
restart needs no state recovery beyond the checkpoint offsets and the
meta watermark.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INGEST_META = "ingest_meta.json"

ASSIGNMENT_SCHEMA = "doc_id long, dest string, reason string, dup_of long"


def _read_ingest_meta(out_base: str) -> dict:
    try:
        with open(os.path.join(out_base, INGEST_META)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_ingest_meta(out_base: str, meta: dict) -> None:
    os.makedirs(out_base, exist_ok=True)
    path = os.path.join(out_base, INGEST_META)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


# Driver-decide cap: a micro-batch at this size collects ~35 MB of
# signatures; beyond it the distributed twin takes over.  Micro-batches
# are small BY DEFINITION (the stream trigger bounds them) — this is the
# same AUTO posture as ranks.py / graph.py, applied to the decision loop.
LOCAL_DECIDE_MAX_DOCS = 1 << 16
# Byte gate for pulling SURVIVOR text to the driver (the pyarrow corpus
# write): the exact UTF-8 size is known before the pull — octet_length
# rides the decide collect — so the gate is measured, not estimated.
LOCAL_TEXT_MAX_BYTES = 256 << 20
# (name, pyarrow type) columns of the local tier's corpus and DLQ writes
_CORPUS_COLS = (("doc_id", "int64"), ("text", "string"))
_DLQ_COLS = (("doc_id", "int64"), ("reason", "string"), ("dup_of", "int64"))


def _decide_local(
    spark: SparkSession,
    batch: DataFrame,
    sigs: DataFrame,
    sigs_materialized,
    index_base: str,
    keep: str,
    meta: dict,
):
    """Driver-side decision tier: collect the batch's (bounded) doc ids
    and MinHash signatures, band by signature 4-TUPLES (band-hash
    equality in the distributed twin IS tuple equality — the band hash
    only compresses the tuple), union-find the within-batch
    near-dup components, apply the survivor rule, and return
    (the assignment rows, the survivors' signature rows for the
    driver-side index append,
    the survivors' (doc_id, text) rows for the driver-side corpus
    write — or None when the text gate declined the pull — n_in,
    n_kept).  Returns None when any collected set exceeds its cap — the
    distributed twin then decides.  Semantics are identical by
    construction and pinned by the forced-tier identity gate.

    ``sigs`` is the LAZY signature frame; its collect below is the only
    materialization this tier needs.  ``sigs_materialized`` checkpoints
    on demand for the paths that feed signatures back into Spark jobs
    (the over-cap index probe)."""
    import numpy as np

    from frizzle_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_PERMS,
        incremental_neardup,
    )

    if keep not in ("min_id", "quality"):
        raise ValueError(f"keep must be 'min_id' or 'quality', got {keep!r}")
    cap = LOCAL_DECIDE_MAX_DOCS
    # Arrow collection end to end: no Row-object materialization (a
    # 65-column Row collect measurably dominates the decide phase).
    # octet_length(text) rides along so the survivor-text pull below
    # is gated on its EXACT byte size before any text moves.
    cols = [F.col("doc_id"), F.octet_length("text").alias("_tlen")]
    if keep == "quality":
        from frizzle_spark.functions.text import quality_score

        cols.append(quality_score(F.col("text")).alias("q"))
    # TEXT rides the id collect when the previous batch's measured
    # average doc size says even a cap-full batch fits the byte gate
    # with 2x headroom (the hint lives in the ingest meta) — the corpus
    # write then needs no further Spark job at all.  No hint (first
    # batch) or big docs -> the gated survivor pull below.
    hint = meta.get("avg_doc_bytes")
    text_inline = (
        hint is not None and hint * (cap + 1) * 2 <= LOCAL_TEXT_MAX_BYTES
    )
    if text_inline:
        cols.append(F.col("text"))
    id_tb = batch.select(*cols).limit(cap + 1).toArrow()
    if id_tb.num_rows > cap:
        return None

    doc_ids = id_tb["doc_id"].to_pylist()
    tlen_of = dict(zip(doc_ids, id_tb["_tlen"].to_pylist()))
    quality = (
        dict(zip(doc_ids, id_tb["q"].to_pylist()))
        if keep == "quality"
        else None
    )
    text_of = (
        dict(zip(doc_ids, id_tb["text"].to_pylist())) if text_inline else None
    )

    # Signatures: when the batch TEXT already rode the id collect, the
    # bit-identical numpy twin (minhash_signatures_np, differential-
    # gated) computes them driver-side — the Spark aggregation job the
    # warm micro-batch used to pay disappears (r12, VERDICT r11 #6).
    # FRIZZLE_CURATION_PY_SIGS=0 pins the Spark frame for the identity
    # gates and as an operational kill-switch.
    # Duplicate doc_ids within one micro-batch (ADVICE r12): the Spark
    # frame groupBys to ONE signature row per doc_id (over the union of
    # the duplicates' shingles), while the positional numpy twin would
    # emit duplicate sids rows (with texts collapsed by the dict) —
    # downstream banding could then pair a doc with itself and the index
    # append would insert duplicate signature rows.  The twin's
    # bit-identity gate can't see this (its corpus has unique ids), so
    # the rule is: unique ids → twin; any duplicate → the Spark frame,
    # which is definitionally identical in every case.
    if (
        text_of is not None
        and os.environ.get("FRIZZLE_CURATION_PY_SIGS", "1") != "0"
        and len(set(doc_ids)) == len(doc_ids)
    ):
        from frizzle_spark.operators.dedup import minhash_signatures_np

        sids, mat = minhash_signatures_np(
            doc_ids, [text_of[d] for d in doc_ids]
        )
    else:
        sig_tb = sigs.limit(cap + 1).toArrow()
        if sig_tb.num_rows > cap:  # pathological: more sigs than docs
            return None
        if sig_tb.num_rows:
            sids = sig_tb["doc_id"].to_numpy().astype(np.int64, copy=False)
            mat = np.column_stack(
                [
                    sig_tb[f"h{k}"].to_numpy(zero_copy_only=False)
                    for k in range(MINHASH_PERMS)
                ]
            ).astype(np.int64, copy=False)
        else:
            sids = np.empty(0, dtype=np.int64)
            mat = np.empty((0, MINHASH_PERMS), dtype=np.int64)

    # cross probe: new-vs-index near-dup pairs (bounded by true
    # collisions; a storm over the cap falls back to distributed).
    # Against a YOUNG index (common case at bus start-up) the probe is
    # fully driver-side numpy (incremental_neardup_local) — zero Spark
    # jobs; past the size cap it is the Spark probe, collected.
    idx_dup_of: dict[int, int] = {}
    if meta.get("index_ready"):
        from frizzle_spark.operators.dedup import (
            PROBE_LOCAL_MAX_INDEX_BYTES,
            _list_index_files,
            incremental_neardup_local,
        )

        files = _list_index_files(f"{index_base}/bands", "band_id")
        idx_bytes = sum(os.stat(p).st_size for p, _ in files)
        batch_set = set(doc_ids)
        if idx_bytes <= PROBE_LOCAL_MAX_INDEX_BYTES:
            cross_iter = [
                (n, o)
                for n, o, _ in incremental_neardup_local(sids, mat, index_base)
            ]
        else:
            # over-cap index: the Spark probe consumes the signature
            # frame more than once — materialize it first
            cross_tb = (
                incremental_neardup(
                    spark, batch, index_base, _sigs=sigs_materialized()
                )
                .select("new_id", "old_id")
                .limit(cap + 1)
                .toArrow()
            )
            if cross_tb.num_rows > cap:
                return None
            cross_iter = zip(
                cross_tb["new_id"].to_pylist(), cross_tb["old_id"].to_pylist()
            )
        for new_id, old_id in cross_iter:
            # crash-window redelivery guard: this batch's own survivors
            # may already sit in the index — ignore them so the
            # redelivered run reproduces the original assignment
            if old_id in batch_set:
                continue
            cur = idx_dup_of.get(new_id)
            if cur is None or old_id < cur:
                idx_dup_of[new_id] = old_id
    # within-batch candidates: band b collides iff the 4 signature rows
    # of band b are equal — bucket by the tuple, estimate Jaccard as
    # agreeing signature fraction, threshold as the distributed twin
    if len(sids):
        cand: set[tuple[int, int]] = set()
        for b in range(LSH_BANDS):
            buckets: dict[tuple, list[int]] = {}
            block = mat[:, b * LSH_ROWS : (b + 1) * LSH_ROWS]
            for i in range(len(sids)):
                buckets.setdefault(tuple(block[i]), []).append(i)
            for members in buckets.values():
                for x in range(1, len(members)):
                    for y in range(x):
                        i, j = members[y], members[x]
                        cand.add((i, j) if sids[i] < sids[j] else (j, i))
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for i, j in cand:
            if np.mean(mat[i] == mat[j]) >= JACCARD_THRESHOLD:
                a, b2 = find(int(sids[i])), find(int(sids[j]))
                if a != b2:
                    parent[max(a, b2)] = min(a, b2)
        cluster = {d: find(d) for d in map(int, sids)}
    else:
        cluster = {}

    # survivor rule per cluster over ELIGIBLE members (not index dups)
    keep_of: dict[int, int] = {}
    for d in doc_ids:
        if d in idx_dup_of:
            continue
        c = cluster.get(d, d)
        cur = keep_of.get(c)
        if cur is None:
            keep_of[c] = d
        elif quality is not None:
            if (quality[d], -d) > (quality[cur], -cur):
                keep_of[c] = d
        elif d < cur:
            keep_of[c] = d

    rows = []
    n_kept = 0
    kept_ids = set()
    for d in doc_ids:
        c = cluster.get(d, d)
        k = keep_of.get(c)
        if k == d:
            rows.append((d, "corpus", None, None))
            n_kept += 1
            kept_ids.add(d)
        elif d in idx_dup_of:
            rows.append((d, "dlq", "dup_index", idx_dup_of[d]))
        else:
            # coalesce(idx_dup_of, keep_id) as in the distributed twin;
            # k can't be None here (an ineligible doc is an index dup)
            rows.append((d, "dlq", "dup_batch", k))

    # survivor text for the driver-side corpus write: already in hand
    # when it rode the id collect; otherwise pulled now, gated on the
    # EXACT survivor byte volume (known from the decide collect).  Over
    # the gate the Spark write path keeps the distributed posture.
    kept_text: list[tuple[int, str]] | None = None
    batch_bytes = sum(v or 0 for v in tlen_of.values())
    if text_of is not None:
        kept_text = [(d, text_of[d]) for d in doc_ids if d in kept_ids]
    elif sum(tlen_of.get(d) or 0 for d in kept_ids) <= LOCAL_TEXT_MAX_BYTES:
        if not kept_ids:
            kept_text = []
        else:
            kdf = spark.createDataFrame(
                [(int(d),) for d in kept_ids], "doc_id long"
            )
            ktb = (
                batch.join(F.broadcast(kdf), "doc_id")
                .select("doc_id", "text")
                .toArrow()
            )
            kept_text = list(
                zip(ktb["doc_id"].to_pylist(), ktb["text"].to_pylist())
            )
            if len(kept_text) != len(kept_ids):  # pragma: no cover
                kept_text = None  # defensive: fall back to the Spark write
    if len(sids):
        kmask = np.fromiter(
            (int(d) in kept_ids for d in sids), dtype=bool, count=len(sids)
        )
        kept_sig = (sids[kmask], mat[kmask])
    else:
        kept_sig = (sids, mat)
    return rows, kept_sig, kept_text, len(doc_ids), n_kept, batch_bytes


def _decide_distributed(
    spark: SparkSession,
    batch: DataFrame,
    sigs: DataFrame,
    index_base: str,
    keep: str,
    meta: dict,
) -> DataFrame:
    """The fully distributed decision twin (the over-cap tier): same
    probe, clustering, survivor rule and assignment expressions, with
    the verdict pinned by an eager checkpoint before any state
    mutation (the three consumers — corpus write, DLQ write, index
    append — must see ONE verdict even if an executor retries)."""
    from frizzle_spark.operators.dedup import (
        dedup_clusters_auto,
        incremental_neardup,
        pairs_from_sigs,
    )

    if meta.get("index_ready"):
        cross = incremental_neardup(spark, batch, index_base, _sigs=sigs)
        # crash-window redelivery guard (see _decide_local); this tier
        # exists for batches ABOVE the 64k local cap, so the batch id
        # set is unbounded — no broadcast hint, let AQE pick the join
        cross = cross.join(
            batch.select(F.col("doc_id").alias("old_id")),
            "old_id",
            "left_anti",
        )
        cross_hit = cross.groupBy(F.col("new_id").alias("doc_id")).agg(
            F.min("old_id").alias("idx_dup_of")
        )
    else:  # first batch: nothing accepted yet
        cross_hit = spark.createDataFrame([], "doc_id long, idx_dup_of long")

    labels = dedup_clusters_auto(spark, pairs_from_sigs(sigs))

    m = (
        batch.select("doc_id")
        .join(labels, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("cluster_rep", F.col("doc_id")).alias("cluster"),
        )
        .join(cross_hit, "doc_id", "left_outer")
    )
    eligible = m.where(F.col("idx_dup_of").isNull())
    if keep == "quality":
        from pyspark.sql.window import Window

        from frizzle_spark.functions.text import quality_score

        q = batch.select("doc_id", quality_score(F.col("text")).alias("_q"))
        w = Window.partitionBy("cluster").orderBy(F.desc("_q"), F.asc("doc_id"))
        keep_ids = (
            eligible.join(q, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("cluster", F.col("doc_id").alias("keep_id"))
        )
    elif keep == "min_id":
        keep_ids = eligible.groupBy("cluster").agg(
            F.min("doc_id").alias("keep_id")
        )
    else:
        raise ValueError(f"keep must be 'min_id' or 'quality', got {keep!r}")
    return (
        m.join(keep_ids, "cluster", "left_outer")
        .select(
            "doc_id",
            F.when(F.col("doc_id") == F.col("keep_id"), F.lit("corpus"))
            .otherwise(F.lit("dlq"))
            .alias("dest"),
            F.when(F.col("doc_id") == F.col("keep_id"), F.lit(None).cast("string"))
            .when(F.col("idx_dup_of").isNotNull(), F.lit("dup_index"))
            .otherwise(F.lit("dup_batch"))
            .alias("reason"),
            F.when(F.col("doc_id") == F.col("keep_id"), F.lit(None).cast("long"))
            .otherwise(F.coalesce("idx_dup_of", "keep_id"))
            .alias("dup_of"),
        )
        .localCheckpoint(eager=True)
    )


def dedup_ingest_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_base: str,
    out_base: str,
    batch_id: int,
    keep: str = "min_id",
) -> dict:
    """One micro-batch of the curation bus (the foreachBatch body,
    callable directly for the eager/batch twin): decide, route, index,
    commit.  Returns the batch accounting dict ({"skipped": True} when
    the batch_id is at or below the committed watermark — the replay
    no-op path).

    ``keep`` picks the within-batch survivor rule: ``"min_id"`` (the
    default — deterministic, id-ordered, what the registry entry and
    its gates pin) or ``"quality"`` — the rule real curation uses
    (``canonical_keep``'s move applied at ingest time): the surviving
    member of a within-batch near-dup cluster is the HIGHEST
    quality_score doc among those not already duplicating the index,
    ties broken on min doc_id.  Cross-batch semantics are unchanged
    under either rule (first ACCEPTED occurrence wins — a later
    higher-quality copy is still a dup_index drop; revising history
    would mean un-publishing an already-committed survivor, which an
    append-only corpus cannot do).  The pairwise-non-near-dup survivor
    invariant holds for both rules."""
    import time

    from frizzle_spark.operators.dedup import (
        append_minhash_index_local,
        append_minhash_index_sigs,
        minhash_signatures,
        shingles_of,
    )
    from frizzle_spark.streaming.pipeline import arrow_filesystem, write_batch_rows

    profile = os.environ.get("FRIZZLE_CURATION_PROFILE") == "1"
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal t_phase
        if profile:
            phases[name] = round(time.perf_counter() - t_phase, 3)
            t_phase = time.perf_counter()

    meta = _read_ingest_meta(out_base)
    if batch_id <= int(meta.get("committed_batch", -1)):
        return {"skipped": True, "batch_id": batch_id}

    batch = batch_docs.select("doc_id", "text").persist()
    # scale the batch body's shuffle width to the BATCH, not the
    # session: a micro-batch of one crawl slice through ~10 small
    # shuffles at the session's cluster-sized partition count pays the
    # whole wall in empty-task overhead (AQE's parallelismFirst keeps
    # them wide).  Input split count is known without a job and grows
    # with real batch size, so a 10M-doc batch still fans out.
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    n_parts = max(8, 2 * batch_docs.rdd.getNumPartitions())
    conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        # ONE signature pass per batch, LAZY on the local tier (round
        # 11): under the decide cap the tier's single Arrow collect is
        # the only materialization signatures need — every consumer
        # (probe, pair scan, index append, corpus write) reads the
        # collected arrays, so the eager checkpoint job was pure
        # overhead there.  The distributed twin (whose three Spark-side
        # consumers DO re-read the frame) materializes on demand,
        # exactly once.
        sigs = minhash_signatures(shingles_of(batch, distinct=False))
        sigs_ckpt: DataFrame | None = None

        def sigs_materialized() -> DataFrame:
            nonlocal sigs_ckpt
            if sigs_ckpt is None:
                sigs_ckpt = sigs.localCheckpoint(eager=True)
            return sigs_ckpt

        _mark("sigs")

        # -- decide -------------------------------------------------------
        # AUTO tier: micro-batches are small by definition, so the whole
        # decision (within-batch banding, union-find clustering, survivor
        # rule) runs on the DRIVER over the collected signature frame —
        # zero Spark jobs beyond the index probe.  Batches over the cap
        # (or probe collision storms) take the fully distributed twin,
        # identity-gated in pytest.  The local assignment is a literal
        # local relation, so the decision is pinned by construction (an
        # executor retry can never re-derive a different verdict — the
        # job the eager checkpoint used to do), built only where the
        # corpus takes the Spark write.
        decided = _decide_local(
            spark, batch, sigs, sigs_materialized, index_base, keep, meta
        )
        _mark("decide")
        assign = None
        if decided is not None:
            (assign_rows, kept_sig, kept_text, n_in, n_kept,
             batch_bytes) = decided
        else:
            assign = _decide_distributed(
                spark, batch, sigs_materialized(), index_base, keep, meta
            )
            by_dest = dict(assign.groupBy("dest").count().collect())
            n_in = int(sum(by_dest.values()))
            n_kept = int(by_dest.get("corpus", 0))
            assign_rows = kept_sig = kept_text = batch_bytes = None

        # -- route (idempotent per-batch partition overwrite) --------------
        # corpus: driver-side pyarrow when the survivor text rode the
        # decide collect (the warm-batch common case — zero Spark jobs);
        # otherwise the distributed write (text must not be collected
        # past the byte gate).  DLQ rows are pointers only.
        keep_set = None
        out = arrow_filesystem(spark, out_base) if assign_rows is not None else None
        if kept_text is not None:
            write_batch_rows(out, "corpus", batch_id, kept_text, _CORPUS_COLS)
        else:
            if assign is None:
                assign = spark.createDataFrame(assign_rows, ASSIGNMENT_SCHEMA)
            keep_set = assign.where(F.col("dest") == "corpus").select("doc_id")
            # the broadcast hint is safe only when the survivor count is
            # known-bounded: always on the local tier (≤ 64k by cap), and
            # on the distributed tier only while n_kept stays broadcast-
            # sized — a multi-million-survivor batch must not be forced
            # onto the driver (AQE picks the strategy there)
            if assign_rows is not None or n_kept <= 4 * LOCAL_DECIDE_MAX_DOCS:
                keep_set = F.broadcast(keep_set)
            batch.join(keep_set, "doc_id").write.mode("overwrite").parquet(
                f"{out_base}/corpus/batch_id={batch_id}"
            )
        _mark("corpus_write")
        if assign_rows is not None:
            dlq = [(d, why, of) for d, dest, why, of in assign_rows if dest == "dlq"]
            write_batch_rows(out, "dlq", batch_id, dlq, _DLQ_COLS)
        else:
            assign.where(F.col("dest") == "dlq").select(
                "doc_id", "reason", "dup_of"
            ).write.mode("overwrite").parquet(
                f"{out_base}/dlq/batch_id={batch_id}"
            )
        _mark("dlq_write")

        # -- index the survivors (redelivery-guarded window, module doc) ---
        # survivor signatures come from the batch's one materialized
        # frame; on the local tier they are already collected, so the
        # append is a driver-side pyarrow write (zero Spark jobs) —
        # probe-identity vs the Spark-written layout is pytest-gated
        if kept_sig is not None:
            n_indexed = append_minhash_index_local(*kept_sig, index_base)
        else:
            if keep_set is None:  # pragma: no cover - defensive
                keep_set = assign.where(
                    F.col("dest") == "corpus"
                ).select("doc_id")
            n_indexed = append_minhash_index_sigs(
                sigs_materialized().join(keep_set, "doc_id"), index_base
            )
        _mark("index_append")

        # -- commit ---------------------------------------------------------
        _write_ingest_meta(
            out_base,
            {
                **meta,
                "committed_batch": batch_id,
                # readiness follows SIGNATURES, not batches: an empty (or
                # all-sub-3-word) first slice must not flip the probe on
                # before the index dirs exist on storage
                "index_ready": bool(meta.get("index_ready")) or n_indexed > 0,
                "n_docs_in": int(meta.get("n_docs_in", 0)) + n_in,
                "n_docs_kept": int(meta.get("n_docs_kept", 0)) + n_kept,
                # text-size hint for the NEXT batch's inline-text gate
                # (decision-neutral: it only picks which collect carries
                # the text); the distributed tier keeps the prior hint
                "avg_doc_bytes": (
                    batch_bytes // max(1, n_in)
                    if batch_bytes is not None
                    else meta.get("avg_doc_bytes")
                ),
            },
        )
        out = {
            "skipped": False,
            "batch_id": batch_id,
            "n_in": n_in,
            "n_kept": n_kept,
        }
        if profile:
            out["phases"] = phases
        return out
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        batch.unpersist()


def stream_dedup_ingest(
    spark: SparkSession,
    replay_dir: str,
    schema,
    index_base: str,
    out_base: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    keep: str = "min_id",
) -> None:
    """Drive the curation bus over a file-replay stream to completion
    (availableNow): one crawl-slice file per micro-batch.  ``keep``
    passes through to :func:`dedup_ingest_batch`."""
    from frizzle_spark.streaming.pipeline import resolve_stream_input

    path, glob = resolve_stream_input(spark, replay_dir, None)
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    sdf = reader.parquet(path)

    def _body(bdf: DataFrame, bid: int) -> None:
        dedup_ingest_batch(spark, bdf, index_base, out_base, bid, keep=keep)

    q = (
        sdf.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _read_sink_or_empty(spark: SparkSession, path: str) -> DataFrame | None:
    """Read one curation sink, returning ``None`` ONLY for the
    legitimately-not-yet-created path (a bus that has routed nothing to
    this dest).  Any other read failure — corrupt parquet, permission,
    schema drift — propagates: an ingest ledger that silently reports
    "empty" on a damaged sink is worse than one that fails loudly."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: None)() or str(e)
        if "PATH_NOT_FOUND" in cond:
            return None
        raise


def ingest_assignment(spark: SparkSession, out_base: str) -> DataFrame:
    """The replay's full routing verdict, one row per ingested doc:
    (doc_id, dest ∈ {corpus, dlq}, reason ∈ {NULL, dup_index,
    dup_batch}, dup_of = the accepted doc this one duplicates).
    Reads are manifest-aware (streaming/curation_compact.py), so the
    ledger stays exact even inside a sink-compaction crash window."""
    from frizzle_spark.streaming.curation_compact import read_sink_current

    corpus_raw = read_sink_current(spark, f"{out_base}/corpus")
    if corpus_raw is not None:
        corpus = corpus_raw.select(
            "doc_id",
            F.lit("corpus").alias("dest"),
            F.lit(None).cast("string").alias("reason"),
            F.lit(None).cast("long").alias("dup_of"),
        )
    else:
        corpus = spark.createDataFrame([], ASSIGNMENT_SCHEMA)
    dlq_raw = read_sink_current(spark, f"{out_base}/dlq")
    if dlq_raw is not None:
        dlq = dlq_raw.select(
            "doc_id", F.lit("dlq").alias("dest"), "reason", "dup_of"
        )
    else:
        dlq = spark.createDataFrame([], ASSIGNMENT_SCHEMA)
    return corpus.unionByName(dlq)
