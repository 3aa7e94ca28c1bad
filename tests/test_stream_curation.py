"""Gates for the streaming curation bus (qz13_curation_ingest,
streaming/curation.py) — the round-9 composition that runs the
incremental dedup tier INSIDE the micro-batch loop.

What is being proven, in order of importance:

1. the greedy first-occurrence invariant: after the full replay, NO TWO
   ACCEPTED documents are near-dups under the MinHash estimator — the
   property that makes the output corpus a valid dedup result;
2. the streaming machinery adds nothing and loses nothing: an EAGER
   for-loop over the same slices through the same per-batch body
   produces the identical assignment (dest/reason/dup_of per doc);
3. exactly-once: replaying a committed batch_id is a no-op, and a
   stop/restart mid-replay (same checkpoint + meta watermark) converges
   to the one-shot result;
4. the documented benign crash window: duplicated index ROWS (crash
   between index append and meta commit, then redelivery) change no
   decision — the downstream consumers are set-semantic.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from frizzle_spark.streaming.curation import (
    dedup_ingest_batch,
    ingest_assignment,
    stream_dedup_ingest,
)

DOCS_SCHEMA = "doc_id long, text string"
N_SLICES = 4


def _slice(docs, k):
    return docs.where(F.col("doc_id") % N_SLICES == k)


def _write_replay(docs, replay_dir, slices):
    """One file per slice, strictly increasing pinned mtimes."""
    pinned: set[str] = set()
    for k in slices:
        _slice(docs, k).coalesce(1).write.mode("append").parquet(replay_dir)
        for f in sorted(os.listdir(replay_dir)):
            if f.startswith(("_", ".")) or f in pinned:
                continue
            os.utime(os.path.join(replay_dir, f), (1_000_000_000 + k * 60,) * 2)
            pinned.add(f)


def _assignment_map(df):
    return {
        r["doc_id"]: (r["dest"], r["reason"], r["dup_of"]) for r in df.collect()
    }


@pytest.fixture(scope="module")
def ingested(spark, sf_dir, tmp_path_factory):
    """The full sf corpus driven through the streaming bus once."""
    root = str(tmp_path_factory.mktemp("curation_stream"))
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    replay = f"{root}/replay"
    _write_replay(docs, replay, range(N_SLICES))
    stream_dedup_ingest(
        spark, replay, DOCS_SCHEMA, f"{root}/index", f"{root}/out",
        f"{root}/ckpt",
    )
    return root, docs


def test_all_docs_routed_exactly_once(spark, ingested):
    root, docs = ingested
    assign = ingest_assignment(spark, f"{root}/out")
    n_docs = docs.count()
    assert assign.count() == n_docs
    assert assign.select("doc_id").distinct().count() == n_docs


def test_survivors_pairwise_non_neardup(spark, ingested):
    """The invariant the operator exists for: run the SAME estimator
    over the accepted corpus — zero pairs may reach the threshold."""
    from frizzle_spark.operators.dedup import minhash_pairs_of

    root, _ = ingested
    kept = spark.read.parquet(f"{root}/out/corpus").select("doc_id", "text")
    assert minhash_pairs_of(kept).count() == 0


def test_dup_pointers_point_at_survivors(spark, ingested):
    root, _ = ingested
    assign = ingest_assignment(spark, f"{root}/out")
    kept = {r["doc_id"] for r in assign.where("dest = 'corpus'").collect()}
    dropped = assign.where("dest = 'dlq'").collect()
    assert dropped, "corpus has near-dups; the DLQ must not be empty"
    for r in dropped:
        assert r["reason"] in ("dup_index", "dup_batch")
        assert r["dup_of"] in kept, (
            f"doc {r['doc_id']} points at {r['dup_of']}, which was not accepted"
        )


def test_eager_twin_identical(spark, sf_dir, ingested, tmp_path):
    """Streaming result == driving the same per-batch body eagerly:
    proves foreachBatch/checkpoint/replay-order add no semantics."""
    root, docs = ingested
    eager_root = str(tmp_path / "eager")
    for k in range(N_SLICES):
        out = dedup_ingest_batch(
            spark, _slice(docs, k), f"{eager_root}/index",
            f"{eager_root}/out", k,
        )
        assert out["skipped"] is False
    got = _assignment_map(ingest_assignment(spark, f"{eager_root}/out"))
    want = _assignment_map(ingest_assignment(spark, f"{root}/out"))
    assert got == want


def test_committed_batch_replay_is_noop(spark, sf_dir, tmp_path):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    root = str(tmp_path)
    first = dedup_ingest_batch(
        spark, docs, f"{root}/index", f"{root}/out", 0
    )
    assert first["skipped"] is False
    n_before = spark.read.parquet(f"{root}/out/corpus").count()
    replay = dedup_ingest_batch(
        spark, docs, f"{root}/index", f"{root}/out", 0
    )
    assert replay["skipped"] is True
    assert spark.read.parquet(f"{root}/out/corpus").count() == n_before


def test_restart_midway_equals_one_shot(spark, ingested, tmp_path):
    """Phase 1 replays slices 0-1 and stops; slices 2-3 then arrive and
    a SECOND stream run (same checkpoint, meta, index) finishes the
    job.  Final assignment must equal the uninterrupted run's."""
    root, docs = ingested
    r = str(tmp_path)
    replay = f"{r}/replay"
    _write_replay(docs, replay, range(2))
    stream_dedup_ingest(
        spark, replay, DOCS_SCHEMA, f"{r}/index", f"{r}/out", f"{r}/ckpt"
    )
    committed_after_phase1 = ingest_assignment(spark, f"{r}/out").count()
    assert committed_after_phase1 == _slice(docs, 0).count() + _slice(docs, 1).count()
    _write_replay(docs, replay, range(2, N_SLICES))
    stream_dedup_ingest(
        spark, replay, DOCS_SCHEMA, f"{r}/index", f"{r}/out", f"{r}/ckpt"
    )
    got = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    want = _assignment_map(ingest_assignment(spark, f"{root}/out"))
    assert got == want


def test_duplicated_index_rows_change_no_decision(spark, ingested, tmp_path):
    """The documented crash window: a survivor slice appended to the
    index TWICE (crash after append, before meta commit, then replay)
    may only inflate probe cost — the pair SET and hence every routing
    decision is unchanged."""
    from frizzle_spark.operators.dedup import (
        append_minhash_index,
        incremental_neardup,
        materialize_minhash_index,
    )

    root, docs = ingested
    probe = docs.where(F.col("doc_id") % N_SLICES == 3)
    accepted_before = (
        spark.read.parquet(f"{root}/out/corpus")
        .where(F.col("batch_id") < 3)
        .select("doc_id", "text")
    )
    clean, doubled = str(tmp_path / "clean"), str(tmp_path / "doubled")
    materialize_minhash_index(accepted_before, clean)
    materialize_minhash_index(accepted_before, doubled)
    append_minhash_index(accepted_before, doubled)  # the replayed append

    def pairs(index_base):
        return {
            (r["new_id"], r["old_id"])
            for r in incremental_neardup(spark, probe, index_base).collect()
        }

    assert pairs(clean) == pairs(doubled)


def test_local_and_distributed_decide_identical(spark, sf_dir, tmp_path, monkeypatch):
    """The driver-decide tier and the distributed twin must produce the
    IDENTICAL assignment (dest/reason/dup_of per doc) for the full
    4-slice replay, under both survivor rules."""
    import frizzle_spark.streaming.curation as cur

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    out = {}
    for rule in ("min_id", "quality"):
        for cap, tag in ((None, "local"), (0, "dist")):
            if cap is None:
                monkeypatch.setattr(cur, "LOCAL_DECIDE_MAX_DOCS", 1 << 16)
            else:
                monkeypatch.setattr(cur, "LOCAL_DECIDE_MAX_DOCS", 0)
            r = str(tmp_path / f"{rule}_{tag}")
            for k in range(N_SLICES):
                res = dedup_ingest_batch(
                    spark, _slice(docs, k), f"{r}/index", f"{r}/out", k,
                    keep=rule,
                )
                assert res["skipped"] is False
            out[(rule, tag)] = _assignment_map(
                ingest_assignment(spark, f"{r}/out")
            )
        assert out[(rule, "local")] == out[(rule, "dist")], (
            f"decide tiers diverge under keep={rule}"
        )
    # and the tiers' DLQs are non-trivial (the gate isn't vacuous)
    assert any(v[0] == "dlq" for v in out[("min_id", "local")].values())


def test_redelivery_after_uncommitted_index_append(spark, tmp_path):
    """THE crash window: batch N runs to completion INCLUDING the index
    append, crashes before the meta commit, and is redelivered with the
    same batch_id.  The index the redelivered run probes now contains
    batch N's own survivors — the probe must exclude them (self- and
    same-batch matches), or every survivor self-matches at est 1.0 and
    the rewritten corpus partition comes out empty.  Gate: assignment
    AND corpus content are bit-identical to the pre-crash run."""
    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "wanders far away across the wide open field tonight"
    )
    third = (
        "yet another unrelated document discussing minhash signatures "
        "band buckets jaccard thresholds and candidate generation"
    )
    r = str(tmp_path)
    seed = spark.createDataFrame([(0, base)], DOCS_SCHEMA)
    out0 = dedup_ingest_batch(spark, seed, f"{r}/index", f"{r}/out", 0)
    assert out0["skipped"] is False

    # batch 1 exercises every decision path: an index dup (101 ≈ 0), a
    # within-batch cluster (202 survives, 206 is dup_batch), a clean doc
    batch1 = spark.createDataFrame(
        [(101, base + " extra"), (202, third), (206, third + " appended")],
        DOCS_SCHEMA,
    )
    out1 = dedup_ingest_batch(spark, batch1, f"{r}/index", f"{r}/out", 1)
    assert out1 == {"skipped": False, "batch_id": 1, "n_in": 3, "n_kept": 1}
    want = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    want_corpus = sorted(
        tuple(x) for x in spark.read.parquet(f"{r}/out/corpus").collect()
    )
    assert want[202] == ("corpus", None, None)

    # simulate the crash: rewind the committed watermark to 0 while the
    # index KEEPS batch 1's appended survivor signatures
    from frizzle_spark.streaming.curation import (
        _read_ingest_meta,
        _write_ingest_meta,
    )

    meta = _read_ingest_meta(f"{r}/out")
    meta["committed_batch"] = 0
    meta["n_docs_in"] -= out1["n_in"]
    meta["n_docs_kept"] -= out1["n_kept"]
    _write_ingest_meta(f"{r}/out", meta)

    redo = dedup_ingest_batch(spark, batch1, f"{r}/index", f"{r}/out", 1)
    assert redo == out1
    got = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    got_corpus = sorted(
        tuple(x) for x in spark.read.parquet(f"{r}/out/corpus").collect()
    )
    assert got == want
    assert got_corpus == want_corpus


def test_corrupt_sink_raises_not_empty(spark, tmp_path):
    """A damaged corpus sink must surface, not read as an empty
    assignment (the exception guard is for the not-yet-created path
    ONLY)."""
    r = str(tmp_path)
    docs = spark.createDataFrame([(1, "ok doc with words")], DOCS_SCHEMA)
    dedup_ingest_batch(spark, docs, f"{r}/index", f"{r}/out", 0)
    # not-yet-created DLQ alongside a real corpus: still fine
    assert ingest_assignment(spark, f"{r}/out").count() == 1
    with open(f"{r}/out/corpus/batch_id=0/garbage.parquet", "wb") as fh:
        fh.write(b"this is not a parquet file at all" * 10)
    with pytest.raises(Exception) as ei:
        ingest_assignment(spark, f"{r}/out").collect()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_quality_keep_rule(spark, tmp_path):
    """keep='quality' (canonical_keep's rule at ingest time): within a
    batch cluster the punctuation-soup copy loses to the clean copy
    even when it has the smaller doc_id; the default min_id rule keeps
    the smaller id.  Cross-batch first-wins is unchanged by the rule."""
    base = (
        "this is a reasonably long clean document with common stopwords "
        "and it continues for enough words to produce many shingles "
        "so the two variants are well above the jaccard threshold"
    )
    junky = base + " !!! ??? ;;; ::: ,,, ###"  # near-dup, worse quality
    rows = [(10, junky), (11, base)]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)

    out = {}
    for rule in ("min_id", "quality"):
        r = str(tmp_path / rule)
        res = dedup_ingest_batch(
            spark, docs, f"{r}/index", f"{r}/out", 0, keep=rule
        )
        assert res["skipped"] is False and res["n_kept"] == 1
        out[rule] = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    assert out["min_id"][10] == ("corpus", None, None)
    assert out["min_id"][11] == ("dlq", "dup_batch", 10)
    assert out["quality"][11] == ("corpus", None, None)
    assert out["quality"][10] == ("dlq", "dup_batch", 11)

    # cross-batch: a later higher-quality copy is STILL a dup_index drop
    r = str(tmp_path / "quality")
    later = spark.createDataFrame([(12, base + " tail")], DOCS_SCHEMA)
    dedup_ingest_batch(spark, later, f"{r}/index", f"{r}/out", 1, keep="quality")
    got = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    assert got[12] == ("dlq", "dup_index", 11)


@pytest.mark.skipif(
    not os.path.isdir("/tmp/frizzle_sf1"),
    reason="sf1 corpus not built (scripts/scaling_sf1.build_sf1)",
)
def test_quality_keep_rule_sf1_slice(spark, tmp_path):
    """keep='quality' at volume (round 10, VERDICT r9 #6): one sf1
    crawl slice (~12.5k docs) through the batch body under the quality
    rule — the survivor invariant must hold corpus-wide, every
    dup_batch survivor must carry max quality in its cluster, and a
    planted junky/clean near-dup pair must resolve to the clean copy
    regardless of id order."""
    from frizzle_spark.functions.text import quality_score
    from frizzle_spark.operators.dedup import minhash_pairs_of

    docs = (
        spark.read.parquet("/tmp/frizzle_sf1/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") % N_SLICES == 0)
    )
    base = (
        "this is a reasonably long clean document with common stopwords "
        "and it continues for enough words to produce many shingles "
        "so the two variants are well above the jaccard threshold"
    )
    planted = spark.createDataFrame(
        [(900_000_001, base + " !!! ??? ;;; ::: ,,, ###"),
         (900_000_002, base)],
        DOCS_SCHEMA,
    )
    batch = docs.unionByName(planted)
    r = str(tmp_path)
    res = dedup_ingest_batch(
        spark, batch, f"{r}/index", f"{r}/out", 0, keep="quality"
    )
    assert res["skipped"] is False and res["n_in"] == batch.count()
    got = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    assert got[900_000_002] == ("corpus", None, None)
    assert got[900_000_001] == ("dlq", "dup_batch", 900_000_002)
    # survivor invariant corpus-wide under the quality rule
    kept = spark.read.parquet(f"{r}/out/corpus").select("doc_id", "text")
    assert minhash_pairs_of(kept).count() == 0
    # every dup_batch drop points at a survivor with >= its quality
    q = {
        r_["doc_id"]: r_["q"]
        for r_ in batch.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    for d, (dest, reason, dup_of) in got.items():
        if reason == "dup_batch":
            assert q[dup_of] > q[d] or (
                q[dup_of] == q[d] and dup_of < d
            ), (d, dup_of, q[d], q[dup_of])


def test_empty_and_shortdoc_first_slices(spark, tmp_path):
    """Edge regression: the index-readiness watermark must follow
    SIGNATURE count, not batch count.  Slice 0 is empty and slice 1
    holds only a sub-3-word doc (no shingles → no MinHash row): neither
    may flip the probe on, or slice 2's incremental_neardup would read
    index dirs that were never created."""
    long_a = (
        "a genuinely long document with enough words to shingle and "
        "match against later arrivals in the replay"
    )
    rows = [
        (5, "two words"),          # slice 1 — no shingles, accepted as-is
        (6, long_a),               # slice 2 — first real signature
        (7, long_a + " tail"),     # slice 3 — near-dup of 6 → dup_index
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    r = str(tmp_path)
    _write_replay(docs, f"{r}/replay", range(N_SLICES))  # slice 0 empty
    stream_dedup_ingest(
        spark, f"{r}/replay", DOCS_SCHEMA, f"{r}/index", f"{r}/out",
        f"{r}/ckpt",
    )
    got = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    assert got[5] == ("corpus", None, None)
    assert got[6] == ("corpus", None, None)
    assert got[7] == ("dlq", "dup_index", 6)


def test_sink_compaction_preserves_assignment(spark, ingested, tmp_path, monkeypatch):
    """VERDICT r9 #9: folding the per-batch corpus/DLQ partition dirs
    must preserve ingest_assignment BIT-FOR-BIT — over batch dirs that
    pyarrow AND Spark wrote, past a leftover uncommitted generation dir,
    with no Spark job — through every stage of the crash-window protocol
    (generation written but manifest unpublished; manifest published but
    folded dirs undeleted; full cleanup), and a committed-batch replay
    after compaction must remain a no-op."""
    import shutil

    import frizzle_spark.streaming.curation as cur
    from frizzle_spark.streaming.curation_compact import (
        _read_sink_manifest,
        _write_sink_manifest,
        compact_curation_sinks,
        read_sink_current,
    )

    root, docs = ingested
    # the eager twin of the `ingested` replay, with batch 1's corpus
    # forced onto the distributed Spark write
    r = str(tmp_path / "copy")
    for k in range(N_SLICES):
        with monkeypatch.context() as mp:
            if k == 1:
                mp.setattr(cur, "LOCAL_TEXT_MAX_BYTES", 0)
            dedup_ingest_batch(
                spark, _slice(docs, k), f"{r}/index", f"{r}/out", k
            )
    assert os.path.exists(f"{r}/out/corpus/batch_id=1/_SUCCESS")
    want = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    assert want == _assignment_map(ingest_assignment(spark, f"{root}/out"))
    n_dirs_before = len(
        [d for d in os.listdir(f"{r}/out/corpus") if d.startswith("batch_id=")]
    )
    assert n_dirs_before == N_SLICES
    # a crashed earlier run's generation dir, never committed
    shutil.copytree(f"{r}/out/corpus/batch_id=0", f"{r}/out/corpus/batch_id=-1")
    assert _assignment_map(ingest_assignment(spark, f"{r}/out")) == want

    sc = spark.sparkContext
    sc.setJobGroup("sink-compaction", "job-count gate")
    try:
        stats = compact_curation_sinks(spark, f"{r}/out")
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("sink-compaction") == []
    assert stats["corpus"]["folded"] == N_SLICES
    assert stats["corpus"]["rows"] == sum(
        v[0] == "corpus" for v in want.values()
    )
    assert os.listdir(f"{r}/out/corpus/batch_id=-1") == ["part--1.parquet"]
    assert _assignment_map(ingest_assignment(spark, f"{r}/out")) == want
    # all per-batch dirs folded into one generation
    dirs_after = [
        d for d in os.listdir(f"{r}/out/corpus") if d.startswith("batch_id=")
    ]
    assert dirs_after == ["batch_id=-1"]

    # crash windows, replayed on a second copy: (a) generation written,
    # manifest NOT published -> invisible; (b) manifest published,
    # folded dirs NOT deleted -> excluded
    r2 = str(tmp_path / "copy2")
    shutil.copytree(f"{root}/out", f"{r2}/out")
    cur = read_sink_current(spark, f"{r2}/out/corpus")
    fold = cur.drop("batch_id")
    fold.coalesce(1).write.mode("overwrite").parquet(
        f"{r2}/out/corpus/batch_id=-1"
    )
    # (a) unpublished generation: reader must NOT see the doubled rows
    assert read_sink_current(spark, f"{r2}/out/corpus").count() == cur.count()
    # (b) published manifest with folded dirs still present
    m = _read_sink_manifest(f"{r2}/out/corpus")
    _write_sink_manifest(
        f"{r2}/out/corpus",
        {"folded": list(range(N_SLICES)), "live_gens": [-1]},
    )
    assert read_sink_current(spark, f"{r2}/out/corpus").count() == cur.count()

    # replay of a committed batch after compaction is still a no-op
    replay = dedup_ingest_batch(
        spark, docs.limit(10), f"{r}/index", f"{r}/out", 0
    )
    assert replay["skipped"] is True
    assert _assignment_map(ingest_assignment(spark, f"{r}/out")) == want


def test_planted_cross_and_within_slice_dups(spark, tmp_path):
    """Deterministic micro-corpus: doc 101 duplicates doc 0 (earlier
    slice → dup_index), docs 202/203 duplicate each other in ONE slice
    (→ min survives, other is dup_batch)."""
    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "wanders far away across the wide open field tonight"
    )
    other = (
        "completely different content about distributed query engines "
        "processing petabytes of shuffled columnar data every day"
    )
    third = (
        "yet another unrelated document discussing minhash signatures "
        "band buckets jaccard thresholds and candidate generation"
    )
    rows = [
        (0, base),                      # slice 0 — accepted
        (1, other),                     # slice 1 — accepted
        (101, base + " extra"),         # slice 1 — near-dup of 0 → dup_index
        (202, third),                   # slice 2 — cluster min → accepted
        (203, third + " appended"),     # slice 3? no: 203 % 4 == 3
    ]
    # put 202/203 in the SAME slice so the within-batch path fires
    rows[4] = (206, third + " appended")  # 206 % 4 == 2, same slice as 202
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    r = str(tmp_path)
    _write_replay(docs, f"{r}/replay", range(N_SLICES))
    stream_dedup_ingest(
        spark, f"{r}/replay", DOCS_SCHEMA, f"{r}/index", f"{r}/out",
        f"{r}/ckpt",
    )
    got = _assignment_map(ingest_assignment(spark, f"{r}/out"))
    assert got[0] == ("corpus", None, None)
    assert got[1] == ("corpus", None, None)
    assert got[101] == ("dlq", "dup_index", 0)
    assert got[202] == ("corpus", None, None)
    assert got[206] == ("dlq", "dup_batch", 202)


def test_compaction_delete_step_resumes(spark, ingested, tmp_path):
    """ADVICE r10 low: a crash AFTER the manifest commit but BEFORE the
    rmtree leaves folded batch dirs on disk that the next run's
    foldable set excludes — without a resume sweep they are never
    deleted and a PLAIN spark.read.parquet double-counts forever,
    contradicting the module doc.  The next compact_curation_sinks run
    must sweep them so the plain read is exactly correct again."""
    import shutil

    from frizzle_spark.streaming.curation_compact import (
        _read_sink_manifest,
        _write_sink_manifest,
        compact_curation_sinks,
        read_sink_current,
    )

    root, docs = ingested
    r = str(tmp_path / "resume")
    shutil.copytree(f"{root}/out", f"{r}/out")
    corpus = f"{r}/out/corpus"
    want = read_sink_current(spark, corpus).count()

    # simulate the crash window: generation written AND manifest
    # committed, positive dirs NOT deleted
    fold = read_sink_current(spark, corpus).drop("batch_id")
    fold.coalesce(1).write.mode("overwrite").parquet(f"{corpus}/batch_id=-1")
    _write_sink_manifest(
        corpus, {"folded": list(range(N_SLICES)), "live_gens": [-1]}
    )
    stale = [
        d for d in os.listdir(corpus)
        if d.startswith("batch_id=") and not d.startswith("batch_id=-")
    ]
    assert len(stale) == N_SLICES
    # plain read double-counts in the crash window (the defect scenario)
    assert spark.read.parquet(corpus).count() == 2 * want

    compact_curation_sinks(spark, f"{r}/out")
    # stale positive dirs swept; PLAIN read exactly correct again
    left = [
        d for d in os.listdir(corpus)
        if d.startswith("batch_id=") and not d.startswith("batch_id=-")
    ]
    assert left == []
    assert spark.read.parquet(corpus).count() == want
    assert read_sink_current(spark, corpus).count() == want
    # manifest unchanged in meaning: nothing new was foldable
    m = _read_sink_manifest(corpus)
    assert sorted(m["folded"]) == list(range(N_SLICES))


def test_inline_text_hint_paths_identical(spark, sf_dir, tmp_path, monkeypatch):
    """Round-11 corpus-write tiers: batch 0 takes the gated survivor
    PULL (no avg_doc_bytes hint yet), batch 1+ takes the INLINE-text
    collect (hint present); and with the byte gate forced to 0 every
    batch takes the distributed Spark write.  All three corpus layouts
    must read back identically and produce the same assignment."""
    import frizzle_spark.streaming.curation as cur

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )

    def run(tag):
        r = str(tmp_path / tag)
        for k in range(N_SLICES):
            res = dedup_ingest_batch(
                spark, _slice(docs, k), f"{r}/index", f"{r}/out", k
            )
            assert res["skipped"] is False
        corpus = sorted(
            tuple(x)
            for x in spark.read.parquet(f"{r}/out/corpus")
            .drop("batch_id").collect()
        )
        return corpus, _assignment_map(ingest_assignment(spark, f"{r}/out"))

    # normal: pull on batch 0, inline on batches 1..3
    want_corpus, want_assign = run("mixed")
    meta = cur._read_ingest_meta(str(tmp_path / "mixed" / "out"))
    assert meta.get("avg_doc_bytes", 0) > 0  # the hint was recorded

    # byte gate 0: every batch through the distributed Spark write
    monkeypatch.setattr(cur, "LOCAL_TEXT_MAX_BYTES", 0)
    got_corpus, got_assign = run("spark_write")
    assert got_assign == want_assign
    assert got_corpus == want_corpus
