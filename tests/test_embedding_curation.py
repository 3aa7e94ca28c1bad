"""Gates for the embedding curation bus (streaming/embedding_curation).

Synthetic deterministic corpus: unit vectors from a seeded RNG, with
planted near-dup copies (tiny noise, cos > 0.99), so every routing
decision is known by construction.  The invariant gate recomputes the
pairwise survivor property EXACTLY with numpy — no estimator slack.
"""
from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from frizzle_spark.streaming import embedding_curation as EC

# 32 dims: random-pair cosines concentrate near 0 (σ = 1/√32 ≈ 0.18),
# so unplanted pairs sit far below the 0.9 threshold even at the max
# over a few thousand pairs — decisions are planted-only by geometry
DIM = 32
RNG = np.random.RandomState(1234)
NO_IDS = np.empty(0, dtype=np.int64)  # a probe's exclude set, empty


def _mk_vecs(n: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    v = rng.randn(n, DIM)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _df(spark, ids, vecs):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.asarray(ids, dtype=np.int64),
                "embedding": [
                    None if v is None else [_float_or_none(x) for x in v] for v in vecs
                ],
            }
        ),
        "vec_id long, embedding array<float>",
    )


def _float_or_none(x):
    return None if x is None else float(x)


def _noisy(v: np.ndarray, eps: float = 1e-3) -> np.ndarray:
    w = v + eps * RNG.randn(len(v))
    return w / np.linalg.norm(w)


@pytest.fixture()
def bases(tmp_path):
    return str(tmp_path / "index"), str(tmp_path / "out")


def _ingest(spark, bases, batches, **kw):
    index, out = bases
    res = []
    for bid, (ids, vecs) in enumerate(batches):
        res.append(
            EC.embedding_ingest_batch(
                spark, _df(spark, ids, vecs), index, out, bid, **kw
            )
        )
    return res


def _assignment_rows(spark, out):
    return sorted(
        (
            (r["vec_id"], r["dest"], r["reason"], r["dup_of"])
            for r in EC.embedding_assignment(spark, out).collect()
        )
    )


def test_greedy_routing_and_provenance(spark, bases):
    base = _mk_vecs(40)
    # batch 0: 20 originals; batch 1: 10 new + copies of ids 3 and 7
    # (cross-batch) + an internal pair (200, 201 near-dup of each other)
    b0 = (range(20), base[:20])
    dup3, dup7 = _noisy(base[3]), _noisy(base[7])
    pairv = _mk_vecs(1, seed=99)[0]
    b1_ids = list(range(20, 30)) + [103, 107, 200, 201]
    b1_vecs = list(base[20:30]) + [dup3, dup7, pairv, _noisy(pairv)]
    _ingest(spark, bases, [b0, (b1_ids, b1_vecs)])
    rows = dict(
        (vid, (dest, reason, dup_of))
        for vid, dest, reason, dup_of in _assignment_rows(spark, bases[1])
    )
    assert rows[103] == ("dlq", "dup_index", 3)
    assert rows[107] == ("dlq", "dup_index", 7)
    assert rows[200] == ("corpus", None, None)
    assert rows[201] == ("dlq", "dup_batch", 200)
    assert sum(1 for d, _, _ in rows.values() if d == "corpus") == 31
    meta = json.load(open(os.path.join(bases[1], EC.EMB_INGEST_META)))
    assert meta["n_vecs_in"] == 34 and meta["n_vecs_kept"] == 31


def test_survivor_pairwise_invariant_exact(spark, bases):
    # clustered corpus: 12 groups x 5 near-identical members across 3
    # batches — survivors must be pairwise below threshold EXACTLY
    centers = _mk_vecs(12, seed=3)
    ids, vecs = [], []
    for g in range(12):
        for m in range(5):
            ids.append(g * 100 + m)
            vecs.append(_noisy(centers[g], 1e-4))
    batches = [
        (ids[k::3], [vecs[i] for i in range(k, len(vecs), 3)])
        for k in range(3)
    ]
    _ingest(spark, bases, batches)
    corpus = EC.embedding_assignment(spark, bases[1]).where(
        "dest = 'corpus'"
    )
    kept = sorted(r["vec_id"] for r in corpus.collect())
    # greedy first-accepted: one survivor per planted group
    assert len(kept) == 12
    import pyarrow.parquet as pq

    mats, kids = [], []
    for root, _d, files in os.walk(os.path.join(bases[1], "corpus")):
        for f in files:
            if f.endswith(".parquet"):
                tb = pq.read_table(os.path.join(root, f))
                kids += tb["vec_id"].to_pylist()
                mats += tb["embedding"].to_pylist()
    u = np.asarray(mats, dtype=np.float64)
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    sims = np.triu(u @ u.T, k=1)
    assert sims.max(initial=0.0) < EC.EMB_DUP_THRESHOLD
    assert sorted(kids) == kept


def test_replay_noop_and_redelivery_bit_identity(spark, bases):
    index, out = bases
    base = _mk_vecs(30)
    b0 = (range(15), base[:15])
    b1_ids = list(range(15, 28)) + [103]
    b1_vecs = list(base[15:28]) + [_noisy(base[3])]
    _ingest(spark, bases, [b0])

    # deliver batch 1, then CRASH between index append and meta commit:
    # simulate by running batch 1 fully, then rolling the meta watermark
    # back (the index keeps batch 1's survivors — the crash window)
    EC.embedding_ingest_batch(
        spark, _df(spark, b1_ids, b1_vecs), index, out, 1
    )
    want = _assignment_rows(spark, out)
    with open(os.path.join(out, EC.EMB_INGEST_META)) as fh:
        meta = json.load(fh)
    import pyarrow.parquet as pq

    def corpus_bytes():
        out_rows = []
        for root, _d, files in sorted(os.walk(os.path.join(out, "corpus"))):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    tb = pq.read_table(os.path.join(root, f))
                    out_rows += sorted(
                        zip(
                            tb["vec_id"].to_pylist(),
                            map(tuple, tb["embedding"].to_pylist()),
                        )
                    )
        return out_rows

    want_corpus = corpus_bytes()
    meta["committed_batch"] = 0  # roll back: batch 1 uncommitted again
    EC._write_emb_meta(out, meta | {"committed_batch": 0,
                                    "n_vecs_in": 15, "n_vecs_kept": 15})
    res = EC.embedding_ingest_batch(
        spark, _df(spark, b1_ids, b1_vecs), index, out, 1
    )
    assert not res["skipped"]
    assert _assignment_rows(spark, out) == want
    assert corpus_bytes() == want_corpus

    # committed replay is a no-op
    res = EC.embedding_ingest_batch(
        spark, _df(spark, b1_ids, b1_vecs), index, out, 1
    )
    assert res["skipped"]


def test_decon_gate_and_invalid(spark, bases, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = _mk_vecs(10)
    ev = _mk_vecs(2, seed=5)
    # 501 NULL, 502 empty, 503 a vector with a NULL element
    holey = [None] + list(base[9][1:])
    ids = list(range(9)) + [500, 501, 502, 503]
    vecs = list(base[:9]) + [_noisy(ev[0]), None, [], holey]
    _ingest(spark, bases, [(ids, vecs)], eval_vecs=ev)
    rows = dict(
        (vid, (dest, reason))
        for vid, dest, reason, _ in _assignment_rows(spark, bases[1])
    )
    assert rows[500] == ("dlq", "contaminated")
    assert rows[501] == ("dlq", "invalid")
    assert rows[502] == ("dlq", "invalid")
    # a NULL element reads as NaN (np.asarray's None): the NaN row
    # matches nothing, so it survives, with its NULL kept in the corpus
    assert rows[503] == ("corpus", None)
    col = pa.array([[1.0, None], None, [], [3.0, 4.0]], pa.list_(pa.float32()))
    np.testing.assert_array_equal(
        EC._arrow_matrix(col), np.asarray([[1.0, None], [3.0, 4.0]], dtype=float)
    )
    corpus = pq.read_table(os.path.join(bases[1], "corpus"))
    emb = dict(zip(corpus["vec_id"].to_pylist(), corpus["embedding"].to_pylist()))
    assert emb[503][0] is None and emb[503][1:] == [
        float(np.float32(x)) for x in holey[1:]
    ]
    # contaminated and invalid vectors are never indexed
    for root, _d, files in os.walk(os.path.join(bases[0], "lists")):
        for f in files:
            if f.endswith(".parquet"):
                tb = pq.read_table(os.path.join(root, f))
                assert not {500, 501, 502} & set(tb["vec_id"].to_pylist())
    # a ragged batch (two lengths, 4 rows of 12 values in all) raises
    # rather than reshape into 4 rows of 3
    ragged = [base[0][:4], base[1][:2], base[2][:4], base[3][:2]]
    rb = (str(tmp_path / "ri"), str(tmp_path / "ro"))
    with pytest.raises(ValueError):
        _ingest(spark, rb, [(range(4), ragged)])
    assert not os.path.exists(os.path.join(rb[1], "corpus"))


def test_sink_and_list_files_keep_their_bytes(spark, bases, tmp_path):
    # the columnar batch path writes the files the Python-list build
    # wrote: the corpus keeps the input float32 bits under the same
    # schema, and every list and centroid file is byte-identical to a
    # pq.write_table of its table built from Python floats (the young
    # cap is gated on these bytes)
    import pyarrow as pa
    import pyarrow.parquet as pq

    index, out = bases
    base = _mk_vecs(70)
    _ingest(spark, bases, [(range(40), base[:40]), (range(40, 70), base[40:])])
    f32 = base[40:].astype(np.float32)
    corpus = pq.read_table(os.path.join(out, "corpus", "batch_id=1"))
    assert corpus.schema == pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
    )
    assert corpus["vec_id"].to_pylist() == list(range(40, 70))
    got = np.asarray(corpus["embedding"].to_pylist(), dtype=np.float32)
    assert np.array_equal(got.view(np.uint32), f32.view(np.uint32))

    def file_bytes(p: str) -> bytes:
        with open(p, "rb") as fh:
            return fh.read()

    def old_bytes(cols: dict) -> bytes:
        p = str(tmp_path / "old.parquet")
        pq.write_table(pa.table(cols), p)
        return file_bytes(p)

    u = f32.astype(np.float64)
    u = u / np.linalg.norm(u, axis=1, keepdims=True)
    cent = EC._load_centroids(index)
    assign = (u @ cent.T).argmax(axis=1)
    for c in np.unique(assign):
        rows = np.nonzero(assign == c)[0]
        want = old_bytes(
            {
                "vec_id": pa.array((40 + rows).tolist(), pa.int64()),
                "u": pa.array(
                    [list(map(float, r)) for r in u[rows]],
                    pa.list_(pa.float64()),
                ),
            }
        )
        f = os.path.join(index, "lists", f"cluster={c}", EC._own_index_file(1))
        assert file_bytes(f) == want
    cf = os.path.join(index, "centroids", "part-emb-0.parquet")
    want = old_bytes(
        {
            "cluster": pa.array(range(len(cent)), pa.int32()),
            "centroid": pa.array(
                [list(map(float, r)) for r in cent], pa.list_(pa.float64())
            ),
        }
    )
    assert file_bytes(cf) == want


def _plane(seed: int):
    """Unit vectors at angle t from x in the plane of a random
    orthonormal pair (x, y)."""
    x, y = _mk_vecs(2, seed=seed)
    y = y - (y @ x) * x
    y /= np.linalg.norm(y)
    return lambda t: np.cos(t) * x + np.sin(t) * y


def test_over_cap_batch_decided_whole(spark, bases, tmp_path, monkeypatch):
    # a batch over EMB_LOCAL_MAX_VECS takes the same body as any other:
    # one Arrow collect of the whole batch, one decision over it —
    # components that chain past τ, a later member bridging two
    # components, an index dup inside a component, NULL / empty and
    # contaminated vectors — and a redelivery rewrites the same bytes
    collected = []
    frame = type(spark.range(1))
    to_arrow = frame.toArrow

    def spy(df):
        tb = to_arrow(df)
        if "embedding" in tb.column_names:
            collected.append(tb.num_rows)
        return tb

    monkeypatch.setattr(frame, "toArrow", spy)
    monkeypatch.setattr(EC, "EMB_LOCAL_MAX_VECS", 4)
    base = _mk_vecs(40)
    ev = _mk_vecs(1, seed=5)
    th = np.arccos(0.93)  # neighbours at 0.93; two steps apart at 0.73
    chain, idx, bridge = _plane(21), _plane(22), _plane(23)
    phi = np.arccos(0.7)  # P, Q at 0.7; their bisector R at 0.92 to both
    b0 = (list(range(20)) + [30], list(base[:20]) + [idx(0)])
    b1 = {
        100: chain(0), 104: chain(th), 109: chain(2 * th),  # chain
        101: bridge(0), 105: bridge(phi), 112: bridge(phi / 2),  # bridge
        102: idx(th), 106: idx(2 * th),  # 102 an index dup of 30
        103: base[20], 107: base[21], 108: base[22], 110: base[23],
        111: base[24], 113: None, 114: [], 115: _noisy(ev[0]),
        116: _noisy(base[3]),
    }
    batches = [b0, (list(b1), list(b1.values()))]
    index, out = bases
    _ingest(spark, bases, batches, eval_vecs=ev)
    assert collected == [21, 17]  # one collect per batch, every row
    want = _assignment_rows(spark, out)
    rows = {vid: tuple(rest) for vid, *rest in want}
    assert rows[104] == rows[109] == ("dlq", "dup_batch", 100)
    assert rows[105] == rows[112] == ("dlq", "dup_batch", 101)
    assert rows[102] == ("dlq", "dup_index", 30)
    assert rows[106][0] == rows[100][0] == rows[101][0] == "corpus"
    assert rows[113] == rows[114] == ("dlq", "invalid", None)
    assert rows[115] == ("dlq", "contaminated", None)
    assert rows[116] == ("dlq", "dup_index", 3)

    def files():
        return {
            os.path.join(root, f): Path(root, f).read_bytes()
            for top in bases
            for root, _d, fs in os.walk(top)
            for f in fs
            if f.endswith(".parquet")
        }

    before = files()
    EC._write_emb_meta(
        out,
        json.load(open(os.path.join(out, EC.EMB_INGEST_META)))
        | {"committed_batch": 0, "n_vecs_in": 21, "n_vecs_kept": 21},
    )
    res = EC.embedding_ingest_batch(
        spark, _df(spark, *batches[1]), index, out, 1, eval_vecs=ev
    )
    assert not res["skipped"]
    assert files() == before
    assert _assignment_rows(spark, out) == want


def test_forced_pruned_probe_identity(spark, bases, tmp_path, monkeypatch):
    # same decisions whether the probe runs the cluster-cached driver
    # tier or, with a zero cache budget, the broadcast Spark tier
    base = _mk_vecs(60)
    batches = [
        (range(30), base[:30]),
        (
            list(range(30, 50)) + [105, 112],
            list(base[30:50]) + [_noisy(base[5]), _noisy(base[12])],
        ),
    ]
    _ingest(spark, bases, batches)
    want = _assignment_rows(spark, bases[1])

    ib2, ob2 = str(tmp_path / "i2"), str(tmp_path / "o2")
    monkeypatch.setattr(EC, "EMB_CLUSTER_CACHE_MAX_BYTES", 0)
    _ingest(spark, (ib2, ob2), batches)
    assert _assignment_rows(spark, ob2) == want


def _hits_equal(a: dict, b: dict) -> None:
    """Hit-dict identity: same probe rows, same min old_id, cosines to
    float-dot tolerance (BLAS summation order may differ across tiers
    for the SAME vector pair, so bitwise cos equality is not owed)."""
    assert set(a) == set(b)
    for q in a:
        assert a[q][0] == b[q][0]
        assert abs(a[q][1] - b[q][1]) < 1e-9


def test_cluster_cached_probe_identity_and_fallback(
    spark, bases, monkeypatch
):
    # r13 (VERDICT r12 #9): the per-cluster cached tier must produce the
    # broadcast tier's exact hits (routing, exclude mask, min-old_id),
    # cold and warm, and refuse (None) when the budget cannot hold the
    # probed working set
    monkeypatch.setattr(EC, "EMB_PROBE_LOCAL_MAX_BYTES", 0)
    base = _mk_vecs(80)
    _ingest(spark, bases, [(range(60), base[:60])])
    index = bases[0]
    probe_ids = np.asarray([500, 501, 502], dtype=np.int64)
    probes = np.vstack(
        [_noisy(base[5]), _noisy(base[17]), _mk_vecs(1, seed=42)[0]]
    )
    for npb in (2, "all"):
        EC._CLUSTER_CACHE.clear()
        cold = EC._probe_index_pruned_cached(index, probes, 0.9, npb, NO_IDS)
        warm = EC._probe_index_pruned_cached(index, probes, 0.9, npb, NO_IDS)
        bc = EC._probe_index_pruned_broadcast(
            spark, index, probe_ids, probes, 0.9, npb, NO_IDS
        )
        assert cold is not None and cold  # planted dups actually hit
        _hits_equal(cold, warm)
        _hits_equal(cold, bc)
    # exclude masking identical across tiers
    EC._CLUSTER_CACHE.clear()
    got = EC._probe_index_pruned_cached(index, probes, 0.9, 2, np.array([5]))
    bc = EC._probe_index_pruned_broadcast(
        spark, index, probe_ids, probes, 0.9, 2, np.array([5])
    )
    assert got is not None
    _hits_equal(got, bc)
    assert all(old != 5 for old, _ in got.values())
    # budget 0: the pre-load gate refuses before reading anything
    monkeypatch.setattr(EC, "EMB_CLUSTER_CACHE_MAX_BYTES", 0)
    EC._CLUSTER_CACHE.clear()
    assert EC._probe_index_pruned_cached(index, probes, 0.9, 2, NO_IDS) is None
    # ...and the ingest path still works end-to-end via the fallback
    ib2, ob2 = bases[0] + "_fb", bases[1] + "_fb"
    _ingest(
        spark,
        (ib2, ob2),
        [(range(30), base[:30]), ([900], [_noisy(base[7])])],
    )
    rows = dict(
        (vid, (dest, reason, dup_of))
        for vid, dest, reason, dup_of in _assignment_rows(spark, ob2)
    )
    assert rows[900] == ("dlq", "dup_index", 7)


def test_cluster_cache_extend_matches_cold_reload(spark, bases, monkeypatch):
    # the appending batch extends warm blocks in place; a cold re-read
    # of the post-append files must yield the identical probe result
    monkeypatch.setattr(EC, "EMB_PROBE_LOCAL_MAX_BYTES", 0)
    base = _mk_vecs(90)
    _ingest(spark, bases, [(range(40), base[:40])])
    index = bases[0]
    EC._CLUSTER_CACHE.clear()
    # warm the cache over every cluster, then append batch 1 (extends)
    EC._probe_index_pruned_cached(
        index, np.vstack([_noisy(base[i]) for i in range(6)]), 0.9, "all", NO_IDS
    )
    _ingest(
        spark,
        bases,
        [(range(40), base[:40]), (range(40, 80), base[40:80])],
    )
    p2 = np.vstack([_noisy(base[40 + i]) for i in range(6)])
    warm = EC._probe_index_pruned_cached(index, p2, 0.9, "all", NO_IDS)
    EC._CLUSTER_CACHE.clear()
    cold = EC._probe_index_pruned_cached(index, p2, 0.9, "all", NO_IDS)
    assert warm is not None and len(warm) == 6
    _hits_equal(warm, cold)


@pytest.mark.parametrize("tier", ["young", "cluster"])
def test_cache_extend_drops_block_written_between_probe_and_append(
    spark, bases, monkeypatch, tier
):
    # an external writer adds a vector to a cached cluster after one
    # batch's probe and before its append: the append must not stamp
    # that file as cached, so the next batch's probe finds the vector
    import pyarrow as pa
    import pyarrow.parquet as pq

    # young: the exact all-cluster probe under the young cap; cluster:
    # past the cap with the index's default nprobe, where only the
    # batch's probed clusters are cached
    if tier == "cluster":
        monkeypatch.setattr(EC, "EMB_PROBE_LOCAL_MAX_BYTES", 0)
    EC._CLUSTER_CACHE.clear()
    index, out = bases
    base = _mk_vecs(50)
    ext = {}
    _ingest(spark, bases, [(range(40), base[:40])])
    append = EC._append_index_local

    def external_write_then_append(index_base, kept_ids, kept_u, batch_id, cent=None):
        # the external vector is the centroid of a cluster this append
        # touches, so the next probe routes to that cluster first
        cents = EC._load_centroids(index_base)
        c = int(np.argmax(cents @ kept_u[0]))
        ext["u"] = cents[c] / np.linalg.norm(cents[c])
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([7000], pa.int64()),
                    "u": pa.array([list(map(float, ext["u"]))], pa.list_(pa.float64())),
                }
            ),
            os.path.join(index_base, "lists", f"cluster={c}", "part-ext.parquet"),
        )
        return append(index_base, kept_ids, kept_u, batch_id, cent)

    monkeypatch.setattr(EC, "_append_index_local", external_write_then_append)
    EC.embedding_ingest_batch(
        spark, _df(spark, range(40, 50), base[40:50]), index, out, 1
    )
    monkeypatch.setattr(EC, "_append_index_local", append)
    EC.embedding_ingest_batch(
        spark, _df(spark, [8000], [_noisy(ext["u"])]), index, out, 2
    )
    rows = {vid: rest for vid, *rest in _assignment_rows(spark, out)}
    assert rows[8000] == ["dlq", "dup_index", 7000]


def test_cluster_cache_trims_before_refusing(monkeypatch):
    # a refused working set must not leave the cache over its budget
    from collections import OrderedDict

    monkeypatch.setattr(EC, "EMB_CLUSTER_CACHE_MAX_BYTES", 100)
    blk = {"sig": ("stale",), "ids": np.zeros(0), "mat": np.zeros(0), "bytes": 80}
    EC._CLUSTER_CACHE.clear()
    EC._CLUSTER_CACHE["/nowhere"] = OrderedDict({0: dict(blk), 1: dict(blk)})
    monkeypatch.setattr(EC, "_cluster_manifest", lambda base, c: (("f", 60),))
    assert EC._cluster_blocks("/nowhere", [2]) is None
    assert sum(b["bytes"] for b in EC._CLUSTER_CACHE["/nowhere"].values()) <= 100
    EC._CLUSTER_CACHE.clear()


def test_pruned_probe_default_nprobe_catches_planted(
    spark, bases, monkeypatch
):
    # with the DEFAULT (pruned) nprobe a near-identical copy lands in
    # the same nearest cluster as its original — planted dups are still
    # caught when probing is approximate
    monkeypatch.setattr(EC, "EMB_PROBE_LOCAL_MAX_BYTES", 0)
    base = _mk_vecs(50)
    batches = [
        (range(50), base),
        ([1000 + i for i in range(8)], [_noisy(base[i]) for i in range(8)]),
    ]
    _ingest(spark, bases, batches)
    rows = dict(
        (vid, (dest, reason, dup_of))
        for vid, dest, reason, dup_of in _assignment_rows(spark, bases[1])
    )
    for i in range(8):
        assert rows[1000 + i] == ("dlq", "dup_index", i)


def test_empty_first_batch_and_bootstrap(spark, bases):
    index, out = bases
    res0 = EC.embedding_ingest_batch(spark, _df(spark, [], []), index, out, 0)
    assert res0["n_kept"] == 0
    meta = json.load(open(os.path.join(out, EC.EMB_INGEST_META)))
    assert not meta["index_ready"]
    base = _mk_vecs(10)
    res1 = EC.embedding_ingest_batch(
        spark, _df(spark, range(10), base), index, out, 1
    )
    assert res1["n_kept"] == 10
    meta = json.load(open(os.path.join(out, EC.EMB_INGEST_META)))
    assert meta["index_ready"]
    assert json.load(open(os.path.join(index, "index_meta.json")))[
        "n_vectors"
    ] == 10


def test_bus_index_is_search_ivf_compatible(spark, bases):
    # the bus writes the ann_index layout — search_ivf_index must work
    # on it unchanged
    from frizzle_spark.operators.ann_index import search_ivf_index

    base = _mk_vecs(40)
    _ingest(spark, bases, [(range(40), base)])
    import pandas as pd

    probes = spark.createDataFrame(
        pd.DataFrame(
            {"probe_id": [0, 1], "pu": [list(base[0]), list(base[1])]}
        )
    )
    res = search_ivf_index(spark, bases[0], probes, k=3)
    got = res.collect()
    assert {r["probe_id"] for r in got} == {0, 1}
    for pid in (0, 1):
        ranks = sorted(r["rank"] for r in got if r["probe_id"] == pid)
        assert ranks == [1, 2, 3]


def test_stream_twin_matches_batch_twin(spark, bases, tmp_path):
    import pandas as pd

    base = _mk_vecs(32)
    batches = [
        (range(16), base[:16]),
        (list(range(16, 30)) + [102], list(base[16:30]) + [_noisy(base[2])]),
    ]
    _ingest(spark, bases, batches)
    want = _assignment_rows(spark, bases[1])

    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    pinned: set[str] = set()
    for k, (ids, vecs) in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "vec_id": np.asarray(list(ids), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in vecs],
            }
        )
        spark.createDataFrame(
            pdf, "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(replay)
        for f in sorted(os.listdir(replay)):
            if f.startswith(("_", ".")) or f in pinned:
                continue
            os.utime(os.path.join(replay, f), (1_000_000_000 + k * 60,) * 2)
            pinned.add(f)
    ib2, ob2 = str(tmp_path / "i2"), str(tmp_path / "o2")
    EC.stream_embedding_ingest(
        spark, replay, ib2, ob2, str(tmp_path / "ckpt")
    )
    assert _assignment_rows(spark, ob2) == want


def test_retrain_compaction_identity_and_guard(spark, bases, tmp_path):
    # grow an index across batches with a batch-0 quantizer, then
    # retrain-compact: nprobe="all" decisions must be identical, meta k
    # must track the grown corpus, and the interrupted-retrain crash
    # window must be refused loudly
    import shutil

    from frizzle_spark.operators.ann_index import compact_ann_index

    index, out = bases
    base = _mk_vecs(600, seed=11)
    batches = [(range(k * 200, (k + 1) * 200), base[k * 200 : (k + 1) * 200])
               for k in range(3)]
    _ingest(spark, bases, batches)
    k_before = json.load(open(os.path.join(index, "index_meta.json")))["k"]

    res = compact_ann_index(spark, index, retrain=True)
    assert res["k"] >= k_before  # k tracks the grown corpus
    assert res["files_after"] <= res["files_before"]

    # probe the retrained index exactly as batch 3 would, nprobe=all:
    # a noisy copy of an accepted vector must still resolve to it
    probe_batch = ([9000, 9001], [_noisy(base[17]), _mk_vecs(1, seed=77)[0]])
    EC.embedding_ingest_batch(
        spark, _df(spark, *probe_batch), index, out, 3, nprobe="all"
    )
    rows = dict(
        (vid, (dest, reason, dup_of))
        for vid, dest, reason, dup_of in _assignment_rows(spark, out)
    )
    assert rows[9000] == ("dlq", "dup_index", 17)
    assert rows[9001][0] == "corpus"

    # crash-window guard: a lists partition beyond the centroid table
    k_now = json.load(open(os.path.join(index, "index_meta.json")))["k"]
    src = None
    for d in os.listdir(os.path.join(index, "lists")):
        if d.startswith("cluster="):
            src = d
            break
    shutil.copytree(
        os.path.join(index, "lists", src),
        os.path.join(index, "lists", f"cluster={k_now + 5}"),
    )
    with pytest.raises(RuntimeError, match="interrupted"):
        EC._probe_index_pruned_cached(index, base[:1], 0.9, 2, NO_IDS)
