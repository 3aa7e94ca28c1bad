"""Tests for the dedup family and similarity search beyond the oracle:
recall gates for the approximate operators and synthetic unit cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import frizzle_spark.operators.dedup as dd
import frizzle_spark.operators.similarity as sim
from frizzle_spark.plans.registry import REGISTRY


def _pairs(df, c1="d1", c2="d2"):
    return {(r[c1], r[c2]) for r in df.collect()}


def test_minhash_recall_vs_exact(spark, sf_dir):
    exact = _pairs(REGISTRY["q11_ngram_jaccard"].fn(spark, sf_dir))
    approx = _pairs(REGISTRY["qz11_minhash_lsh"].fn(spark, sf_dir))
    if not exact:
        pytest.skip("no near-dup pairs at this SF")
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f} ({len(approx)} candidates)"


def test_simhash_finds_synthetic_neardup(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest to hide from every single hunter nearby"
    )
    variant = base.replace("dark", "cold")
    other = (
        "completely different content about spark query engines and shuffle "
        "partitioning strategies for large scale distributed aggregation jobs"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, variant), (3, other)], ["doc_id", "text"]
    )
    ws = F.split(F.trim(F.col("text")), r"\s+")
    sh = (
        docs.select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    hashed = sh.select("doc_id", F.xxhash64(F.col("shingle")).alias("h64"))
    fps = {r["doc_id"]: r["simhash"] for r in dd.simhash_fingerprints(hashed).collect()}
    ham12 = bin(fps[1] ^ fps[2]).count("1")
    ham13 = bin((fps[1] ^ fps[3]) & ((1 << 64) - 1)).count("1")
    assert ham12 < ham13, (ham12, ham13)
    assert ham12 <= 10


def _topk_pairs(spark, sf_dir, name):
    return {
        (r["probe_id"], r["neighbor_id"])
        for r in REGISTRY[name].fn(spark, sf_dir).collect()
    }


def test_ann_lsh_beats_random_baseline(spark, sf_dir):
    exact = _topk_pairs(spark, sf_dir, "q12_cosine_topk")
    approx = _topk_pairs(spark, sf_dir, "qz12_ann_lsh")
    recall = len(exact & approx) / len(exact)
    # random testdata has no cluster structure (median true-neighbor cos
    # 0.32 at sf0.01 → each hyperplane bit discriminates at p≈0.6 vs 0.5);
    # numpy sweep (scripts/ann_param_sweep.py) puts the derived config
    # (B=10, T=4, H≤2 at n=500) at recall 0.44 / fraction 0.21.  Gate
    # comfortably above the candidate fraction = better than random
    # bucketing, with slack for plane-seed sensitivity.
    assert recall >= 0.35, f"ann recall {recall:.2f}"


def test_exact_dedup_total_count(spark, sf_dir):
    docs_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    groups = REGISTRY["q11_exact_dedup"].fn(spark, sf_dir)
    assert groups.agg(F.sum("n_copies")).collect()[0][0] == docs_n


def test_ivf_beats_candidate_fraction(spark, sf_dir):
    exact = _topk_pairs(spark, sf_dir, "q12_cosine_topk")
    approx = _topk_pairs(spark, sf_dir, "qz12_ivf")
    recall = len(exact & approx) / len(exact)
    # derived params at n=500: K=22, nprobe=2 → ~9% of the corpus
    # scanned; numpy sweep puts recall at 0.36.  On structureless random
    # data recall ≈ candidate fraction for a RANDOM bucketing, so the
    # gate (3× the fraction) proves the quantizer carries real signal.
    assert recall >= 0.27, f"ivf recall {recall:.2f}"


def test_ivfpq_refined_recall_matches_ivf(spark, sf_dir):
    """With the ADC+R refinement (top-6k ADC shortlist re-ranked at
    full precision) IVF-PQ's only remaining recall loss is the coarse
    quantizer's candidate recall — which it SHARES with exact-scoring
    IVF.  Gate both the floor (IVF's 0.27 random-corpus floor, up from
    the pre-refinement 0.25) and near-parity with IVF (measured EQUAL:
    0.36/0.36 at sf0.01, 0.48/0.48 at sf0.1; slack for ADC shortlist
    truncation near exact ties)."""
    exact = _topk_pairs(spark, sf_dir, "q12_cosine_topk")
    pq = _topk_pairs(spark, sf_dir, "qz12_ivfpq")
    ivf = _topk_pairs(spark, sf_dir, "qz12_ivf")
    recall_pq = len(exact & pq) / len(exact)
    recall_ivf = len(exact & ivf) / len(exact)
    assert recall_pq >= 0.27, f"ivfpq recall {recall_pq:.2f}"
    assert recall_pq >= recall_ivf - 0.03, (recall_pq, recall_ivf)


def test_ann_candidate_fractions_bounded(spark, sf_dir):
    """The approximate tier must stay approximate: scanned-candidate
    fraction ≤ 25% at the sf0.01 floor (n=500 — the bits/K floors bind)
    and the helper must agree between operators and bench reporting."""
    fracs = sim.candidate_fractions(spark, sf_dir)
    assert set(fracs) == {
        "qz12_ann_lsh",
        "qz12_ivf",
        "qz12_ivfpq",
        "qz11_embedding_neardup_lsh",
        "qz11_minhash_lsh",
    }
    assert 0 < fracs["qz12_ann_lsh"] <= 0.25, fracs
    assert 0 < fracs["qz12_ivf"] <= 0.15, fracs
    assert fracs["qz12_ivfpq"] == fracs["qz12_ivf"], fracs  # same scan set
    # pairwise tiers: a tiny slice of C(n,2)
    assert 0 < fracs["qz11_embedding_neardup_lsh"] <= 0.25, fracs
    assert 0 < fracs["qz11_minhash_lsh"] <= 0.05, fracs


def test_ivfpq_candidate_membership_equals_ivf(spark, sf_dir):
    """The bench reports ivf's candidate fraction for ivfpq on the
    grounds that both streams derive from _ivf_train's shared
    quantizer/probe set — this gate checks the actual (probe, vec)
    membership identity on real data, so any future drift in either
    path's sampling or assignment trips here rather than silently
    falsifying the published fraction."""
    ivf = {
        (r["probe_id"], r["vec_id"])
        for r in sim.ivf_candidates(spark, sf_dir).select("probe_id", "vec_id").collect()
    }
    pq = {
        (r["probe_id"], r["vec_id"])
        for r in sim.ivfpq_candidates(spark, sf_dir)[0]
        .select("probe_id", "vec_id")
        .collect()
    }
    assert ivf == pq


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """Synthetic clustered corpus: 2,000 vectors, the 10 probe vectors
    (lowest ids) each with a planted near-duplicate at cos≈0.95 — the
    shape real embedding corpora have and the random testdata lacks."""
    import numpy as np

    rng = np.random.RandomState(123)
    base = rng.randn(2000, 64)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    for i in range(10):
        w = rng.randn(64)
        w -= (w @ base[i]) * base[i]
        w /= np.linalg.norm(w)
        base[1000 + i] = 0.95 * base[i] + np.sqrt(1 - 0.95**2) * w
    out = str(tmp_path_factory.mktemp("planted"))
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


@pytest.mark.parametrize("qname", ["qz12_ann_lsh", "qz12_ivf", "qz12_ivfpq"])
def test_ann_planted_neighbors_high_recall(spark, planted_dir, qname):
    """On realistically-clustered data the derived parameters must find
    nearly all planted cos≈0.95 duplicates while scanning ≤12% of the
    corpus — the 100 TB contract: high recall cannot be bought by a
    fat candidate set."""
    found = _topk_pairs(spark, planted_dir, qname)
    planted = {(i, 1000 + i) for i in range(10)}
    hit = sum((p, d) in found for p, d in planted)
    assert hit >= 8, f"{qname}: {hit}/10 planted pairs found"
    frac = sim.candidate_fractions(spark, planted_dir)[qname]
    assert frac <= 0.12, f"{qname} candidate fraction {frac}"


def test_embedding_neardup_lsh_subset_of_exact(spark, sf_dir):
    """The LSH-blocked near-dup re-ranks exactly, so every emitted pair
    must appear in the exact GEMM-grid result with the same cos_sim —
    precision 1.0 by construction; only recall is traded."""
    exact = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in REGISTRY["q11_embedding_neardup"].fn(spark, sf_dir).collect()
    }
    approx = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in REGISTRY["qz11_embedding_neardup_lsh"].fn(spark, sf_dir).collect()
    }
    assert set(approx) <= set(exact), set(approx) - set(exact)
    for pair, cs in approx.items():
        assert abs(cs - exact[pair]) < 1e-9


def test_embedding_neardup_lsh_finds_planted_dups(spark, planted_dir):
    """On the clustered corpus the bucketed path must find the planted
    cos≈0.95 duplicates — the actual dedup use case (true near-dups
    collide in some table with near-certainty; random ≥0.4 pairs are
    the hard, rare tail)."""
    found = {
        (r["id1"], r["id2"])
        for r in REGISTRY["qz11_embedding_neardup_lsh"].fn(spark, planted_dir).collect()
    }
    planted = {(i, 1000 + i) for i in range(10)}
    hit = len(found & planted)
    assert hit >= 9, f"{hit}/10 planted duplicate pairs found"


def test_ann_recall_fraction_tradeoff_curve(spark, sf_dir, monkeypatch):
    """Recall and candidate fraction must move TOGETHER when the knobs
    widen — pinning the trade-off so a future round can't get faster by
    silently scanning (and recalling) less (VERDICT r2 stretch #7)."""
    exact = _topk_pairs(spark, sf_dir, "q12_cosine_topk")

    def lsh_point(tables):
        monkeypatch.setattr(sim, "LSH_TABLES", tables)
        approx = _topk_pairs(spark, sf_dir, "qz12_ann_lsh")
        frac = sim.candidate_fractions(spark, sf_dir)["qz12_ann_lsh"]
        return len(exact & approx) / len(exact), frac

    r1, f1 = lsh_point(1)
    r4, f4 = lsh_point(4)
    assert f1 < f4, (f1, f4)
    assert r1 <= r4, (r1, r4)

    def ivf_point(frac_target):
        monkeypatch.setattr(sim, "IVF_PROBE_FRAC", frac_target)
        approx = _topk_pairs(spark, sf_dir, "qz12_ivf")
        frac = sim.candidate_fractions(spark, sf_dir)["qz12_ivf"]
        return len(exact & approx) / len(exact), frac

    r_lo, f_lo = ivf_point(0.09)
    r_hi, f_hi = ivf_point(0.30)
    assert f_lo < f_hi, (f_lo, f_hi)
    assert r_lo <= r_hi, (r_lo, r_hi)


def test_neardup_block_packing_bounded(spark, sf_dir):
    """The GEMM grid's packed-row size must stay bounded as the corpus
    grows: block count scales as ceil(n/chunk) and no hash block packs
    more than a small factor over the target chunk size (round-1 used a
    FIXED block count, so packed rows grew O(n) — the r2 fix)."""
    from frizzle_spark.functions import vectors as V

    emb = sim.load_table(spark, sf_dir, "embeddings")
    unit = emb.select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("u"),  # normalization irrelevant here
    )
    n = unit.count()
    chunk = 64
    packed = sim._pack_blocks(unit, n, chunk)
    sizes = [r["sz"] for r in packed.select(F.size("ids").alias("sz")).collect()]
    assert len(sizes) == sim._n_blocks(n, chunk) == -(-n // chunk)
    assert sum(sizes) == n
    assert max(sizes) <= 4 * chunk, f"hash skew: max block {max(sizes)} rows"
    # ids sorted within each block (the diagonal-cell triu contract)
    ids = packed.select("ids").collect()
    for r in ids:
        assert r["ids"] == sorted(r["ids"])


def test_incremental_neardup_against_materialized_index(spark, sf_dir, tmp_path):
    """Materialize the corpus MinHash index once, then dedup a 'new
    crawl' (lightly mutated copies of existing docs) against it: each
    mutated doc must surface its source doc as a near-dup, computed
    without re-reading the corpus text."""
    base = str(tmp_path / "mh_index")
    docs = dd.load_table(spark, sf_dir, "documents")
    dd.materialize_minhash_index(docs, base)

    # new slice: 5 long docs with one appended word (high Jaccard vs source)
    src = (
        docs.where(F.size(F.split(F.trim("text"), r"\s+")) >= 30)
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    assert src, "need long docs at this SF"
    new_docs = spark.createDataFrame(
        [(100000 + r["doc_id"], r["text"] + " appended") for r in src],
        "doc_id long, text string",
    )
    pairs = dd.incremental_neardup(spark, new_docs, base)
    got = {(r["new_id"], r["old_id"]) for r in pairs.collect()}
    for r in src:
        assert (100000 + r["doc_id"], r["doc_id"]) in got, (
            f"mutated copy of doc {r['doc_id']} not matched"
        )


def test_band_hash_numpy_twin_bit_identity(spark, sf_dir):
    """band_hashes_np must reproduce the Spark band mix BIT-FOR-BIT on
    the real corpus: the curation bus writes index slices from numpy,
    and a single differing bit would silently split a bucket (missed
    duplicate), so this is a full-corpus exact comparison."""
    import numpy as np

    docs = dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = dd.minhash_signatures(dd.shingles_of(docs, distinct=False))
    tb = sigs.toArrow()
    sids = tb["doc_id"].to_numpy().astype(np.int64)
    mat = np.column_stack(
        [tb[f"h{k}"].to_numpy(zero_copy_only=False)
         for k in range(dd.MINHASH_PERMS)]
    ).astype(np.int64)
    got = dd.band_hashes_np(mat)
    want = {
        (r["doc_id"], r["band_id"]): r["band_hash"]
        for r in dd.band_buckets(sigs).collect()
    }
    assert len(want) == len(sids) * dd.LSH_BANDS
    for i, d in enumerate(sids):
        for b in range(dd.LSH_BANDS):
            assert want[(int(d), b)] == int(got[i, b]), (
                f"doc {d} band {b}: spark {want[(int(d), b)]} != numpy {got[i, b]}"
            )


def test_xxh64_np_primitives_match_spark(spark):
    """The numpy XXH64 primitives (operators/xxh64_np.py) must match
    Spark's xxhash64 expression BIT-FOR-BIT — strings across unicode /
    length boundaries (0..>32 bytes, multi-byte UTF-8, Java-\\s edge
    whitespace), longs, and the chained int→long fold the MinHash
    permutations use.  A single differing bit would silently change
    every signature the driver-side twin produces."""
    import numpy as np

    from frizzle_spark.operators.xxh64_np import (
        hash_bytes_np,
        hash_int_np,
        hash_long_np,
    )

    strs = [
        "", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh", "abcdefghi",
        "0123456789abcde", "0123456789abcdef", "0123456789abcdefg",
        "0123456789abcdefghijklm", "0123456789abcdefghijklmn",
        "0123456789abcdefghijklmnopqrstu", "0123456789abcdefghijklmnopqrstuv",
        "x" * 33, "y" * 100, "héllo wörld", "漢字テスト", "🎉🎊", "a b",
        "tab\there", "mixed 漢 ascii 字 end",
    ]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    want = [r["h"] for r in df.select(F.xxhash64("s").alias("h")).collect()]
    got = hash_bytes_np([s.encode("utf-8") for s in strs]).view(np.int64)
    assert [int(x) for x in got] == want

    longs = [0, 1, -1, 42, 2**62, -(2**62), 123456789123456789]
    ldf = spark.createDataFrame([(x,) for x in longs], "v long")
    lwant = [r["h"] for r in ldf.select(F.xxhash64("v").alias("h")).collect()]
    lgot = hash_long_np(np.array(longs, dtype=np.int64).view(np.uint64), 42)
    assert [int(x) for x in lgot.view(np.int64)] == lwant

    # the exact two-column fold minhash_signatures uses
    for k in (0, 1, 7, 63):
        cwant = [
            r["h"]
            for r in ldf.select(F.xxhash64(F.lit(k), "v").alias("h")).collect()
        ]
        seed = hash_int_np(k, 42)
        cgot = hash_long_np(
            np.array(longs, dtype=np.int64).view(np.uint64), seed
        )
        assert [int(x) for x in cgot.view(np.int64)] == cwant


def test_minhash_signatures_np_twin_bit_identity(spark, sf_dir):
    """minhash_signatures_np must reproduce the full Spark signature
    frame BIT-FOR-BIT over the real corpus plus crafted edge docs
    (ASCII-vs-unicode whitespace, empty split fields, <3-token docs,
    None text) — the driver-decide tier routes on these values."""
    import numpy as np

    docs = dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.collect()
    extra = [
        (10_000_001, "one two"),                  # <3 tokens → no row
        (10_000_002, None),                       # null text → no row
        (10_000_003, "  lead and trail  "),
        (10_000_004, "tab\tsep\nnewline\x0bvt\fff\rcr words"),
        (10_000_005, "nbsp is not java ws"),  #   must NOT split
        (10_000_006, "a b c"),
        (10_000_007, "exactly three words"),
        (10_000_008, "unicode 漢字 mixed 🎉 tokens here"),
    ]
    all_rows = [(r["doc_id"], r["text"]) for r in rows] + extra
    adf = spark.createDataFrame(all_rows, "doc_id long, text string")
    want_tb = dd.minhash_signatures(
        dd.shingles_of(adf, distinct=False)
    ).toArrow()
    want = {
        int(d): [
            int(want_tb[f"h{k}"][i].as_py())
            for k in range(dd.MINHASH_PERMS)
        ]
        for i, d in enumerate(want_tb["doc_id"].to_pylist())
    }
    sids, mat = dd.minhash_signatures_np(
        [d for d, _ in all_rows], [t for _, t in all_rows]
    )
    got = {int(d): [int(x) for x in mat[i]] for i, d in enumerate(sids)}
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], f"doc {d} signature mismatch"


def test_local_index_append_probe_identical(spark, sf_dir, tmp_path):
    """An index slice appended by the driver-side pyarrow writer must be
    INDISTINGUISHABLE to the probe from the same slice appended by the
    Spark writer: identical pair sets from both layouts, under both the
    full-scan and rowgroup probe tiers."""
    import numpy as np

    docs = dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_docs = docs.where(F.col("doc_id") % 2 == 0)
    slice_docs = docs.where(F.col("doc_id") % 2 == 1)
    spark_idx, local_idx = str(tmp_path / "sparkw"), str(tmp_path / "localw")
    dd.materialize_minhash_index(base_docs, spark_idx)
    dd.materialize_minhash_index(base_docs, local_idx)
    # append the slice: Spark writer vs driver pyarrow writer
    sigs = dd.minhash_signatures(dd.shingles_of(slice_docs, distinct=False))
    n_spark = dd.append_minhash_index(slice_docs, spark_idx)
    tb = sigs.toArrow()
    ids = tb["doc_id"].to_numpy().astype(np.int64)
    mat = np.column_stack(
        [tb[f"h{k}"].to_numpy(zero_copy_only=False)
         for k in range(dd.MINHASH_PERMS)]
    ).astype(np.int64)
    n_local = dd.append_minhash_index_local(ids, mat, local_idx)
    assert n_local == n_spark > 0

    probe = docs.limit(15).select(
        (F.col("doc_id") + F.lit(900_000)).alias("doc_id"),
        F.concat("text", F.lit(" probe tail")).alias("text"),
    )
    for mode in ("full", "rowgroup"):
        a = sorted(
            tuple(r)
            for r in dd.incremental_neardup(
                spark, probe, spark_idx, probe_mode=mode
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in dd.incremental_neardup(
                spark, probe, local_idx, probe_mode=mode
            ).collect()
        )
        assert a, "probe must surface pairs"
        assert a == b, f"layouts diverge under probe_mode={mode}"


def _compaction_tier(tier, monkeypatch):
    """Pin compact_minhash_index's tier: the driver rebuild under the
    default cap, the Spark rewrite with the cap forced to 0."""
    if tier == "spark":
        monkeypatch.setattr(dd, "PROBE_LOCAL_MAX_INDEX_BYTES", 0)


@pytest.mark.parametrize("tier", ["local", "spark"])
def test_index_compaction_probe_identity(spark, sf_dir, tmp_path, tier, monkeypatch):
    """compact_minhash_index must be invisible to the probe: identical
    pair sets before and after, under every probe tier and on both
    compaction tiers, while the band-file count collapses (the
    append-accumulated small files are the thing being fixed)."""
    _compaction_tier(tier, monkeypatch)
    base = str(tmp_path / "mh_index")
    docs = dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    dd.materialize_minhash_index(half_a, base)
    dd.append_minhash_index(half_b, base)  # append-shaped second slice
    probe = docs.limit(12).select(
        (F.col("doc_id") + F.lit(600_000)).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )

    def pairs(mode):
        return sorted(
            tuple(r)
            for r in dd.incremental_neardup(
                spark, probe, base, probe_mode=mode
            ).collect()
        )

    before = {m: pairs(m) for m in ("full", "bitmap", "rowgroup")}
    assert before["full"], "probe must surface pairs"
    files_before = len(dd._list_index_files(f"{base}/bands", "band_id"))
    stats = dd.compact_minhash_index(spark, base)
    files_after = len(dd._list_index_files(f"{base}/bands", "band_id"))
    assert files_after < files_before
    assert stats["tier"] == tier
    assert stats["bands_rows"] == dd.LSH_BANDS * stats["signatures_rows"] > 0
    for m in ("full", "bitmap", "rowgroup"):
        assert pairs(m) == before[m], f"compaction changed pairs under {m}"


def _sig_arrays(spark, docs):
    """(ids, mat) of ``docs``' signatures, collected for the driver
    writer."""
    import numpy as np

    tb = dd.minhash_signatures(dd.shingles_of(docs, distinct=False)).toArrow()
    ids = tb["doc_id"].to_numpy().astype(np.int64)
    mat = np.column_stack(
        [tb[f"h{k}"].to_numpy(zero_copy_only=False)
         for k in range(dd.MINHASH_PERMS)]
    ).astype(np.int64)
    return ids, mat


def test_mixed_index_compaction_tiers_identical(spark, sf_dir, tmp_path, monkeypatch):
    """An index holding BOTH Spark-written and driver-written files must
    compact to the same probe answers and row counts on either tier, and
    the driver rebuild must run no Spark job at all."""
    import shutil

    docs = dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = str(tmp_path / "mixed")
    dd.materialize_minhash_index(docs.where(F.col("doc_id") % 3 == 0), base)
    dd.append_minhash_index(docs.where(F.col("doc_id") % 3 == 1), base)
    assert dd.append_minhash_index_local(
        *_sig_arrays(spark, docs.where(F.col("doc_id") % 3 == 2)), base
    ) > 0
    copies = {t: str(tmp_path / t) for t in ("local", "spark")}
    for c in copies.values():
        shutil.copytree(base, c)
    probe = docs.limit(15).select(
        (F.col("doc_id") + F.lit(910_000)).alias("doc_id"),
        F.concat("text", F.lit(" probe tail")).alias("text"),
    )
    pids, pmat = _sig_arrays(spark, probe)

    def pairs(idx):
        return (
            sorted(
                tuple(r)
                for r in dd.incremental_neardup(
                    spark, probe, idx, probe_mode="full"
                ).collect()
            ),
            sorted(dd.incremental_neardup_local(pids, pmat, idx)),
        )

    want = pairs(base)
    assert want[0], "probe must surface pairs"
    sc = spark.sparkContext
    sc.setJobGroup("local-index-compaction", "job-count gate")
    try:
        got_local = dd.compact_minhash_index(spark, copies["local"])
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("local-index-compaction") == []
    monkeypatch.setattr(dd, "PROBE_LOCAL_MAX_INDEX_BYTES", 0)
    got_spark = dd.compact_minhash_index(spark, copies["spark"])
    assert (got_local["tier"], got_spark["tier"]) == ("local", "spark")
    for k in ("bands_rows", "signatures_rows", "files_before"):
        assert got_local[k] == got_spark[k], k
    assert pairs(copies["local"]) == want
    assert pairs(copies["spark"]) == want


@pytest.mark.parametrize("tier", ["local", "spark"])
def test_index_compaction_heals_truncated_append(spark, tmp_path, tier, monkeypatch):
    """A crash inside an append after its signature file but before its
    band files leaves signatures the probe cannot reach.  The driver
    rebuild re-derives the bands from the signatures, so the next probe
    finds the pair; the Spark rewrite cannot, and its row-count check
    refuses to swap (the live index stays as it was)."""
    import glob
    import os

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (i, " ".join(f"{w}{i}" for w in words * 2)) for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "trunc")
    dd.materialize_minhash_index(docs.where(F.col("doc_id") < 4), base)
    dd.append_minhash_index_local(
        *_sig_arrays(spark, docs.where(F.col("doc_id") >= 4)), base
    )
    for p in glob.glob(f"{base}/bands/band_id=*/part-local-*.parquet"):
        os.remove(p)
    pids, pmat = _sig_arrays(
        spark,
        spark.createDataFrame([(105, rows[5][1] + " tail")], "doc_id long, text string"),
    )
    assert dd.incremental_neardup_local(pids, pmat, base) == []
    _compaction_tier(tier, monkeypatch)
    if tier == "spark":
        with pytest.raises(ValueError, match="band rows"):
            dd.compact_minhash_index(spark, base)
        assert dd.incremental_neardup_local(pids, pmat, base) == []
        return
    stats = dd.compact_minhash_index(spark, base)
    assert stats["signatures_rows"] == 6
    assert stats["bands_rows"] == 6 * dd.LSH_BANDS
    assert [(n, o) for n, o, _ in dd.incremental_neardup_local(pids, pmat, base)] == [(105, 5)]


def test_local_probe_identity(spark, sf_dir, tmp_path):
    """The driver-side probe (incremental_neardup_local, the curation
    bus's young-index fast path) must return the IDENTICAL
    (new_id, old_id, est_jaccard) set as the Spark 'full' probe."""
    import numpy as np

    base = str(tmp_path / "mh_index")
    docs = dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dd.materialize_minhash_index(docs, base)
    new_docs = (
        docs.orderBy(F.desc("doc_id"))
        .limit(30)
        .select(
            (F.col("doc_id") + F.lit(800_000)).alias("doc_id"),
            F.concat("text", F.lit(" appended")).alias("text"),
        )
    )
    want = {
        tuple(r)
        for r in dd.incremental_neardup(
            spark, new_docs, base, probe_mode="full"
        ).collect()
    }
    assert want
    tb = dd.minhash_signatures(
        dd.shingles_of(new_docs, distinct=False)
    ).toArrow()
    ids = tb["doc_id"].to_numpy().astype(np.int64)
    mat = np.column_stack(
        [tb[f"h{k}"].to_numpy(zero_copy_only=False)
         for k in range(dd.MINHASH_PERMS)]
    ).astype(np.int64)
    got = set(dd.incremental_neardup_local(ids, mat, base))
    assert got == want, f"local probe drift: {got ^ want}"
    # empty batch, empty result
    assert dd.incremental_neardup_local(
        np.empty(0, np.int64), np.empty((0, 64), np.int64), base
    ) == []


def test_dedup_clusters_auto_identity(spark, sf_dir):
    """The driver union-find tier must label EXACTLY like the
    distributed min-label fixpoint (min doc_id of the connected
    component), on the corpus's real pair set, under both the local
    tier and a forced fallback."""
    pairs = dd.minhash_pairs_of(
        dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("d1", "d2")
    want = {
        (r["doc_id"], r["cluster_rep"])
        for r in dd.dedup_clusters(pairs).collect()
    }
    assert want, "corpus has planted near-dups"
    got_local = {
        (r["doc_id"], r["cluster_rep"])
        for r in dd.dedup_clusters_auto(spark, pairs).collect()
    }
    got_fallback = {
        (r["doc_id"], r["cluster_rep"])
        for r in dd.dedup_clusters_auto(spark, pairs, max_local_edges=0).collect()
    }
    assert got_local == want
    assert got_fallback == want
    # empty pair set: empty labels, correct schema
    empty = dd.dedup_clusters_auto(
        spark, spark.createDataFrame([], "d1 long, d2 long")
    )
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "cluster_rep"]


def test_probe_tiers_identical_pairs(spark, sf_dir, tmp_path):
    """All four probe tiers (full / bitmap / rowgroup / auto) must
    return the IDENTICAL pair set — they differ only in how much of the
    stored index the probe reads and shuffles."""
    base = str(tmp_path / "mh_index")
    docs = dd.load_table(spark, sf_dir, "documents")
    dd.materialize_minhash_index(docs, base)
    new_docs = (
        docs.orderBy(F.desc("doc_id"))
        .limit(25)
        .select(
            (F.col("doc_id") + F.lit(500_000)).alias("doc_id"),
            F.concat("text", F.lit(" appended")).alias("text"),
        )
    )
    ref = None
    for mode in ("full", "bitmap", "rowgroup", "auto"):
        got = sorted(
            tuple(r)
            for r in dd.incremental_neardup(
                spark, new_docs, base, probe_mode=mode
            ).collect()
        )
        if ref is None:
            ref = got
            assert ref, "planted mutations must surface pairs"
        assert got == ref, f"probe_mode={mode} diverged from 'full'"


def test_bitmap_probe_plan_gate(spark, sf_dir, tmp_path):
    """The bitmap tier's stored-band scan must reach the join only
    through the broadcast mask test: the executed plan carries the
    bitwiseAND bit-test filter and a broadcast exchange feeding it."""
    base = str(tmp_path / "mh_index")
    docs = dd.load_table(spark, sf_dir, "documents")
    dd.materialize_minhash_index(docs, base)
    new_docs = docs.limit(10).select(
        (F.col("doc_id") + F.lit(500_000)).alias("doc_id"), "text"
    )
    pairs = dd.incremental_neardup(spark, new_docs, base, probe_mode="bitmap")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "shiftleft(1," in plan and "& shiftleft(1," in plan, (
        "stored-band scan is not gated by the bitmap bit test:\n" + plan[:2000]
    )
    assert "BroadcastExchange" in plan


def test_rowgroup_probe_prunes_io(spark, sf_dir, tmp_path, monkeypatch):
    """The rowgroup tier must actually skip index I/O.  Pruning bites
    when per-file row groups outnumber probe keys (I/O floor = keys x
    row-group rows — the law in the dedup.py header), so the gate
    builds a many-group index (tiny block size) and probes with FEWER
    keys than groups: the witness must read a strict minority of rows,
    and an empty key set must read nothing.  The 10x/100x wall curve at
    production group size is the scale record's job
    (CURATION_PROBE_SCALE.json); this pins the mechanism."""
    import numpy as np

    monkeypatch.setattr(dd, "_BAND_RG_BYTES", 4096)  # ~250 rows/group
    base = str(tmp_path / "mh_index")
    docs = dd.load_table(spark, sf_dir, "documents")
    # 8 distinct-text replicas: enough signature rows that every band
    # file holds MANY row groups at the tiny block size
    reps = spark.range(8).select(F.col("id").alias("rep"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") * 8 + F.col("rep")).alias("doc_id"),
        F.concat("text", F.lit(" variant "), F.col("rep")).alias("text"),
    )
    dd.materialize_minhash_index(big, base)
    stats_none = dd.rowgroup_prune_stats(
        f"{base}/bands", "band_hash", [], part_col="band_id"
    )
    assert stats_none["rows_read"] == 0  # empty key set reads nothing
    assert stats_none["row_groups_total"] > 2 * dd.LSH_BANDS, (
        "index too few row groups for the gate to be meaningful"
    )
    # 2 probe points against many disjoint sorted ranges: each point
    # lands in at most one group per file
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, 2, dtype=np.int64)
    stats = dd.rowgroup_prune_stats(
        f"{base}/bands", "band_hash", keys, part_col="band_id"
    )
    assert stats["rows_total"] > 0
    assert stats["rows_read"] <= stats["rows_total"] // 2, (
        f"no real pruning: {stats}"
    )
    # end-to-end through the scan tasks: identical pairs vs full join
    new_docs = docs.limit(8).select(
        (F.col("doc_id") + F.lit(700_000)).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    got = sorted(
        tuple(r)
        for r in dd.incremental_neardup(
            spark, new_docs, base, probe_mode="rowgroup"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in dd.incremental_neardup(
            spark, new_docs, base, probe_mode="full"
        ).collect()
    )
    assert got == want


def test_chunking_reconstructs_document(spark, sf_dir):
    """Chunk windows must tile every document exactly: dropping each
    chunk's overlap prefix (stride words) and concatenating in chunk_id
    order reproduces the original whitespace-normalized text."""
    from frizzle_spark.plans.text_queries import CHUNK_STRIDE

    chunks = REGISTRY["qz14_chunk"].fn(spark, sf_dir).collect()
    by_doc: dict[int, dict[int, str]] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
    docs = {
        r["doc_id"]: " ".join(r["text"].split())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert set(by_doc) == set(docs)
    for doc_id, parts in by_doc.items():
        assert sorted(parts) == list(range(len(parts))), doc_id
        words: list[str] = []
        for cid in range(len(parts)):
            cw = parts[cid].split(" ") if parts[cid] else [""]
            words.extend(cw if cid == 0 else cw[len(words) - cid * CHUNK_STRIDE :])
        assert " ".join(w for w in words if w or len(words) == 1) == docs[doc_id], doc_id


def test_repetition_synthetic_extremes(spark):
    """rep ratios hit their definitional extremes: all-unique text → 0,
    a doc that is one phrase repeated → (n-k)/n duplicated n-grams."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("rep_docs")
    from frizzle_spark.functions import text as T
    from frizzle_spark.plans import text_queries as TQ

    ws = F.split(F.trim(F.col("text")), T.WS_RE)
    out = {
        r["doc_id"]: (r["rep1"], r["rep2"], r["rep3"])
        for r in docs.select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.round(
                1
                - F.size(F.array_distinct(F.col("ws")))
                / F.size(F.col("ws")).cast("double"),
                6,
            ).alias("rep1"),
            TQ._rep_col(2).alias("rep2"),
            TQ._rep_col(3).alias("rep3"),
        )
        .collect()
    }
    assert out[1] == (0.0, 0.0, 0.0)
    # 8 words of 'spam': rep1 = 7/8; 7 identical 2-grams → 6/7; 6 identical 3-grams → 5/6
    assert out[2] == (round(7 / 8, 6), round(6 / 7, 6), round(5 / 6, 6))


def test_dup_clusters_match_union_find(spark, sf_dir):
    """dedup_clusters must equal a driver-side union-find over the same
    pair set — including transitive closure (A~B, B~C ⇒ one cluster)."""
    pairs = [(r["d1"], r["d2"]) for r in REGISTRY["q11_ngram_jaccard"].fn(spark, sf_dir).collect()]
    if not pairs:
        pytest.skip("no near-dup pairs at this SF")
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in REGISTRY["qz11_dup_clusters"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_dup_clusters_transitive_chain(spark):
    """Synthetic chain a-b, b-c, c-d plus an isolated pair: one cluster
    of 4 with rep=min, one of 2 — proves multi-hop label propagation."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "d1 long, d2 long"
    )
    got = {
        r["doc_id"]: r["cluster_rep"] for r in dd.dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_semantic_decontaminate_matches_numpy(spark, sf_dir):
    """The map-side GEMM report must equal a driver-side numpy
    recomputation exactly: same eval set (lowest-100 ids), same max-sim
    per corpus doc, same keep verdicts at τ."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in emb])
    X = np.array([[float(x) for x in r["embedding"]] for r in emb])
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    ne = sim.SEMDECON_EVAL_N
    want = {
        int(ids[j]): float((U[j] @ U[:ne].T).max()) for j in range(ne, len(ids))
    }
    got = {
        r["vec_id"]: (r["max_eval_sim"], r["keep"])
        for r in REGISTRY["qz11_semantic_decontaminate"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for vid, mx in want.items():
        g_sim, g_keep = got[vid]
        assert abs(g_sim - round(mx, 6)) <= 1e-9, (vid, g_sim, mx)
        # keep must be self-consistent with the PUBLISHED (rounded) sim
        assert g_keep == (g_sim < sim.SEMDECON_THRESHOLD), (vid, g_sim)


def test_semantic_decontaminate_drops_planted_contamination(spark, planted_dir):
    """Planted cos≈0.95 copies of eval-set members (ids 1000-1009 vs
    eval ids 0-9) must all be flagged as contaminated."""
    rep = {
        r["vec_id"]: r["keep"]
        for r in REGISTRY["qz11_semantic_decontaminate"].fn(spark, planted_dir).collect()
    }
    for i in range(10):
        assert rep[1000 + i] is False, f"planted contamination {1000+i} kept"


def test_query_directed_masks_invariants():
    """Driver-side invariants of the margin-ranked probe ranking: exact
    bucket (mask 0) always first, masks distinct, exactly `budget`
    probes, flips confined to the declared pool, and scores of the
    chosen set dominate (no unchosen subset scores below a chosen one)."""
    import numpy as np

    rng = np.random.RandomState(3)
    for bits in (6, 12, 15):
        z = rng.randn(bits)
        budget = 1 + bits + bits * (bits - 1) // 2
        masks = sim._query_directed_masks(z, budget)
        assert masks[0] == 0
        assert len(masks) == len(set(masks)) == budget
        az = np.abs(z)
        score = lambda m: sum(az[j] for j in range(bits) if m >> j & 1)  # noqa: E731
        chosen = sorted(score(m) for m in masks)
        # worst chosen single/double flip never beats the best unchosen
        unchosen_singles = [score(1 << j) for j in range(bits) if (1 << j) not in masks]
        if unchosen_singles:
            assert max(chosen) <= min(unchosen_singles) + 1e-12


def test_dup_clusters_deep_chain_pointer_doubling(spark):
    """A 200-hop path graph converges well inside max_iter=25: plain
    min-label propagation would need ~200 rounds, pointer doubling
    closes it in O(log 200) ≈ 8.  Also checks the non-convergence guard:
    with max_iter=2 the same chain must raise, never return partial
    labels silently."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "d1 long, d2 long"
    ).repartition(8)
    got = {
        r["doc_id"]: r["cluster_rep"] for r in dd.dedup_clusters(pairs).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.dedup_clusters(pairs, max_iter=2)


def test_sequence_packing_invariants(spark, sf_dir):
    """qz14_pack: every chunk appears in exactly one sequence (word
    totals conserved), every sequence respects the budget, and greedy
    fill is efficient (mean fill ≥ 60% of budget over full sequences)."""
    from frizzle_spark.plans.text_queries import SEQ_BUDGET_WORDS

    chunks = REGISTRY["qz14_chunk"].fn(spark, sf_dir)
    total_words = chunks.agg(F.sum("n_words_chunk")).collect()[0][0]
    n_chunks = chunks.count()

    seqs = REGISTRY["qz14_pack"].fn(spark, sf_dir).collect()
    assert len({r["seq_id"] for r in seqs}) == len(seqs)
    assert sum(r["n_chunks"] for r in seqs) == n_chunks
    assert sum(r["n_words"] for r in seqs) == total_words
    assert all(r["n_words"] <= SEQ_BUDGET_WORDS for r in seqs)
    # text really carries the packed words (separator-joined)
    for r in seqs[:20]:
        assert len(r["text"].split(" ")) >= r["n_words"] - r["n_chunks"]
    # all but the per-partition tail sequences should be well filled
    fills = sorted(r["n_words"] / SEQ_BUDGET_WORDS for r in seqs)
    n_tail = spark.sparkContext.defaultParallelism
    full = fills[: max(1, len(fills) - n_tail)]
    assert sum(full) / len(full) >= 0.6, sum(full) / len(full)


def test_decontaminate_flags_planted_passage(spark, tmp_path):
    """A train doc embedding one 8-word passage from a benchmark doc must
    be flagged; an unrelated doc must not.  End-to-end through the query
    on a planted documents.parquet (the oracle differential covers the
    real corpus; this pins the semantics on a known contamination)."""
    passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (10, f"BENCH leading words {passage} closing remark"),  # benchmark (id % 10 == 0)
        (11, f"prefix words sit here {passage} and a trailing tail"),
        (12, "totally unrelated filler words repeated " * 3),
    ]
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r["n_shared"]
        for r in REGISTRY["qz11_decontaminate"].fn(spark, str(tmp_path)).collect()
    }
    assert 11 in out and out[11] >= 1, f"planted contamination missed: {out}"
    assert 12 not in out, f"clean doc falsely flagged: {out}"


def test_sq8_recall_near_exact(spark, sf_dir):
    """Flat SQ8 scans everything but scores from int8 codes, so its only
    loss is quantization noise — measured recall 1.0 at sf0.01 AND
    sf0.1 (per-dim affine error ~1e-3 per dot, below the rank-5 score
    gaps even on the random corpus); gate with slack for train-sample
    sensitivity.  The dequantized score must also track exact cosine
    tightly for every returned pair."""
    exact_df = REGISTRY["q12_cosine_topk"].fn(spark, sf_dir).collect()
    exact = {(r["probe_id"], r["neighbor_id"]) for r in exact_df}
    exact_cos = {(r["probe_id"], r["neighbor_id"]): r["cos_sim"] for r in exact_df}
    rows = REGISTRY["qz12_sq8"].fn(spark, sf_dir).collect()
    got = {(r["probe_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"sq8 recall {recall:.2f}"
    for r in rows:
        key = (r["probe_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(r["cos_sim"] - exact_cos[key]) < 0.01, (key, r["cos_sim"])


def test_sq8_planted_neighbors_recovered(spark, planted_dir):
    """On the planted corpus the cos≈0.95 duplicates are far above the
    quantization noise floor — SQ8 must recover all of them."""
    found = _topk_pairs(spark, planted_dir, "qz12_sq8")
    planted = {(i, 1000 + i) for i in range(10)}
    hit = sum(p in found for p in planted)
    assert hit == 10, f"sq8: {hit}/10 planted pairs found"


def test_ppjoin_candidate_reduction(spark, sf_dir):
    """The prefix join must touch far fewer pairs than the full inverted
    index — that reduction IS the operator's reason to exist.  At τ=0.8
    on the sf0.01 corpus: 25 candidates vs 11,533 full-index pairs
    (461×); gate at 5% with wide slack for corpus drift."""
    sh = dd._shingles(spark, sf_dir)
    n_cand = dd.ppjoin_candidates(sh).count()
    full = (
        sh.selectExpr("doc_id AS d1", "shingle")
        .join(sh.selectExpr("doc_id AS d2", "shingle"), "shingle")
        .where("d1 < d2")
        .select("d1", "d2")
        .distinct()
        .count()
    )
    assert n_cand <= 0.05 * full, f"ppjoin candidates {n_cand} vs full {full}"


def test_ppjoin_equals_bruteforce_random_sets(spark):
    """Prefix-lemma safety net beyond the driver corpus: random token
    sets over a small universe (forcing heavy overlap and boundary-
    exact Jaccards like exactly 4/5), PPJoin output == python brute
    force.  A prefix one token too short would drop a pair here."""
    import itertools
    import random

    rng = random.Random(7)
    universe = [f"t{i}" for i in range(30)]
    sets = {}
    for d in range(60):
        base = rng.sample(universe, rng.randint(5, 20))
        sets[d] = set(base)
    # plant boundary pairs: |A∩B|/|A∪B| == exactly 4/5 (8 shared, 2 extra)
    for d, off in ((100, 0), (102, 1)):
        shared = universe[off : off + 8]
        sets[d] = set(shared) | {f"x{d}"}
        sets[d + 1] = set(shared) | {f"y{d}"}
    rows = [(d, t) for d, toks in sets.items() for t in toks]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r["d1"], r["d2"]) for r in dd.jaccard_join_pairs(sh).collect()
    }
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * dd.PPJOIN_TAU_DEN >= union * dd.PPJOIN_TAU_NUM:
            want.add((a, b))
    assert (100, 101) in want and (102, 103) in want  # boundary pairs exist
    assert got == want, f"missing={want - got} extra={got - want}"


def test_persisted_ivf_index_matches_session_ivf(spark, sf_dir, tmp_path):
    """Index-once / search-many: a search against the parquet-persisted
    IVF index must return the IDENTICAL result set as the in-session
    qz12_ivf query (same deterministic quantizer, same probes, same
    re-ranking), and the lists scan must actually prune — only the
    probed cluster directories' files may be read."""
    from frizzle_spark.operators import ann_index as ai
    from frizzle_spark.operators.similarity import _ivf_train

    base = str(tmp_path / "ivf_index")
    meta = ai.materialize_ivf_index(spark, sf_dir, base)
    assert meta["k"] > 0 and meta["nprobe"] > 0

    trained = _ivf_train(spark, sf_dir)
    unit, sample, x, cent, pid, pu, top_clusters = trained
    probes = spark.createDataFrame(
        [(int(p), [float(v) for v in vec]) for p, vec in zip(pid, pu)],
        "probe_id long, pu array<double>",
    )
    got = {
        (r["probe_id"], r["neighbor_id"], r["rank"])
        for r in ai.search_ivf_index(spark, base, probes).collect()
    }
    want = {
        (r["probe_id"], r["neighbor_id"], r["rank"])
        for r in REGISTRY["qz12_ivf"].fn(spark, sf_dir).collect()
    }
    assert got == want, f"index vs session drift: {got ^ want}"

    # pruning: the scan must carry a PartitionFilter on cluster (the
    # directory-skip mechanism; DataFrame.inputFiles() ignores pushed
    # filters so it can't witness this), the probed set must be a
    # strict subset of all lists, and the pruned scan's row count must
    # equal reading ONLY the probed directories off disk.
    pruned, top = ai.probed_lists_scan(spark, base, pu, meta["nprobe"])
    wanted = {int(c) for row in top for c in row}
    assert len(wanted) < meta["k"], "probe set degenerately covers every list"
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster" in plan, plan
    direct = sum(
        spark.read.parquet(f"{base}/lists/cluster={c}").count() for c in wanted
    )
    assert pruned.count() == direct


def test_persisted_ivfpq_index_matches_session_ivfpq(spark, sf_dir, tmp_path):
    """The memory-bounded tier persisted (round 10, mirroring the IVF
    index's gate set): a search against the parquet-persisted IVF-PQ
    index (16-byte codes + quantizer tables, no raw vectors) must
    return the IDENTICAL result set as the in-session qz12_ivfpq query,
    and the codes scan must carry the cluster PartitionFilter with the
    pruned row count matching a direct read of only the probed
    directories."""
    import numpy as np

    from frizzle_spark.operators import ann_index as ai
    from frizzle_spark.operators.similarity import _corpus, _ivf_train, _unit

    base = str(tmp_path / "ivfpq_index")
    meta = ai.materialize_ivfpq_index(spark, sf_dir, base)
    assert meta["k"] > 0 and meta["pq_m"] > 0

    trained = _ivf_train(spark, sf_dir)
    unit_df, sample, x, cent, pid, pu, top_clusters = trained
    probes = spark.createDataFrame(
        [(int(p), [float(v) for v in vec]) for p, vec in zip(pid, pu)],
        "probe_id long, pu array<double>",
    )
    got = {
        tuple(r)
        for r in ai.search_ivfpq_index(
            spark, base, probes, _unit(_corpus(spark, sf_dir))
        ).collect()
    }
    want = {
        tuple(r) for r in REGISTRY["qz12_ivfpq"].fn(spark, sf_dir).collect()
    }
    assert got == want, f"index vs session drift: {got ^ want}"

    pu_arr = np.asarray([list(v) for _, v in probes.collect()])
    pruned, top, _, _ = ai.probed_codes_scan(spark, base, pu_arr, meta["nprobe"])
    wanted = {int(c) for row in top for c in row}
    assert len(wanted) < meta["k"], "probe set degenerately covers every list"
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster" in plan, plan
    direct = sum(
        spark.read.parquet(f"{base}/codes/cluster={c}").count() for c in wanted
    )
    assert pruned.count() == direct

    # the index stores NO raw vectors: 16 B codes + the two quantizer
    # tables only (the size posture the tier exists for)
    import os as _os

    code_bytes = sum(
        _os.stat(_os.path.join(dp, f)).st_size
        for dp, _, fns in _os.walk(f"{base}/codes")
        for f in fns
        if f.endswith(".parquet")
    )
    list_bytes = 0
    ivf_base = str(tmp_path / "ivf_for_size")
    ai.materialize_ivf_index(spark, sf_dir, ivf_base)
    list_bytes = sum(
        _os.stat(_os.path.join(dp, f)).st_size
        for dp, _, fns in _os.walk(f"{ivf_base}/lists")
        for f in fns
        if f.endswith(".parquet")
    )
    assert code_bytes < list_bytes / 4, (code_bytes, list_bytes)


def test_ivfpq_index_streaming_append(spark, sf_dir, tmp_path):
    """Frozen-quantizer append twin (mirrors the IVF streaming-ingest
    gate): planted near-twin vectors appended through the foreachBatch
    body must surface as their twins' top-1 in BOTH probe directions,
    and n_vectors must reflect the ingest."""
    import json as _json

    import numpy as np

    from frizzle_spark.operators import ann_index as ai
    from frizzle_spark.operators.similarity import _corpus, _unit

    base = str(tmp_path / "ivfpq_stream")
    meta = ai.materialize_ivfpq_index(spark, sf_dir, base)
    assert meta["k"] > 0

    rows = _corpus(spark, sf_dir).orderBy("vec_id").limit(5).collect()
    twin_of, new_rows = {}, []
    for i, r in enumerate(rows):
        u = np.asarray(r["v"]) / r["nrm"]
        nid = 20_000_000 + i
        twin_of[nid] = r["vec_id"]
        new_rows.append((nid, [float(x) for x in u]))
    new_df = spark.createDataFrame(new_rows, "vec_id long, u array<double>")
    ai.append_to_ivfpq_index(spark, base, new_df)

    # refinement corpus must contain the appended vectors too (the
    # deployment keeps its raw corpus beside the code index)
    unit = _unit(_corpus(spark, sf_dir)).unionByName(new_df.select("vec_id", "u"))
    probes = spark.createDataFrame(
        new_rows, "probe_id long, pu array<double>"
    )
    got = ai.search_ivfpq_index(spark, base, probes, unit).collect()
    top1 = {r["probe_id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
    for nid, twin in twin_of.items():
        assert top1.get(nid) == twin, (nid, twin, top1.get(nid))

    rev_probes = spark.createDataFrame(
        [
            (int(r["vec_id"]), [float(x / r["nrm"]) for x in r["v"]])
            for r in rows
        ],
        "probe_id long, pu array<double>",
    )
    rev = ai.search_ivfpq_index(spark, base, rev_probes, unit).collect()
    rev_top1 = {r["probe_id"]: r["neighbor_id"] for r in rev if r["rank"] == 1}
    for nid, twin in twin_of.items():
        assert rev_top1.get(twin) == nid, (twin, nid, rev_top1.get(twin))

    with open(f"{base}/index_meta.json") as fh:
        meta_after = _json.load(fh)
    assert meta_after["n_vectors"] == meta["n_vectors"] + len(new_rows)


def test_streaming_ingest_into_persisted_index(spark, sf_dir, tmp_path):
    """Index stays searchable while a stream appends: build the index,
    replay a batch of NEW vectors (near-duplicates of existing corpus
    members, planted at cos ≈ 1) through a foreachBatch sink that
    routes them to their inverted lists, then search — every planted
    vector must surface as its twin's top neighbor.  The quantizer is
    frozen (standard IVF ingest posture: retrain on drift, never per
    batch)."""
    import numpy as np

    from frizzle_spark.operators import ann_index as ai
    from frizzle_spark.operators.similarity import _corpus

    base = str(tmp_path / "ivf_stream")
    meta = ai.materialize_ivf_index(spark, sf_dir, base)
    assert meta["k"] > 0

    # planted twins of the 5 lowest-id corpus vectors
    twin_of = {}
    rows = (
        _corpus(spark, sf_dir).orderBy("vec_id").limit(5).collect()
    )
    new_rows = []
    for i, r in enumerate(rows):
        u = np.asarray(r["v"]) / r["nrm"]
        nid = 10_000_000 + i
        twin_of[nid] = r["vec_id"]
        new_rows.append((nid, [float(x) for x in u]))
    # The watched directory must contain parquet FILES, not nested
    # df.write output directories — the streaming file source does not
    # recurse, and with zero discovered files foreachBatch never fires
    # (this test was silently vacuous before the meta assertion below
    # caught it: the twin search passes even with no append, because
    # every twin is an ORIGINAL corpus member).
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    staging = tmp_path / "stream_staging"
    spark.createDataFrame(
        new_rows, "vec_id long, u array<double>"
    ).coalesce(1).write.parquet(str(staging))
    import shutil

    part = next(p for p in staging.iterdir() if p.name.endswith(".parquet"))
    shutil.move(str(part), str(src_dir / "batch1.parquet"))

    stream = (
        spark.readStream.schema("vec_id long, u array<double>")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src_dir))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _bid: ai.append_to_ivf_index(spark, base, bdf)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    probes = spark.createDataFrame(
        [(nid, u) for nid, u in new_rows], "probe_id long, pu array<double>"
    )
    got = ai.search_ivf_index(spark, base, probes).collect()
    top1 = {r["probe_id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
    for nid, twin in twin_of.items():
        assert top1.get(nid) == twin, (nid, twin, top1.get(nid))

    # the APPENDED vectors themselves must be searchable: probing with
    # each original corpus twin must surface its ingested near-duplicate
    # as the top neighbor (this direction fails if the append was a
    # no-op — the forward direction above does not)
    rev_probes = spark.createDataFrame(
        [
            (int(r["vec_id"]), [float(x / r["nrm"]) for x in r["v"]])
            for r in rows
        ],
        "probe_id long, pu array<double>",
    )
    rev = ai.search_ivf_index(spark, base, rev_probes).collect()
    rev_top1 = {r["probe_id"]: r["neighbor_id"] for r in rev if r["rank"] == 1}
    for nid, twin in twin_of.items():
        assert rev_top1.get(twin) == nid, (twin, nid, rev_top1.get(twin))

    # meta freshness: streaming ingest must be reflected in n_vectors
    import json

    with open(str(tmp_path / "ivf_stream" / "index_meta.json")) as fh:
        meta_after = json.load(fh)
    assert meta_after["n_vectors"] == meta["n_vectors"] + len(new_rows)


def test_canonical_keep_prefers_quality(spark, sf_dir):
    """Survivor selection law: within every cluster the keeper has the
    maximal quality (doc_id breaking ties), every doc maps to exactly
    one keeper, and singleton docs keep themselves."""
    rows = REGISTRY["qz11_canonical_keep"].fn(spark, sf_dir).collect()
    by_cluster = {}
    quality = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    from frizzle_spark.plans.text_queries import q14_quality_score

    quality = {
        r["doc_id"]: r["quality"]
        for r in q14_quality_score(spark, sf_dir).collect()
    }
    seen_docs = set()
    for cluster, members in by_cluster.items():
        keepers = {m["keep_id"] for m in members}
        assert len(keepers) == 1, (cluster, keepers)
        keep = keepers.pop()
        best = max(
            (m["doc_id"] for m in members),
            key=lambda d: (quality[d], -d),
        )
        assert keep == best, (cluster, keep, best)
        for m in members:
            assert m["doc_id"] not in seen_docs
            seen_docs.add(m["doc_id"])
        if len(members) == 1:
            assert keep == members[0]["doc_id"]
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(seen_docs) == n_docs


def test_cluster_index_identity(spark, sf_dir, tmp_path):
    """materialize_cluster_index → load_cluster_index must reproduce the
    in-session dedup_clusters output exactly (the persisted-IVF identity
    gate, applied to the cluster map), and the meta must agree."""
    import json

    from frizzle_spark.operators.dedup import (
        dedup_clusters,
        load_cluster_index,
        materialize_cluster_index,
    )
    from frizzle_spark.operators.dedup import q11_ngram_jaccard

    pairs = q11_ngram_jaccard(spark, sf_dir)
    base = str(tmp_path / "cidx")
    meta = materialize_cluster_index(pairs, base)
    stored = {
        (r["doc_id"], r["cluster_rep"])
        for r in load_cluster_index(spark, base).collect()
    }
    live = {
        (r["doc_id"], r["cluster_rep"])
        for r in dedup_clusters(pairs).collect()
    }
    assert stored == live and len(stored) > 0
    assert meta["n_clustered_docs"] == len(stored)
    assert meta["n_clusters"] == len({c for _, c in stored})
    with open(str(tmp_path / "cidx" / "cluster_meta.json")) as fh:
        assert json.load(fh) == meta

    # empty pair set → well-formed empty index (explicit-schema read)
    empty = spark.createDataFrame([], "d1 long, d2 long, jaccard double")
    base2 = str(tmp_path / "cidx_empty")
    meta2 = materialize_cluster_index(empty, base2)
    assert meta2 == {"n_clustered_docs": 0, "n_clusters": 0, "generation": 0}
    assert load_cluster_index(spark, base2).count() == 0


def test_canonical_keep_from_index_identity(spark, sf_dir, tmp_path):
    """canonical_keep(index_base=...) must equal the registry query
    (which serves the same map from the process-scratch index)."""
    from frizzle_spark.operators.dedup import (
        canonical_keep,
        materialize_cluster_index,
        q11_ngram_jaccard,
    )

    base = str(tmp_path / "cidx")
    materialize_cluster_index(q11_ngram_jaccard(spark, sf_dir), base)
    from_index = {
        tuple(r) for r in canonical_keep(spark, sf_dir, index_base=base).collect()
    }
    registry = {
        tuple(r)
        for r in REGISTRY["qz11_canonical_keep"].fn(spark, sf_dir).collect()
    }
    assert from_index == registry and len(registry) > 0


def test_leakage_split_from_index_identity(spark, sf_dir, tmp_path):
    """qz22_leakage_safe_split(index_base=...) must equal the registry
    path when the index is built from the same MinHash pair stream."""
    from frizzle_spark.operators.dedup import materialize_cluster_index
    from frizzle_spark.plans.sql_surface import qz22_leakage_safe_split

    pairs = REGISTRY["qz11_minhash_lsh"].fn(spark, sf_dir).select("d1", "d2")
    base = str(tmp_path / "cidx_mh")
    materialize_cluster_index(pairs, base)
    from_index = {
        tuple(r)
        for r in qz22_leakage_safe_split(spark, sf_dir, index_base=base).collect()
    }
    registry = {
        tuple(r)
        for r in REGISTRY["qz22_leakage_safe_split"].fn(spark, sf_dir).collect()
    }
    assert from_index == registry and len(registry) > 0


def test_repeat_index_identity_and_incremental_append(spark, sf_dir, tmp_path):
    """The persisted repeated-ngram hazard index must (a) reproduce the
    direct qz11_repeated_ngrams output exactly when built from the full
    corpus, and (b) reach the identical state by ingesting the corpus
    in two slices — new slices never re-tokenize old documents, yet
    cross-slice repeats surface in the aggregate."""
    import frizzle_spark.operators.dedup as dd
    from frizzle_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    direct = {
        (r["fp"], r["n_docs"], r["n_occurrences"])
        for r in dd.qz11_repeated_ngrams(spark, sf_dir).collect()
    }
    assert direct, "testdata must contain cross-document repeats"

    # (a) full-corpus build
    base_full = str(tmp_path / "repeat_full")
    dd.materialize_repeat_index(docs, base_full)
    served = {
        (r["fp"], r["n_docs"], r["n_occurrences"])
        for r in dd.repeat_hazards(spark, base_full).collect()
    }
    assert served == direct

    # (b) two-slice ingest: split by doc_id parity
    base_inc = str(tmp_path / "repeat_inc")
    dd.materialize_repeat_index(docs.where(F.col("doc_id") % 2 == 0), base_inc)
    dd.append_to_repeat_index(docs.where(F.col("doc_id") % 2 == 1), base_inc)
    incremental = {
        (r["fp"], r["n_docs"], r["n_occurrences"])
        for r in dd.repeat_hazards(spark, base_inc).collect()
    }
    assert incremental == direct


def test_append_cluster_index_identity_vs_full_rebuild(spark, tmp_path):
    """Round-8 gate (VERDICT r7 #7): append_cluster_index over planted
    cluster-MERGING / cluster-EXTENDING / brand-NEW / DUPLICATE slices
    must equal a full rebuild over the unioned pair set, row for row —
    and a second identical append must be a no-op (idempotence)."""
    from frizzle_spark.operators.dedup import (
        append_cluster_index,
        load_cluster_index,
        materialize_cluster_index,
    )

    def pairs(rows):
        return spark.createDataFrame(rows, "d1 long, d2 long")

    # initial crawl: clusters {1,2,3} (rep 1), {10,11} (rep 10), {20,21}
    p1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
    base = str(tmp_path / "cidx_inc")
    materialize_cluster_index(pairs(p1), base)

    # new crawl: MERGE {1,2,3}+{10,11} via (3,10); EXTEND {20,21} with
    # new doc 22; NEW cluster {30,31}; DUPLICATE old pair (1,2); a pair
    # between two docs already in the same cluster (2,3)
    p2 = [(3, 10), (22, 21), (30, 31), (1, 2), (2, 3)]
    meta = append_cluster_index(spark, pairs(p2), base)

    full_base = str(tmp_path / "cidx_full")
    full_meta = materialize_cluster_index(pairs(p1 + p2), full_base)
    got = {tuple(r) for r in load_cluster_index(spark, base).collect()}
    want = {tuple(r) for r in load_cluster_index(spark, full_base).collect()}
    assert got == want and len(got) == 10  # {1,2,3,10,11} {20,21,22} {30,31}
    assert meta["n_clustered_docs"] == full_meta["n_clustered_docs"]
    assert meta["n_clusters"] == full_meta["n_clusters"] == 3
    assert meta["n_appends"] == 1
    # reps are component minima after the merge
    assert {r for _, r in got} == {1, 20, 30}

    # idempotence: the same slice again changes nothing but the counter
    meta2 = append_cluster_index(spark, pairs(p2), base)
    got2 = {tuple(r) for r in load_cluster_index(spark, base).collect()}
    assert got2 == got
    assert meta2["n_appends"] == 2
    assert meta2["n_clustered_docs"] == meta["n_clustered_docs"]


def test_append_cluster_index_random_slices_vs_rebuild(spark, tmp_path):
    """Randomized multi-append differential: three successive random
    pair slices appended incrementally must equal the one-shot rebuild
    at every step (seeded — deterministic)."""
    import random

    from frizzle_spark.operators.dedup import (
        append_cluster_index,
        load_cluster_index,
        materialize_cluster_index,
    )

    rng = random.Random(8)
    slices = []
    for _ in range(4):
        sl = set()
        while len(sl) < 12:
            a, b = rng.randrange(50), rng.randrange(50)
            if a != b:
                sl.add((min(a, b), max(a, b)))
        slices.append(sorted(sl))

    def pairs(rows):
        return spark.createDataFrame(rows, "d1 long, d2 long")

    base = str(tmp_path / "cidx_rand")
    materialize_cluster_index(pairs(slices[0]), base)
    seen = list(slices[0])
    for i, sl in enumerate(slices[1:]):
        append_cluster_index(spark, pairs(sl), base)
        seen += sl
        full = str(tmp_path / f"cidx_rand_full{i}")
        materialize_cluster_index(pairs(seen), full)
        got = {tuple(r) for r in load_cluster_index(spark, base).collect()}
        want = {tuple(r) for r in load_cluster_index(spark, full).collect()}
        assert got == want, f"divergence after append {i}"


def test_append_cluster_index_generation_swap_and_meta_merge(spark, tmp_path):
    """Round-9 gates (ADVICE r8): (a) appends land in fresh generation
    dirs committed by the atomic meta replace — a writer crash BEFORE
    the commit leaves the previous generation intact and pointed-at;
    (b) meta updates merge, so a foreign key a prior writer stored
    survives; (c) the superseded generation dir is cleaned up."""
    import json
    import os

    from frizzle_spark.operators.dedup import (
        append_cluster_index,
        load_cluster_index,
        materialize_cluster_index,
    )

    def pairs(rows):
        return spark.createDataFrame(rows, "d1 long, d2 long")

    base = str(tmp_path / "cidx_gen")
    materialize_cluster_index(pairs([(1, 2)]), base)

    # a prior writer's foreign metadata must survive the append's merge
    meta_path = os.path.join(base, "cluster_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["source_crawl"] = "2026-08-01"
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)

    m1 = append_cluster_index(spark, pairs([(3, 4)]), base)
    assert m1["source_crawl"] == "2026-08-01"
    assert m1["generation"] == 1
    assert os.path.isdir(os.path.join(base, "clusters_gen1"))
    assert not os.path.isdir(os.path.join(base, "clusters"))  # cleaned

    m2 = append_cluster_index(spark, pairs([(2, 3)]), base)
    assert m2["generation"] == 2 and m2["source_crawl"] == "2026-08-01"
    assert not os.path.isdir(os.path.join(base, "clusters_gen1"))
    before = {tuple(r) for r in load_cluster_index(spark, base).collect()}
    assert before == {(1, 1), (2, 1), (3, 1), (4, 1)}

    # crash simulation: a half-written next generation dir with NO meta
    # commit must be invisible to readers
    os.makedirs(os.path.join(base, "clusters_gen3"))
    with open(os.path.join(base, "clusters_gen3", "part-junk.parquet"), "wb"):
        pass
    assert {
        tuple(r) for r in load_cluster_index(spark, base).collect()
    } == before


def test_ivfpq_index_guards(spark, sf_dir, tmp_path):
    """ADVICE r10 lows: (a) an EMPTY probe set returns the empty TOPK
    schema instead of crashing on a (0,)-shaped matmul; (b) persisted
    PQ geometry that no longer matches the code's constants fails
    LOUDLY (silent decode against wrong codebook shapes corrupts
    results); (c) probe dim mismatch fails loudly; (d) appending to a
    k=0 (empty-corpus) index raises instead of crashing inside
    _load_pq_tables."""
    import json

    from frizzle_spark.operators import ann_index as ai
    from frizzle_spark.operators.similarity import _corpus, _unit

    base = str(tmp_path / "ivfpq_guard")
    meta = ai.materialize_ivfpq_index(spark, sf_dir, base)
    assert meta["k"] > 0
    unit = _unit(_corpus(spark, sf_dir))

    # (a) empty probes → empty result, correct schema
    empty = spark.createDataFrame([], "probe_id long, pu array<double>")
    out = ai.search_ivfpq_index(spark, base, empty, unit)
    assert out.count() == 0
    assert out.columns == ["probe_id", "neighbor_id", "cos_sim", "rank"]

    # (b) geometry drift → loud failure on load
    meta_path = f"{base}/index_meta.json"
    with open(meta_path) as fh:
        good = json.load(fh)
    bad = dict(good, pq_m=good["pq_m"] * 2)
    with open(meta_path, "w") as fh:
        json.dump(bad, fh)
    one = spark.createDataFrame(
        [(1, [0.0] * good["dim"])], "probe_id long, pu array<double>"
    )
    with pytest.raises(ValueError, match="PQ geometry"):
        ai.search_ivfpq_index(spark, base, one, unit)
    with pytest.raises(ValueError, match="PQ geometry"):
        ai.append_to_ivfpq_index(
            spark, base, one.withColumnRenamed("probe_id", "vec_id")
            .withColumnRenamed("pu", "u")
        )
    with open(meta_path, "w") as fh:
        json.dump(good, fh)

    # (c) probe dim mismatch → loud failure
    wrong_dim = spark.createDataFrame(
        [(1, [0.0] * (good["dim"] + 3))], "probe_id long, pu array<double>"
    )
    with pytest.raises(ValueError, match="dim"):
        ai.search_ivfpq_index(spark, base, wrong_dim, unit)

    # (d) k=0 index: search returns empty, append raises (no quantizer)
    empty_base = str(tmp_path / "ivfpq_empty")
    import os as _os

    _os.makedirs(empty_base)
    with open(f"{empty_base}/index_meta.json", "w") as fh:
        json.dump({"k": 0, "nprobe": 0, "n_vectors": 0, "dim": 0,
                   "pq_m": good["pq_m"], "pq_ks": good["pq_ks"]}, fh)
    assert ai.search_ivfpq_index(spark, empty_base, one, unit).count() == 0
    with pytest.raises(ValueError, match="empty IVF-PQ"):
        ai.append_to_ivfpq_index(
            spark, empty_base,
            one.withColumnRenamed("probe_id", "vec_id")
            .withColumnRenamed("pu", "u"),
        )


def test_minhash_index_format_stamp(spark, tmp_path):
    """ADVICE r10 low: the persisted MinHash index stamps its band-hash
    algorithm version; probing or appending with a mismatched version
    fails LOUDLY (a silent mismatch yields zero band collisions — false
    negatives with no error, exactly what the r10 xxhash64→rotate-XOR
    switch would have caused to any pre-switch index)."""
    import json

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over lazy dog number {i} "
             f"with extra words to clear the shingle minimum")
         for i in range(8)],
        "doc_id long, text string",
    )
    base = str(tmp_path / "mh_fmt")
    dd.materialize_minhash_index(docs, base)
    marker = f"{base}/{dd._INDEX_FORMAT_FILE}"
    with open(marker) as fh:
        assert json.load(fh)["band_hash_format"] == dd.BAND_HASH_FORMAT

    new_docs = docs.withColumn("doc_id", F.col("doc_id") + 100)
    # matching stamp: probe and append both work
    dd.incremental_neardup(spark, new_docs, base).count()

    with open(marker, "w") as fh:
        json.dump({"band_hash_format": "xxhash64-v1"}, fh)
    with pytest.raises(ValueError, match="band-hash"):
        dd.incremental_neardup(spark, new_docs, base)
    with pytest.raises(ValueError, match="band-hash"):
        dd.append_minhash_index(new_docs, base)
    with pytest.raises(ValueError, match="band-hash"):
        dd.incremental_neardup_local([1], [[0] * dd.MINHASH_PERMS], base)
    # a re-materialize (overwrite) re-stamps and unbricks the index
    dd.materialize_minhash_index(docs, base)
    dd.incremental_neardup(spark, new_docs, base).count()


@pytest.mark.parametrize("tier", ["local", "spark"])
def test_rg_manifest_probe_identity_and_fallback(spark, sf_dir, tmp_path, tier, monkeypatch):
    """VERDICT r10 #2: the compaction-written row-group manifest must be
    invisible to probe SEMANTICS — identical pairs (a) via the manifest
    fast path, (b) with the manifest deleted (footer fallback), and
    (c) after a post-compaction append whose files the manifest does
    not cover (mixed manifest + footer dispatch) — on both compaction
    tiers."""
    import os

    _compaction_tier(tier, monkeypatch)
    base = str(tmp_path / "mh_man")
    docs = dd.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dd.materialize_minhash_index(docs.where(F.col("doc_id") % 2 == 0), base)
    stats = dd.compact_minhash_index(spark, base)
    assert stats["manifest_rows"] > 0
    assert os.path.exists(f"{base}/bands/{dd._RG_MANIFEST}")
    assert os.path.exists(f"{base}/signatures/{dd._RG_MANIFEST}")
    # the sidecar is NOT part of the data listing
    assert all(
        not os.path.basename(p).startswith("_")
        for p, _ in dd._list_index_files(f"{base}/signatures", None)
    )

    probe = docs.limit(12).select(
        (F.col("doc_id") + F.lit(700_000)).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )

    def pairs():
        return sorted(
            tuple(r)
            for r in dd.incremental_neardup(
                spark, probe, base, probe_mode="rowgroup"
            ).collect()
        )

    with_manifest = pairs()
    assert with_manifest, "probe must surface pairs"
    # (b) footer fallback: delete the sidecars → same pairs
    os.remove(f"{base}/bands/{dd._RG_MANIFEST}")
    os.remove(f"{base}/signatures/{dd._RG_MANIFEST}")
    assert pairs() == with_manifest
    # (c) mixed dispatch: re-compact (manifest back), then append an
    # uncovered slice; probes must see BOTH halves
    dd.compact_minhash_index(spark, base)
    dd.append_minhash_index(docs.where(F.col("doc_id") % 2 == 1), base)
    mixed = pairs()
    full = sorted(
        tuple(r)
        for r in dd.incremental_neardup(
            spark, probe, base, probe_mode="full"
        ).collect()
    )
    assert mixed == full
    assert len(mixed) >= len(with_manifest)


def test_ann_index_compaction_search_identity(spark, sf_dir, tmp_path):
    """VERDICT r10 #7: ``compact_ann_index`` folds the append-
    accumulated per-cluster files of BOTH persisted ANN layouts back to
    ~one file per cluster while search results stay IDENTICAL and the
    PartitionFilters pruning witness is unchanged."""
    import numpy as np

    from frizzle_spark.operators import ann_index as ai
    from frizzle_spark.operators.similarity import _corpus, _ivf_train, _unit

    trained = _ivf_train(spark, sf_dir)
    unit, sample, x, cent, pid, pu, top_clusters = trained
    probes = spark.createDataFrame(
        [(int(p), [float(v) for v in vec]) for p, vec in zip(pid, pu)],
        "probe_id long, pu array<double>",
    )
    # appended vectors: real unit vectors under fresh ids (spread over
    # many clusters so appends touch many partitions)
    rows = _corpus(spark, sf_dir).orderBy("vec_id").limit(40).collect()
    adds = [
        (30_000_000 + i, [float(x / r["nrm"]) for x in r["v"]])
        for i, r in enumerate(rows)
    ]

    # ---- IVF ----
    base = str(tmp_path / "ivf_c")
    ai.materialize_ivf_index(spark, sf_dir, base)
    for lo in range(0, 40, 10):  # four appends → four file generations
        ai.append_to_ivf_index(
            spark, base,
            spark.createDataFrame(adds[lo:lo + 10], "vec_id long, u array<double>"),
        )
    before = {tuple(r) for r in ai.search_ivf_index(spark, base, probes).collect()}
    files_before = ai._parquet_file_count(f"{base}/lists")
    stats = ai.compact_ann_index(spark, base)
    assert stats["table"] == "lists"
    assert stats["files_after"] < files_before
    after = {tuple(r) for r in ai.search_ivf_index(spark, base, probes).collect()}
    assert after == before
    pruned, top = ai.probed_lists_scan(spark, base, pu, 4)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster" in plan, plan

    # ---- IVF-PQ ----
    base2 = str(tmp_path / "ivfpq_c")
    meta2 = ai.materialize_ivfpq_index(spark, sf_dir, base2)
    udf_unit = _unit(_corpus(spark, sf_dir)).unionByName(
        spark.createDataFrame(adds, "vec_id long, u array<double>")
    )
    for lo in range(0, 40, 10):
        ai.append_to_ivfpq_index(
            spark, base2,
            spark.createDataFrame(adds[lo:lo + 10], "vec_id long, u array<double>"),
        )
    before2 = {
        tuple(r)
        for r in ai.search_ivfpq_index(spark, base2, probes, udf_unit).collect()
    }
    files_before2 = ai._parquet_file_count(f"{base2}/codes")
    stats2 = ai.compact_ann_index(spark, base2)
    assert stats2["table"] == "codes"
    assert stats2["files_after"] < files_before2
    after2 = {
        tuple(r)
        for r in ai.search_ivfpq_index(spark, base2, probes, udf_unit).collect()
    }
    assert after2 == before2
    pu_arr = np.asarray([v for _, v in adds[:5]])
    pruned2, top2, _, _ = ai.probed_codes_scan(spark, base2, pu_arr, meta2["nprobe"])
    plan2 = pruned2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster" in plan2, plan2
