"""Deduplication operator family over ``documents`` (north-star extension;
the reference has no dedup of any kind — its only "distinct" notion is
the un-acked message set, reference common/unacked.go:10-59).

Five committed flavors:

* exact        — md5-hash groupBy (oracle-checked)
* n-gram Jaccard — exact pairwise Jaccard on word 3-gram shingles via an
                 inverted-index join (oracle-checked).  This IS the
                 distributed-scale algorithm: shuffle by shingle, then by
                 pair — never an n² cross join.
* MinHash LSH  — 64-perm signatures, 16 bands × 4 rows; banding join
                 produces candidates, signature agreement estimates J.
                 (rows-only: the xxhash64 family isn't reproducible in
                 DuckDB SQL; pytest gates recall vs the exact Jaccard.)
* SimHash      — 64-bit sign-aggregated fingerprint, 4×16-bit chunk
                 banding, Hamming ≤ 3 (rows-only; unit-tested).
* embedding cosine — see operators/similarity.py: exact GEMM grid
                 (q11_embedding_neardup) and the LSH-bucketed
                 approximate path (qz11_embedding_neardup_lsh).

Plus the cross-corpus tier: ``q11_blocklist_dedup`` (broadcast anti-join
decontamination), ``q11_keep_latest`` (CDC compaction), and the
incremental pair ``materialize_minhash_index`` / ``incremental_neardup``
— signatures computed once per corpus snapshot, new slices deduped
against the stored index without re-reading corpus text.  The pair
operators feed ``dedup_clusters`` (iterative min-label connected
components), which turns pairwise matches into canonical-survivor
clusters — the final emit-one-per-group step of corpus dedup.

Scale notes: every stage is shuffle-by-key (shingle → pair → doc); hot
shingles (stop-phrases) are the skew risk — AQE skew-join splits them,
and ``NGRAM_DF_CAP`` documents the standard mitigation (drop shingles
with document frequency above a cap, trading exactness for balance;
default off so the oracle stays exact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frizzle_spark.plans.registry import query
from frizzle_spark.sources.tables import load_table

NGRAM_N = 3
JACCARD_THRESHOLD = 0.5
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4  # MINHASH_PERMS / LSH_BANDS
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3


@query(
    "q11_exact_dedup",
    oracle="""
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q11_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: hash → keep lowest doc_id per group.

    One shuffle on the 128-bit hash; at 100 TB this is the canonical
    hash-partitioned dedup (never a sort, never a cross join).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_SHINGLE_ARRAY_SQL = (
    "transform(sequence(0, size(ws) - 3),"
    " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
)


def shingle_sets(docs: DataFrame) -> DataFrame:
    """Per-doc DISTINCT word-3-gram set as an array: (doc_id, toks, n),
    for docs with ≥3 words.  Entirely ROW-LOCAL — regex split, 3-gram
    transform, ``array_distinct`` — zero exchanges: a shingle set is a
    per-document fact, so deduplicating inside the row is equivalent to
    the global ``DISTINCT (doc_id, shingle)`` (doc_ids differ across
    rows) without shuffling the exploded table (r12, guide §2.1)."""
    ws = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= NGRAM_N)
        .select(
            "doc_id",
            F.array_distinct(F.expr(_SHINGLE_ARRAY_SQL)).alias("toks"),
        )
        # coalesce makes n NON-NULLABLE so downstream constraint
        # inference (``jac >= τ`` ⇒ ``isnotnull(n1)``) constant-folds
        # instead of substituting the whole interpreted shingling
        # expression into the scan filter via the project chain — the
        # same per-row re-evaluation trap as the explode_outer note in
        # shingles_of (measured: 9.1 → 2.0 s on qz11_containment).
        # toks is never null here, so the value is unchanged.
        .withColumn("n", F.coalesce(F.size("toks"), F.lit(0)))
    )


def shingles_of(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """Word 3-gram shingles per (doc_id, text) frame — distinct by
    default (set semantics, what exact-Jaccard intersection counting
    needs).  Pass ``distinct=False`` when feeding ``minhash_signatures``
    ONLY: MIN over a multiset equals MIN over its set, so the dedup
    shuffle is pure waste there (one full exchange per signature pass —
    measured as a chunk of the curation bus's per-batch overhead).

    r12: the distinct form explodes ``shingle_sets`` — per-doc
    ``array_distinct`` instead of a global ``.distinct()``, same rows,
    one fewer full exchange per consumer (guide §2.1).  The explode is
    ``explode_outer`` everywhere ``toks`` is unpacked: plain explode
    triggers InferFiltersFromGenerate, which pushes
    ``size(array_distinct(transform(...))) > 0`` — the ENTIRE
    interpreted shingling expression — into the scan filter and
    re-evaluates it per row (measured 9.4 s vs 0.8 s at sf0.1 for the
    bare pipeline).  After the ``size(ws) >= NGRAM_N`` guard the array
    is never null/empty, so outer ≡ inner here."""
    if distinct:
        return shingle_sets(docs).select(
            "doc_id", F.explode_outer("toks").alias("shingle")
        )
    ws = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= NGRAM_N)
        .select(
            "doc_id",
            F.explode(F.expr(_SHINGLE_ARRAY_SQL)).alias("shingle"),
        )
    )


# sf_dir → documents row count (catalog fact, same caching argument as
# similarity._CORPUS_N_CACHE): drives only scan-spread and cap-gate
# sizing decisions, never results.
_DOCS_N_CACHE: dict[str, int] = {}


def _docs_n(spark: SparkSession, sf_dir: str) -> int:
    """documents row count — a catalog fact cached per (process, sf_dir)."""
    if sf_dir not in _DOCS_N_CACHE:
        _DOCS_N_CACHE[sf_dir] = load_table(spark, sf_dir, "documents").count()
    return _DOCS_N_CACHE[sf_dir]


# sf_dir → total uncompressed bytes of documents.text, read from parquet
# FOOTERS (driver-side metadata, zero Spark jobs) — another catalog fact,
# feeding only the materialization cap gates below.
_DOCS_TEXT_BYTES_CACHE: dict[str, int] = {}


def _docs_text_bytes(sf_dir: str) -> int:
    """Total uncompressed bytes of documents.text from parquet footer
    statistics; -1 when the footers are unreachable (remote FS, exotic
    layout) — callers then fall back to a row-count bound."""
    if sf_dir not in _DOCS_TEXT_BYTES_CACHE:
        total = -1
        try:
            import glob as _glob

            import pyarrow.parquet as pq

            path = os.path.join(sf_dir, "documents.parquet")
            files = (
                [path]
                if os.path.isfile(path)
                else sorted(_glob.glob(os.path.join(path, "*.parquet")))
            )
            if files:
                total = 0
                for f in files:
                    md = pq.read_metadata(f)
                    for rg in range(md.num_row_groups):
                        row_group = md.row_group(rg)
                        for ci in range(row_group.num_columns):
                            col = row_group.column(ci)
                            if col.path_in_schema == "text":
                                total += col.total_uncompressed_size
        except Exception:
            total = -1
        _DOCS_TEXT_BYTES_CACHE[sf_dir] = total
    return _DOCS_TEXT_BYTES_CACHE[sf_dir]


# Cap for EXECUTOR-LOCAL materializations of fan-out derived tables
# (r13, VERDICT r12 #5).  The r12 localCheckpoints (signatures,
# fingerprints, packed token arrays, per-doc counts) buy the right plan
# shape — the derived table computes once instead of per broadcast
# branch — but localCheckpoint pins executor block-manager storage and
# truncates lineage, so past executor loss the job cannot recover and
# past memory+disk it dies.  Under the cap (est. bytes) the cheap
# executor-local form stays; over it the SAME materialization goes
# through a parquet scratch round-trip — storage-backed, recoverable,
# and exactly what the jaccard_join comment always said 100 TB needs.
# 4 GiB default ≈ a few % of one executor's storage at bench/cluster
# scale; env-overridable for real deployments (and pinned to 0 in the
# fallback-path tests).
LOCAL_MAT_CAP_BYTES = int(
    os.environ.get("FRIZZLE_LOCAL_MAT_CAP_BYTES", str(4 * 1024**3))
)


def materialize_fanout(df: DataFrame, est_bytes: int) -> DataFrame:
    """Materialize a derived table that fans out across broadcast-join
    branches: ``localCheckpoint`` under ``LOCAL_MAT_CAP_BYTES``, parquet
    scratch over it (same rows either way — the gates in
    tests/test_dedup_similarity.py pin identity across the cap)."""
    if est_bytes <= LOCAL_MAT_CAP_BYTES:
        return df.localCheckpoint(eager=True)
    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="frizzle_mat_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    df.write.mode("overwrite").parquet(scratch)
    return df.sparkSession.read.parquet(scratch)


# Fixed-width row-size estimates for the cap gates: a MinHash signature
# row is doc_id + 64 hash longs; a SimHash fingerprint row is doc_id +
# one long (+ tungsten overhead).
SIG_ROW_BYTES = 8 + 64 * 8 + 16
FP_ROW_BYTES = 24


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan, round-robin-spread ONLY when it arrives
    under-split for its row count — the doc-side twin of
    similarity._spread: a local single-file corpus scans as 2 splits
    and the regex split + explode shingling stage is pinned there
    (measured at sf1: shingles count 5.75 s on 2 tasks → 1.6 s spread,
    and the dedup family recomputes shingles per branch by design).
    On a cluster the corpus arrives as many splits → no-op."""
    docs = load_table(spark, sf_dir, "documents")
    n = _docs_n(spark, sf_dir)
    # r12: ≥64 docs/partition (was 4096).  The family's global
    # ``.distinct()`` became a row-local ``array_distinct`` (see
    # shingles_of), so the pair join + intersection aggregate now RIDE
    # the scan parallelism instead of a shuffle's — with the old
    # sizing a 5k-doc corpus ran the whole join on 1-2 tasks (measured:
    # q11_ngram_jaccard 20 s; spread to 32 it is ~1 s).  On a cluster
    # the corpus arrives well-split and this branch still no-ops.
    p = min(spark.sparkContext.defaultParallelism, max(1, n // 64))
    if docs.rdd.getNumPartitions() < p:
        return docs.repartition(p)
    return docs


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word 3-gram shingles per document (docs with ≥3 words).

    Deliberately NOT persisted: measured at sf0.1, a shared
    ``persist()`` of this prefix made the dedup suite 2-3× SLOWER under
    one session (cache materialization blocks the first query and the
    InMemoryRelation defeats AQE's coalescing for the self-joins).  At
    100 TB the right amortization is a materialized signatures TABLE on
    storage, not executor cache (see ``materialize_minhash_index``).
    """
    return shingles_of(_docs_spread(spark, sf_dir))


# Shared CTE block: word 3-gram shingles → pairwise intersection
# counts.  Single-sourced so the pair query, the cluster oracle, and
# the canonical-keep oracle can never drift apart.
_NGRAM_CTES = f"""
    words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
        FROM documents
    ),
    idx AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
        FROM words WHERE len(ws) >= {NGRAM_N}
    ),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        FROM idx
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""

# …→ thresholded pairs → symmetrized edges → connected components via a
# recursive reachability CTE (finite graph ⇒ the UNION fixpoint
# terminates; component sizes in a deduplicated corpus are tiny, so the
# (node, reachable) enumeration stays small) → min-id representative —
# EXACTLY dedup_clusters' min-label semantics, which upgrades the
# iterative Spark operator from rows-only to fully oracle-backed.
_CLUSTER_CTES = f"""{_NGRAM_CTES},
    prs AS (
        SELECT d1, d2 FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE c / CAST(s1.n + s2.n - c AS DOUBLE) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT d1 AS a, d2 AS b FROM prs UNION SELECT d2, d1 FROM prs),
    reach AS (
        SELECT a AS node, a AS r FROM edges
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
    ),
    clusters AS (
        SELECT node AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY node
    )"""


@query(
    "q11_ngram_jaccard",
    oracle=f"""
    WITH {_NGRAM_CTES}
    SELECT d1, d2,
           round(c / CAST(s1.n + s2.n - c AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE c / CAST(s1.n + s2.n - c AS DOUBLE) >= {JACCARD_THRESHOLD}
    """,
)
def q11_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate pairs: word-3-gram Jaccard ≥ 0.5.

    Inverted-index shape: explode shingles → self-join by shingle →
    count intersections per pair → Jaccard from per-doc set sizes.
    """
    sets = shingle_sets(_docs_spread(spark, sf_dir))
    # Set sizes ride the exploded rows (+8 B/row on the shingle
    # exchange) instead of a separate sizes aggregate re-joined twice —
    # the r12 restructure deletes two joins AND the two extra
    # re-executions of the shingling subplan their branches carried
    # (guide §2.1/§3.1; before-plan had 8 documents scans, after 2).
    a = sets.select(
        F.col("doc_id").alias("d1"),
        F.col("n").alias("n1"),
        F.explode_outer("toks").alias("shingle"),
    )
    b = sets.select(
        F.col("doc_id").alias("d2"),
        F.col("n").alias("n2"),
        F.explode_outer("toks").alias("shingle"),
    )
    inter = (
        a.join(b, ["shingle"])
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")).cast("double")
    return (
        inter.withColumn("jac_raw", jac)
        .where(F.col("jac_raw") >= JACCARD_THRESHOLD)
        .select("d1", "d2", F.round("jac_raw", 6).alias("jaccard"))
    )


# Unresolved-Column expression caches (round 11): building the 64-perm
# expression trees costs hundreds of py4j roundtrips (~0.3 s measured),
# paid PER CALL — a real fraction of the curation bus's warm micro-batch
# wall.  Column objects are immutable, name-resolved at analysis time,
# and safe to share across DataFrames/queries, so build each tree once.
_MINHASH_MIN_EXPRS: list | None = None
_SIG_ARRAY_EXPR = None


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """64-perm MinHash signature per doc: min over shingles of
    xxhash64(k, xxhash64(shingle)).  The variable-length shingle string
    is hashed ONCE; each permutation then re-hashes a single fixed
    8-byte long (wrap-safe under ANSI mode, unlike multiply-shift).
    One groupBy — the signature shuffle carries 64 longs per doc
    regardless of doc size."""
    global _MINHASH_MIN_EXPRS
    if _MINHASH_MIN_EXPRS is None:
        _MINHASH_MIN_EXPRS = [
            F.min(F.xxhash64(F.lit(k), F.col("h64"))).alias(f"h{k}")
            for k in range(MINHASH_PERMS)
        ]
    hashed = sh.select("doc_id", F.xxhash64(F.col("shingle")).alias("h64"))
    return hashed.groupBy("doc_id").agg(*_MINHASH_MIN_EXPRS)


def sig_array(sigs: DataFrame) -> DataFrame:
    """(doc_id, h0..h63) → (doc_id, sig array<long>)."""
    global _SIG_ARRAY_EXPR
    if _SIG_ARRAY_EXPR is None:
        _SIG_ARRAY_EXPR = F.array(
            *[F.col(f"h{k}") for k in range(MINHASH_PERMS)]
        ).alias("sig")
    return sigs.select("doc_id", _SIG_ARRAY_EXPR)


# Per-row rotation amounts for the band mix (distinct, non-zero so both
# JVM shifts and numpy uint64 shifts are well-defined without the
# shift-count-mod-64 edge).
_BAND_ROTS = (1, 17, 31, 47)


def _rotl64(col, k: int):
    return F.shiftleft(col, k).bitwiseOR(F.shiftrightunsigned(col, 64 - k))


_BAND_MIX_EXPR = None  # cached posexplode tree (see minhash cache note)


def band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, h0..h63) → (doc_id, band_id, band_hash): LSH banding,
    16 bands × 4 rows — docs sharing any (band_id, band_hash) bucket
    become candidates.

    band_hash is a rotate-XOR mix of the band's 4 signature rows (each
    already a well-mixed xxhash64 minimum) rather than another hash
    call: bit-identical to reproduce in numpy (``band_hashes_np`` — the
    curation bus's driver-decide tier writes index slices with pyarrow,
    no Spark job), overflow-free under ANSI mode, and equivalent for
    bucketing — a hash coincidence only admits a false candidate, which
    the exact (band_id, band_hash) equi-join plus the signature re-rank
    removes."""
    global _BAND_MIX_EXPR
    if _BAND_MIX_EXPR is None:

        def mix(b: int):
            out = _rotl64(F.col(f"h{b * LSH_ROWS}"), _BAND_ROTS[0])
            for j in range(1, LSH_ROWS):
                out = out.bitwiseXOR(
                    _rotl64(F.col(f"h{b * LSH_ROWS + j}"), _BAND_ROTS[j])
                )
            return out

        _BAND_MIX_EXPR = F.posexplode(
            F.array(*[mix(b) for b in range(LSH_BANDS)])
        ).alias("band_id", "band_hash")
    return sigs.select("doc_id", _BAND_MIX_EXPR)


def band_hashes_np(mat):
    """numpy twin of ``band_buckets``'s mix: (n, 64) int64 signature
    matrix → (n, 16) int64 band hashes, bit-identical to the Spark
    column expression (differential-gated in pytest)."""
    import numpy as np

    u = np.ascontiguousarray(mat).view(np.uint64)
    out = np.zeros((u.shape[0], LSH_BANDS), dtype=np.uint64)
    for b in range(LSH_BANDS):
        for j in range(LSH_ROWS):
            x = u[:, b * LSH_ROWS + j]
            k = _BAND_ROTS[j]
            out[:, b] ^= (x << np.uint64(k)) | (x >> np.uint64(64 - k))
    return out.view(np.int64)


_JAVA_WS_RE = None  # compiled lazily; Java regex \s is ASCII-only


def minhash_signatures_np(doc_ids, texts):
    """numpy twin of ``minhash_signatures(shingles_of(batch,
    distinct=False))`` for DRIVER-COLLECTED batches: (doc_ids, texts)
    → (sids int64 (n,), mat int64 (n, 64)), one row per doc with ≥
    NGRAM_N tokens — bit-identical to the Spark frame (differential-
    gated in pytest over the real corpus + unicode edge cases).

    Tokenization mirrors the column expressions exactly: ``trim`` strips
    SPACES only (Spark's default trim), the split regex is Java's
    ASCII ``\\s`` class (Python's ``\\s`` is unicode-aware — using it
    would silently split on NBSP etc. and change signatures), empty
    split fields count as words (Java split keeps them), and the hash
    chain is hashInt(k, 42) → hashLong(xxh64(shingle), ·) like the
    Spark ``xxhash64(lit(k), h64)`` two-column fold.  Minima compare as
    SIGNED longs (Spark's LongType MIN), hence the int64 view before
    the reduce.

    This removes the ONE Spark aggregation job the warm local-decide
    micro-batch still paid (VERDICT r11 #6): when the batch text rides
    the id collect, signatures never touch the executors."""
    import numpy as np

    from frizzle_spark.operators.xxh64_np import (
        hash_bytes_np,
        hash_int_np,
        hash_long_np,
    )

    global _JAVA_WS_RE
    if _JAVA_WS_RE is None:
        import re

        _JAVA_WS_RE = re.compile("[ \t\n\x0b\f\r]+")

    shingle_bytes: list[bytes] = []
    bounds: list[int] = []
    keep_ids: list[int] = []
    for d, t in zip(doc_ids, texts):
        if t is None:
            continue
        ws = _JAVA_WS_RE.split(t.strip(" "))
        if len(ws) < NGRAM_N:
            continue
        bounds.append(len(shingle_bytes))
        for i in range(len(ws) - NGRAM_N + 1):
            shingle_bytes.append(
                " ".join(ws[i : i + NGRAM_N]).encode("utf-8")
            )
        keep_ids.append(int(d))
    if not keep_ids:
        return (
            np.empty(0, dtype=np.int64),
            np.empty((0, MINHASH_PERMS), dtype=np.int64),
        )
    h64 = hash_bytes_np(shingle_bytes)  # (S,) uint64
    seeds = hash_int_np(np.arange(MINHASH_PERMS), 42)  # (64,)
    sigs = hash_long_np(h64[None, :], seeds[:, None])  # (64, S)
    sv = sigs.view(np.int64)
    mat = np.minimum.reduceat(sv, np.asarray(bounds), axis=1).T  # (n, 64)
    return np.asarray(keep_ids, dtype=np.int64), np.ascontiguousarray(mat)


def minhash_candidates(
    spark: SparkSession, sf_dir: str, _sigs: DataFrame | None = None
) -> DataFrame:
    """Distinct (d1, d2) MinHash-LSH band-collision candidates — the
    pair set the banding join actually scans, exposed so the bench can
    report candidate fraction (|candidates| / C(n,2)) beside recall."""
    sigs = _sigs if _sigs is not None else minhash_signatures(_shingles(spark, sf_dir))
    banded = band_buckets(sigs)
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band_id", "band_hash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )


def minhash_pairs_of(docs: DataFrame) -> DataFrame:
    """Batch MinHash near-dup pairs (d1, d2, est_jaccard) of an
    arbitrary (doc_id, text) DataFrame — the corpus-dir-independent
    form of ``qz11_minhash_lsh`` (identical signatures, banding,
    threshold), so incremental curation can dedup WITHIN a new crawl
    slice with the same machinery it uses against the stored index
    (``incremental_neardup`` covers new-vs-indexed; this covers
    new-vs-new).  Same scale shape as the registry query: the banding
    join shuffles bucket rows, never text."""
    return pairs_from_sigs(minhash_signatures(shingles_of(docs, distinct=False)))


def pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """``minhash_pairs_of`` for a PRE-COMPUTED signature frame
    (doc_id, h0..h63) — the curation bus computes one signature frame
    per micro-batch and shares it across the index probe, this
    within-batch pair scan, and the index append."""
    banded = band_buckets(sigs)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_id", "band_hash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    sa = sig_array(sigs)
    agree = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(
            sa.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sig1")), "d1"
        )
        .join(
            sa.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2")), "d2"
        )
        .withColumn("est_raw", agree / F.lit(float(MINHASH_PERMS)))
        .where(F.col("est_raw") >= JACCARD_THRESHOLD)
        .select("d1", "d2", F.round("est_raw", 6).alias("est_jaccard"))
    )


@query("qz11_minhash_lsh", oracle=None)
def qz11_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates with signature-estimated Jaccard.

    Banding: 16 bands × 4 rows; docs sharing any band bucket become
    candidates (shuffle by band hash — each doc contributes 16 rows, so
    the candidate join never sees raw text).  Estimated J = fraction of
    agreeing signature positions; filtered at the same 0.5 threshold.
    Rows-only check (hash family not reproducible in DuckDB); pytest
    gates recall against q11_ngram_jaccard.
    """
    # Materialize the 65-long-per-doc signature frame (r12): it feeds
    # four branches (both banding join sides + the two re-rank joins) and
    # broadcast exchanges defeat subplan reuse — the before-plan
    # re-shingled documents 8×.  r13: cap-gated (VERDICT r12 #5) —
    # executor-local under LOCAL_MAT_CAP_BYTES, parquet scratch over it.
    sigs = materialize_fanout(
        minhash_signatures(_shingles(spark, sf_dir)),
        _docs_n(spark, sf_dir) * SIG_ROW_BYTES,
    )
    with_sig = sig_array(sigs)
    cand = minhash_candidates(spark, sf_dir, _sigs=sigs)
    sa = with_sig.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sig1"))
    sb = with_sig.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2"))
    agree = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("est_raw", agree / F.lit(float(MINHASH_PERMS)))
        .where(F.col("est_raw") >= JACCARD_THRESHOLD)
        .select("d1", "d2", F.round("est_raw", 6).alias("est_jaccard"))
    )


_SIMHASH_LANES = 16  # packed longs per signature; 4 × 16-bit lanes each


def simhash_fingerprints(hashed: DataFrame, h: str = "h64") -> DataFrame:
    """doc_id → 64-bit SimHash, via lane-packed vote counting.

    Semantics: simhash bit i = 1 iff Σ over shingles of (±1 on bit i of
    the shingle hash) is positive — equivalently 2·ones_i > n_shingles.

    Instead of 64 conditional SUM aggregates (measured: codegen + JIT of
    that plan dominated wall time — ~6 s of a 7.5 s fresh run at sf0.1),
    pack 4 bit-counters into 16-bit lanes of 16 longs: per shingle,
    lane k of packed_j holds bit 4j+k; SUM the 16 packed longs plus one
    COUNT, then unpack ones_i = (S_{i/4} >> 16·(i%4)) & 0xFFFF in a flat
    projection.  17 aggregate buffers instead of 64, no branches in the
    agg loop.  Lane width bounds shingles/doc at 65 535 — far above the
    testdata max (98) and any sane shingle set; for 100 TB documents
    beyond that, pre-split docs into ≤64 k-shingle segments and merge
    (vote counts add associatively), or widen to 32-bit lanes
    (32 sums — still 2× fewer than per-bit).

    The per-shingle lane projection uses a multiply-spread: nibble
    n = (h >> 4j) & 0xF multiplied by C = 1 + 2^15 + 2^30 + 2^45 lands
    bit k at position k + 15k = 16k; cross terms k + 15m (k ≠ m) are
    never ≡ 0 (mod 16) and never collide with each other (k - m = 15·Δ
    has no solution with |k - m| ≤ 3), so a final & 0x0001000100010001
    leaves exactly bit(4j+k) << 16k — 4 integer ops per lane instead of
    the ~20 (4 × shift/and/cast/mult + adds) of the naive expansion.
    Measured at sf0.1 the wall-time delta is inside noise (fingerprint
    stage min 2.68 s → 2.56 s: the stage is shuffle-bound, not
    projection-bound); kept for the 4× smaller generated code, which is
    what matters when 64-lane-scale variants of this pattern compile
    (SCALE.md round-3 entry has the per-stage numbers).
    """
    _SPREAD = (1 << 45) | (1 << 30) | (1 << 15) | 1
    _LANE_MASK = 0x0001000100010001
    hcol = F.col(h)
    packed = []
    for j in range(_SIMHASH_LANES):
        nibble = F.shiftrightunsigned(hcol, 4 * j).bitwiseAND(F.lit(15))
        lane = (nibble * F.lit(_SPREAD)).bitwiseAND(F.lit(_LANE_MASK))
        packed.append(F.sum(lane).alias(f"s{j}"))
    agg = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *packed)

    fp = None
    for i in range(SIMHASH_BITS):
        ones = (
            F.shiftrightunsigned(F.col(f"s{i // 4}"), 16 * (i % 4))
            .bitwiseAND(F.lit(0xFFFF))
        )
        is_set = (ones * 2) > F.col("n")
        weight = F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        term = F.when(is_set, weight).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.alias("simhash"))


@query("qz11_simhash", oracle=None)
def qz11_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, Hamming ≤ 3.

    Candidates via 4×16-bit chunk banding (pigeonhole: Hamming ≤ 3 ⇒ at
    least one identical chunk), verified with bit_count(xor).  Rows-only
    check; unit-tested on synthetic near-identical docs.
    """
    sh = _shingles(spark, sf_dir)
    hashed = sh.select("doc_id", F.xxhash64(F.col("shingle")).alias("h64"))
    # Materialize the 2-long-per-doc fingerprint table (r12): the
    # banding self-join broadcasts one side, and a broadcast exchange
    # never subplan-matches the streamed side — without this the whole
    # shingle+vote pipeline executed once PER JOIN SIDE (4 documents
    # scans in the before-plan, 1 after).  r13: cap-gated (VERDICT r12
    # #5) — executor-local under the cap, parquet scratch over it.
    fps = materialize_fanout(
        simhash_fingerprints(hashed), _docs_n(spark, sf_dir) * FP_ROW_BYTES
    )
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), 16 * j).bitwiseAND(F.lit(0xFFFF)).alias(f"c{j}")
            for j in range(4)
        ]
    )
    banded = fps.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("chunk_id", "chunk")
    )
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["chunk_id", "chunk"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            ham.cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


@query(
    "q11_keep_latest",
    oracle="""
    SELECT user_id, event_id, event_type, round(value, 6) AS value
    FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q11_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction dedup: keep each user's LATEST event (row_number = 1).

    The upsert/CDC-compaction operator every training-data snapshot
    needs ("latest record per key").  One hash shuffle on user_id; the
    per-key sort is local to each partition (window, not a global
    orderBy) and the tiebreak on event_id makes the survivor
    deterministic.  At 100 TB this is the standard log→snapshot shape;
    AQE splits any hot user key.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


@query(
    "q11_blocklist_dedup",
    oracle="""
    WITH blocklist AS (
        SELECT DISTINCT md5(text) AS fp FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
    )
    SELECT d.doc_id, d.source
    FROM documents d
    LEFT JOIN blocklist b ON md5(d.text) = b.fp
    WHERE b.fp IS NULL
    """,
)
def q11_blocklist_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus dedup: drop documents whose content hash appears in a
    blocklist corpus (here: sources src0-src3) — the "decontaminate
    training data against an eval set / earlier crawl" operator.

    Left-ANTI join on the 128-bit hash: the blocklist side is the small
    one and broadcasts (eval sets and prior-crawl Bloom/HLL digests are
    MBs even when the corpus is TBs); no shuffle touches the big side.
    At larger blocklists the same plan degrades gracefully to a
    hash-shuffle anti join on fp — still one shuffle, never pairwise.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.encode("text", "UTF-8"))
    blocklist = (
        docs.where(F.col("source").isin("src0", "src1", "src2", "src3"))
        .select(fp.alias("fp"))
        .distinct()
    )
    return (
        docs.select("doc_id", "source", fp.alias("fp"))
        .join(F.broadcast(blocklist), "fp", "left_anti")
        .select("doc_id", "source")
    )


DECONT_N = 8  # words per gram; the classic 13-gram rule scaled to this
# corpus's short synthetic docs (min ~8 words).  At 100 TB this is a
# constant you set once per decontamination policy.
DECONT_BENCH_MOD = 10  # every 10th doc_id plays the held-out eval set


def word_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """Distinct word n-grams per (doc_id, text) frame — the generalized
    form of ``shingles_of`` (kept separate so the Jaccard oracle's
    3-gram SQL stays literally in sync with its Spark twin)."""
    ws = F.split(F.trim(F.col("text")), r"\s+")
    terms = ", ".join(f"ws[i+{j}]" for j in range(n))
    return (
        docs.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(ws) - {n}),"
                    f" i -> concat_ws(' ', {terms}))"
                )
            ).alias("gram"),
        )
        .distinct()
    )


_DECONT_GRAM = " || ' ' || ".join(f"ws[i+{j}]" for j in range(DECONT_N))


@query(
    "qz11_decontaminate",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents
    ),
    idx AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - {DECONT_N - 1})) AS i
        FROM words WHERE len(ws) >= {DECONT_N}
    ),
    sh AS (SELECT DISTINCT doc_id, {_DECONT_GRAM} AS gram FROM idx),
    bench AS (
        SELECT DISTINCT gram FROM sh WHERE doc_id % {DECONT_BENCH_MOD} = 0
    )
    SELECT s.doc_id AS doc_id, count(*) AS n_shared
    FROM sh s JOIN bench b ON s.gram = b.gram
    WHERE s.doc_id % {DECONT_BENCH_MOD} <> 0
    GROUP BY s.doc_id
    """,
)
def qz11_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination: flag training documents sharing
    any word {DECONT_N}-gram with a held-out eval set (here: every
    {DECONT_BENCH_MOD}th doc_id plays the benchmark, so the check is
    deterministic and oracle-able).  This is the standard "n-gram
    overlap" decontamination of LLM training pipelines — a finer filter
    than ``q11_blocklist_dedup``'s whole-document hash: one leaked
    PASSAGE contaminates, not just a verbatim copy.

    Scale shape: benchmark grams are the small side by construction
    (eval sets are MBs against TB corpora) — distinct once, broadcast,
    inner-join against the exploded corpus grams, then one groupBy
    doc_id.  The corpus side is never shuffled on the gram; only
    matched (doc_id, gram) survivors reach the aggregation.  At 100 TB
    join on ``xxhash64(gram)`` instead of the ~50-byte string to shrink
    the broadcast map (collision risk 2^-64-scale; kept exact here for
    the oracle).  Oracle-backed in pytest; driver-side rows-only (the
    50-slot harvest window is full — qz prefix by contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(docs.select("doc_id", F.lower("text").alias("text")), DECONT_N)
    bench = (
        grams.where(F.col("doc_id") % DECONT_BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    return (
        grams.where(F.col("doc_id") % DECONT_BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --- incremental MinHash index: layout + probe tiers ----------------------
#
# The stored index is PROBE-OPTIMIZED, not scan-optimized: a probe
# carries the batch's band hashes (16 per doc) and wants the stored
# rows colliding with them — a needle query, not an analytical scan.
# Three layout decisions serve it:
#
# * bands/ is partitioned by band_id and SORTED by band_hash within
#   every file, with small row groups (_BAND_RG_BYTES): each row group's
#   parquet min/max statistics then cover a NARROW hash range, so a
#   probe can skip every row group containing no batch hash;
# * signatures/ is sorted by doc_id the same way — the candidate
#   re-rank fetches signatures for the (few) colliding old_ids by the
#   same row-group pruning;
# * probe I/O is therefore O(min(batch_keys x row_group, index)) — flat
#   in index size once the index has more row groups than the batch has
#   distinct hashes (the long-running-bus regime), and never worse than
#   the full scan below the crossover.  CURATION_PROBE_SCALE.json is
#   the measured curve.
#
# Probe tiers (incremental_neardup's ``probe_mode``):
#   "rowgroup" — the pruned scan above, executed as mapInPandas over the
#       index FILE list: every task opens its files' footers, prunes row
#       groups against the (broadcast, sorted) batch key array with
#       numpy searchsorted, reads survivors via pyarrow, and emits only
#       exactly-matching rows.  No Spark shuffle touches the stored
#       table at all.
#   "bitmap"  — Spark-native fallback for batch key sets too large to
#       broadcast usefully (decontamination-style probes): the batch's
#       keys fold into a 64 KiB xxhash64 bit array (qz26_bitmap_semijoin's
#       move); the stored scan reaches the join only through the
#       broadcast mask test, so the shuffle sees collisions + rare false
#       positives, never the index.  Scan I/O stays O(index) — the right
#       trade when keys ~ index anyway.
#   "full"    — the plain band-bucket join (the oracle tier the identity
#       gates compare against).
#   "auto"    — "rowgroup" when the batch's distinct band hashes fit
#       PROBE_RG_MAX_KEYS, else "bitmap".

# Row-group sizing is the pruning granularity: probe I/O floor is
# (batch keys x row-group rows), so smaller groups push the flat regime
# down to smaller indexes, at ~200 B of footer statistics per group
# (128 KiB groups: ~0.4% metadata overhead, ~5.4k band rows per range).
_BAND_RG_BYTES = 1 << 17
_SIG_RG_BYTES = 1 << 19
# Persisted-index band-hash algorithm version.  The r10 switch from
# xxhash64(band rows) to the rotate-XOR mix silently changed the stored
# band_hash values: probing a pre-switch index with post-switch code
# yields ZERO collisions — missed duplicates, no error.  Writers stamp
# this into ``_index_format.json``; probe paths fail loudly on mismatch.
# Bump whenever band_buckets / band_hashes_np change output values.
BAND_HASH_FORMAT = "rotxor-v2"
_INDEX_FORMAT_FILE = "_index_format.json"


def _stamp_index_format(base_path: str, mode: str) -> None:
    """Write (overwrite) or validate (append) the index format marker."""
    import json
    import os

    path = os.path.join(base_path, _INDEX_FORMAT_FILE)
    if mode != "overwrite" and os.path.exists(path):
        _check_index_format(base_path)
        return
    os.makedirs(base_path, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"band_hash_format": BAND_HASH_FORMAT}, fh)
    os.replace(tmp, path)


def _check_index_format(base_path: str) -> None:
    """Raise if the stored index's band-hash format doesn't match the
    code's.  A pre-stamp index (no marker file) is tolerated — it is
    indistinguishable from current-format by construction, and every
    writer since the stamp landed creates the marker."""
    import json
    import os

    try:
        with open(os.path.join(base_path, _INDEX_FORMAT_FILE)) as fh:
            fmt = json.load(fh).get("band_hash_format")
    except (OSError, ValueError):
        return
    if fmt != BAND_HASH_FORMAT:
        raise ValueError(
            f"minhash index at {base_path!r} was written with band-hash "
            f"format {fmt!r} but this code computes {BAND_HASH_FORMAT!r}: "
            "probing would silently return zero collisions (missed "
            "duplicates). Rebuild with materialize_minhash_index."
        )
PROBE_RG_MAX_KEYS = 1 << 17  # 131072 hashes ~ 8k docs/batch; 1 MB broadcast
PROBE_RG_MIN_INDEX_BYTES = 1 << 28  # below 256 MiB auto just scans the index
_BITMAP_WORDS = 1024  # 65,536 bits — same sizing as qz26_bitmap_semijoin


def materialize_minhash_index(docs: DataFrame, base_path: str) -> None:
    """Persist the MinHash dedup index for a corpus: ``signatures/``
    (doc_id, sig array<long>) and ``bands/`` (doc_id, band_id,
    band_hash), the amortization point the _shingles docstring names —
    at 100 TB you compute signatures ONCE per corpus snapshot and every
    later dedup pass (new crawl, eval decontamination) joins against
    this table instead of re-reading text.  Layout is probe-optimized
    (header comment): bands/ partitioned by band_id, sorted by band_hash
    within files, small row groups for stat-pruned point probes."""
    sigs = minhash_signatures(shingles_of(docs, distinct=False))
    _write_sig_slice(sigs, base_path, mode="overwrite")


def _write_sig_slice(sigs: DataFrame, base_path: str, mode: str) -> None:
    """The two index writes shared by materialize and append: sorted,
    small-row-group, probe-optimized (header comment)."""
    _stamp_index_format(base_path, mode)
    (
        sig_array(sigs)
        .sortWithinPartitions("doc_id")
        .write.mode(mode)
        .option("parquet.block.size", str(_SIG_RG_BYTES))
        .parquet(f"{base_path}/signatures")
    )
    (
        band_buckets(sigs)
        # sort key includes band_id so the partitioned-write machinery's
        # required clustering is already satisfied (no injected re-sort
        # that could break band_hash order); within each written file
        # rows are then band_hash-ascending — the property row-group
        # stat pruning needs.  No repartition: every input task writes
        # its slice of all 16 band dirs (full write parallelism; a
        # band is never forced through one task)
        .sortWithinPartitions("band_id", "band_hash")
        .write.mode(mode)
        .option("parquet.block.size", str(_BAND_RG_BYTES))
        .option("parquet.page.size", str(1 << 16))
        .partitionBy("band_id")
        .parquet(f"{base_path}/bands")
    )


def append_minhash_index(new_docs: DataFrame, base_path: str) -> int:
    """Append a new slice's signatures/bands to an EXISTING
    ``materialize_minhash_index`` output — the per-increment write of
    continuous curation: O(new docs) compute, two parquet appends, the
    stored corpus untouched.  The caller is responsible for exactly-once
    semantics across retries (the streaming ingest guards with a
    committed-batch watermark in its meta — see
    streaming/curation.py); a blind double-append duplicates index rows,
    which inflates candidate counts but never loses pairs.

    Empty slices write nothing at all: a zero-row ``partitionBy`` append
    would still commit an empty job, and on some Hadoop committers that
    rewrites _SUCCESS for no data — cheap to skip explicitly.

    Returns the number of documents whose signatures were appended.
    Callers MUST treat 0 as "the index may still not exist on disk":
    a slice can be non-empty yet contribute no signatures (docs under
    the 3-word shingle minimum have no MinHash row — and, consistently,
    can never be near-dup candidates either), so probing readiness has
    to follow signature count, not slice count (the streaming ingest's
    ``index_ready`` watermark does exactly this)."""
    # checkpoint the wide signature frame once so the two appends below
    # (array form + banding) don't re-shingle the slice twice
    sigs = minhash_signatures(shingles_of(new_docs, distinct=False)).localCheckpoint(eager=True)
    return append_minhash_index_sigs(sigs, base_path)


def append_minhash_index_sigs(
    sigs: DataFrame,
    base_path: str,
    n_known: int | None = None,
    coalesce_to: int | None = None,
) -> int:
    """``append_minhash_index`` for a PRE-COMPUTED (and already
    materialized — persisted or checkpointed) signature frame
    (doc_id, h0..h63): the curation bus computes one signature frame
    per micro-batch and feeds it to the probe, the within-batch pair
    scan, AND this append — re-shingling the slice three times was the
    bulk of the bus's fixed per-batch overhead.

    ``n_known`` skips the count job when the caller already knows the
    slice's signature count (the bus's driver-decide tier does).
    ``coalesce_to`` bounds the append's output FILE count — a
    micro-batch written at session shuffle width sprays
    partitions x 16 band files per batch, and every later probe pays
    the open() storm; the bus coalesces its (small by definition)
    batches to 1."""
    n = int(n_known) if n_known is not None else sigs.count()
    if n == 0:
        return 0
    if coalesce_to is not None:
        sigs = sigs.coalesce(coalesce_to)
    _write_sig_slice(sigs, base_path, mode="append")
    return n


def _list_index_files(root: str, part_col: str | None) -> list[tuple[str, int]]:
    """(file path, partition value) pairs for one index table.  Local
    and shared-POSIX filesystems; on an object store swap in the
    matching listing call — the probe tasks only need paths pyarrow can
    open."""
    import os

    out: list[tuple[str, int]] = []
    if not os.path.isdir(root):
        return out
    if part_col is None:
        for fn in sorted(os.listdir(root)):
            # skip hidden/sidecar files (_rg_manifest.parquet, _SUCCESS)
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                out.append((os.path.join(root, fn), 0))
        return out
    for d in sorted(os.listdir(root)):
        if not d.startswith(f"{part_col}="):
            continue
        pv = int(d.split("=", 1)[1])
        sub = os.path.join(root, d)
        for fn in sorted(os.listdir(sub)):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                out.append((os.path.join(sub, fn), pv))
    return out


_RG_MANIFEST = "_rg_manifest.parquet"


def _write_rg_manifest(root: str, key_col: str, part_col: str | None) -> int:
    """Row-group manifest sidecar (round 11, VERDICT r10 #2): one row
    per parquet row group — (relative path, partition value, rg index,
    key min/max, rows) — written at compaction time so the probe prunes
    DRIVER-SIDE from one small vectorized table instead of parsing
    thousands of footers through python-object statistics access (the
    measured floor at 80M band rows: footer parsing cost more than the
    pruned data reads, SCALE.md round-10).  Underscore-prefixed, so
    Spark's parquet reader never sees it; paths are RELATIVE to the
    table root, so a copied/moved index stays valid.  Returns the
    manifest row count."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    paths, pvs, rgs, mins, maxs, nrows = [], [], [], [], [], []
    i64 = (1 << 63) - 1
    for path, pv in _list_index_files(root, part_col):
        md = pq.ParquetFile(path).metadata
        ci = md.schema.to_arrow_schema().get_field_index(key_col)
        rel = os.path.relpath(path, root)
        for rg in range(md.num_row_groups):
            meta = md.row_group(rg)
            st = meta.column(ci).statistics
            paths.append(rel)
            pvs.append(int(pv))
            rgs.append(rg)
            # stats-less groups get the full range: always read
            # (pruning may only skip PROVABLY empty groups)
            if st is None or st.min is None or st.max is None:
                mins.append(-i64 - 1)
                maxs.append(i64)
            else:
                mins.append(int(st.min))
                maxs.append(int(st.max))
            nrows.append(meta.num_rows)
    tb = pa.table(
        {
            "path": pa.array(paths, pa.string()),
            "pv": pa.array(pvs, pa.int32()),
            "rg": pa.array(rgs, pa.int32()),
            "rgmin": pa.array(mins, pa.int64()),
            "rgmax": pa.array(maxs, pa.int64()),
            "nrows": pa.array(nrows, pa.int64()),
        }
    )
    tmp = os.path.join(root, _RG_MANIFEST + ".tmp")
    pq.write_table(tb, tmp)
    os.replace(tmp, os.path.join(root, _RG_MANIFEST))
    return len(paths)


def _load_rg_manifest(root: str):
    """Manifest arrays (paths, pv, rg, min, max) or None if absent."""
    import os

    import pyarrow.parquet as pq

    p = os.path.join(root, _RG_MANIFEST)
    if not os.path.exists(p):
        return None
    tb = pq.read_table(p)
    return (
        tb["path"].to_pylist(),
        tb["pv"].to_numpy(),
        tb["rg"].to_numpy(),
        tb["rgmin"].to_numpy(),
        tb["rgmax"].to_numpy(),
    )


def probe_index_rowgroups(
    spark: SparkSession,
    root: str,
    key_col: str,
    keys,
    columns: list[str],
    out_schema: str,
    part_col: str | None = None,
) -> DataFrame:
    """Stat-pruned point probe of a sorted index table (header comment):
    returns the stored rows whose ``key_col`` is in ``keys``, reading
    only the parquet row groups whose [min,max] intersects the key set.

    ``keys`` is either a flat iterable of int64 (unpartitioned table)
    or a dict {partition value: iterable} — PER-PARTITION key sets.
    The dict form matters: pruning selectivity is (keys tested per
    group) vs (groups per range), and testing all 16 bands' hashes
    against every band's groups multiplies the tested keys 16x for
    nothing (measured: it dissolved the pruning entirely — 320 uniform
    keys hit 99.9% of ranges that 20 per-band keys hit 38% of).

    Distributed as mapInPandas over the FILE list — each task opens its
    files' footers, prunes with numpy searchsorted against the broadcast
    sorted key array OF ITS PARTITION, reads surviving row groups with
    pyarrow, and exact-filters before emitting.  Row groups without
    statistics are conservatively read (pruning may only skip PROVABLY
    empty groups — a false skip would silently drop true duplicate
    pairs).
    """
    import numpy as np

    files = _list_index_files(root, part_col)
    if isinstance(keys, dict):
        key_map = {
            int(pv): np.sort(np.asarray(list(ks), dtype=np.int64))
            for pv, ks in keys.items()
        }
        files = [(p, pv) for p, pv in files if pv in key_map]
    else:
        key_map = {0: np.sort(np.asarray(list(keys), dtype=np.int64))}
        if part_col is not None:
            key_map = {pv: key_map[0] for _, pv in files}
    if not files or not any(a.size for a in key_map.values()):
        return spark.createDataFrame([], out_schema)

    # Manifest fast path (round 11): prune row groups DRIVER-SIDE from
    # the compaction-written sidecar — one vectorized searchsorted over
    # all groups replaces per-task python-object footer parsing (the
    # measured 80M-row floor).  Files absent from the manifest
    # (appends since the last compaction) keep the footer path; stale
    # manifest entries (files since re-compacted away) are dropped by
    # intersecting with the live file list.
    import os as _os

    man = _load_rg_manifest(root)
    # (path, pv, rgs) tasks; rgs None → prune via footer stats in-task
    planned: list[tuple[str, int, list[int] | None]] = []
    if man is not None:
        mpaths, mpv, mrg, mmin, mmax = man
        live = {p for p, _ in files}
        by_file: dict[tuple[str, int], list[int]] = {}
        for pv, karr in key_map.items():
            if karr.size == 0:
                continue
            m = mpv == pv
            if not m.any():
                continue
            lo = np.searchsorted(karr, mmin[m], side="left")
            hit = (lo < karr.size) & (
                karr[np.minimum(lo, karr.size - 1)] <= mmax[m]
            )
            for i in np.nonzero(m)[0][hit]:
                ap = _os.path.join(root, mpaths[i])
                if ap in live:
                    by_file.setdefault((ap, int(pv)), []).append(int(mrg[i]))
        planned.extend((p, pv, sorted(rgl)) for (p, pv), rgl in by_file.items())
        covered = {_os.path.join(root, p) for p in mpaths}
        planned.extend(
            (p, pv, None) for p, pv in files if p not in covered
        )
    else:
        planned.extend((p, pv, None) for p, pv in files)
    if not planned:
        return spark.createDataFrame([], out_schema)

    keys_b = spark.sparkContext.broadcast(key_map)
    par = min(len(planned), spark.sparkContext.defaultParallelism)
    fdf = spark.createDataFrame(
        planned, "path string, pv int, rgs array<int>"
    ).repartition(par)
    pcol = part_col

    def scan(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        kmap = keys_b.value
        for pdf in batches:
            for path, pv, rgl in zip(pdf["path"], pdf["pv"], pdf["rgs"]):
                karr = kmap.get(int(pv) if pcol is not None else 0)
                if karr is None or karr.size == 0:
                    continue
                f = pq.ParquetFile(path)
                if rgl is not None:
                    keep = [int(r) for r in rgl]
                else:
                    md = f.metadata
                    ci = md.schema.to_arrow_schema().get_field_index(key_col)
                    keep = []
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is None or st.min is None or st.max is None:
                            keep.append(rg)
                            continue
                        lo = int(np.searchsorted(karr, st.min, side="left"))
                        if lo < karr.size and int(karr[lo]) <= st.max:
                            keep.append(rg)
                if not keep:
                    continue
                tb = f.read_row_groups(keep, columns=columns)
                kv = tb[key_col].to_numpy(zero_copy_only=False)
                idx = np.searchsorted(karr, kv)
                np.clip(idx, 0, karr.size - 1, out=idx)
                mask = karr[idx] == kv
                if not mask.any():
                    continue
                out = tb.filter(pa.array(mask)).to_pandas()
                if pcol is not None:
                    out[pcol] = int(pv)
                yield out

    return fdf.mapInPandas(scan, out_schema)


def rowgroup_prune_stats(
    root: str, key_col: str, keys, part_col: str | None = None
) -> dict:
    """Driver-side pruning WITNESS for the rowgroup probe tier: applies
    the exact searchsorted rule the scan tasks apply and reports how
    many row groups / rows the probe reads vs the index total — the
    number the scale record publishes beside the wall curve (and the
    pytest gate asserts shrinks).  ``keys`` is flat or per-partition
    dict, exactly as ``probe_index_rowgroups`` takes it."""
    import numpy as np
    import pyarrow.parquet as pq

    if isinstance(keys, dict):
        key_map = {
            int(pv): np.sort(np.asarray(list(ks), dtype=np.int64))
            for pv, ks in keys.items()
        }
        flat = None
    else:
        flat = np.sort(np.asarray(list(keys), dtype=np.int64))
        key_map = None
    out = {"row_groups_total": 0, "row_groups_read": 0,
           "rows_total": 0, "rows_read": 0, "files": 0}
    for path, pv in _list_index_files(root, part_col):
        out["files"] += 1
        karr = flat if flat is not None else key_map.get(int(pv))
        md = pq.ParquetFile(path).metadata
        ci = md.schema.to_arrow_schema().get_field_index(key_col)
        for rg in range(md.num_row_groups):
            meta = md.row_group(rg)
            out["row_groups_total"] += 1
            out["rows_total"] += meta.num_rows
            if karr is None or karr.size == 0:
                continue
            st = meta.column(ci).statistics
            if st is None or st.min is None or st.max is None:
                hit = True
            else:
                lo = int(np.searchsorted(karr, st.min, side="left"))
                hit = lo < karr.size and int(karr[lo]) <= st.max
            if hit:
                out["row_groups_read"] += 1
                out["rows_read"] += meta.num_rows
    return out


def _bitmap_thin(stored: DataFrame, keys_df: DataFrame, key_col: str) -> DataFrame:
    """Broadcast-bitmap pre-thin (qz26_bitmap_semijoin's move applied to
    the index probe): fold the batch's join keys into a 64 KiB xxhash64
    bit array and drop stored rows whose key cannot be in the batch
    BEFORE any shuffle.  False positives pass (the exact join removes
    them); false negatives are impossible."""
    h = F.xxhash64(F.col(key_col))
    word = F.pmod(h, F.lit(_BITMAP_WORDS)).cast("int").alias("word")
    bit = F.pmod(F.shiftrightunsigned(h, 32), F.lit(64)).cast("int")
    one_shl_bit = F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
    bitmap = (
        keys_df.select(word, bit.alias("bit"))
        .groupBy("word")
        .agg(F.bit_or(one_shl_bit).alias("mask"))
    )
    return (
        stored.withColumn("word", word)
        .withColumn("bit", bit.alias("bit"))
        .join(F.broadcast(bitmap), "word")
        .where(F.col("mask").bitwiseAND(one_shl_bit) != 0)
        .drop("word", "bit", "mask")
    )


def _collect_keys_capped(df: DataFrame, col: str, cap: int) -> list[int] | None:
    """Distinct values of one long column, or None when they exceed
    ``cap`` (one job; the limit bounds driver memory by construction)."""
    rows = df.select(col).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return [r[0] for r in rows]


def _collect_key_pairs_capped(
    df: DataFrame, pv_col: str, key_col: str, cap: int
) -> dict[int, list[int]] | None:
    """Distinct (partition value, key) pairs grouped into a per-partition
    dict, or None over ``cap`` — the per-band key sets the rowgroup
    probe prunes with."""
    rows = df.select(pv_col, key_col).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    out: dict[int, list[int]] = {}
    for pv, k in rows:
        out.setdefault(int(pv), []).append(k)
    return out


COMPACT_TARGET_ROWS = 2_000_000  # per output file (~48 MB band rows)


def _footer_rows(root: str, part_col: str | None) -> int:
    """Row count of one index table, summed from its files' footers —
    no data read and no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p, _ in _list_index_files(root, part_col)
    )


def _read_index_signatures(base_path: str):
    """(ids (n,) int64, mat (n, 64) int64) of every stored signature
    row, in file order, whether Spark or pyarrow wrote the file."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ids, mats = [], []
    for p, _ in _list_index_files(f"{base_path}/signatures", None):
        with pq.ParquetFile(p) as f:
            tb = f.read(columns=["doc_id", "sig"], use_threads=False)
        flat = pc.list_flatten(tb["sig"]).to_numpy()
        if flat.size != tb.num_rows * MINHASH_PERMS:
            raise ValueError(
                f"{p}: signature rows are not {MINHASH_PERMS} wide"
            )
        ids.append(tb["doc_id"].to_numpy())
        mats.append(flat.reshape(-1, MINHASH_PERMS))
    if not ids:
        return np.empty(0, np.int64), np.empty((0, MINHASH_PERMS), np.int64)
    return (
        np.concatenate(ids).astype(np.int64, copy=False),
        np.concatenate(mats).astype(np.int64, copy=False),
    )


def compact_minhash_index(spark: SparkSession, base_path: str) -> dict:
    """Merge an append-accumulated MinHash index into few large SORTED
    files — the streaming small-file problem applied to the probe
    layout.  Every bus append adds one file per band whose rows span
    the FULL hash range (MinHash minima are uniform), so after many
    batches the per-file/row-group min-max statistics stop separating
    ranges and the rowgroup probe tier degrades to a full scan.
    Compaction rewrites each table sorted on its probe key (band_hash /
    doc_id): files and row groups become narrow and disjoint again,
    restoring the O(batch_keys x row_group) probe I/O floor.  Probe
    identity across compaction is pytest-gated on both tiers;
    CURATION_PROBE_SCALE.json carries the measured before/after curve.

    Two tiers, gated on the whole index (bands + signatures) on disk:

    * at most ``PROBE_LOCAL_MAX_INDEX_BYTES`` — the cap under which the
      bus's probe already reads the entire band table into the driver
      every batch — the index is REBUILT from its signature table on
      the driver with pyarrow: one signature file sorted by doc_id and
      one file per band sorted by band_hash, through the writer that
      ``append_minhash_index_local`` uses.  No Spark job.  Every writer
      puts signatures before bands, so the bands are always derivable
      from the signatures: a crash-truncated append (signatures in,
      some band files missing) comes out healed;
    * over the cap, Spark repartitions each table BY RANGE on its probe
      key and sorts within partitions.

    Two-phase local/shared-POSIX move: write to a sibling tmp dir,
    verify row counts from the tmp files' footers (signature rows out
    equal signature rows in; band rows out equal LSH_BANDS x signature
    rows and are at least the band rows in — a ValueError otherwise,
    with the live index untouched), then swap directories.  The index
    is derived, rebuildable state — run compaction between
    micro-batches (the bus is the only writer; probes in other sessions
    should not race the swap on a non-atomic filesystem).

    Returns {"tier": "local" | "spark", "bands_rows": n,
    "signatures_rows": n, "files_before": n, "files_after": n,
    "manifest_rows": n} — row counts of the compacted index.
    """
    import os
    import shutil

    band_files = _list_index_files(f"{base_path}/bands", "band_id")
    sig_files = _list_index_files(f"{base_path}/signatures", None)
    files_before = len(band_files) + len(sig_files)
    idx_bytes = sum(os.stat(p).st_size for p, _ in band_files + sig_files)
    bands_tmp = f"{base_path}/bands_compact_tmp"
    sigs_tmp = f"{base_path}/signatures_compact_tmp"

    if idx_bytes <= PROBE_LOCAL_MAX_INDEX_BYTES:
        tier = "local"
        n_bands_in = _footer_rows(f"{base_path}/bands", "band_id")
        ids, mat = _read_index_signatures(base_path)
        n_sigs_in = int(ids.size)
        for tmp in (bands_tmp, sigs_tmp):
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
        _write_index_local(ids, mat, sigs_tmp, bands_tmp)
    else:
        tier = "spark"
        bands = spark.read.schema(
            "doc_id long, band_hash long, band_id int"
        ).parquet(f"{base_path}/bands")
        n_bands_in = bands.count()
        nparts = max(LSH_BANDS, int(n_bands_in // COMPACT_TARGET_ROWS) + 1)
        (
            bands.repartitionByRange(nparts, "band_id", "band_hash")
            .sortWithinPartitions("band_id", "band_hash")
            .write.mode("overwrite")
            .option("parquet.block.size", str(_BAND_RG_BYTES))
            .option("parquet.page.size", str(1 << 16))
            .partitionBy("band_id")
            .parquet(bands_tmp)
        )
        sigs = spark.read.schema("doc_id long, sig array<long>").parquet(
            f"{base_path}/signatures"
        )
        n_sigs_in = sigs.count()
        nparts_s = max(1, int(n_sigs_in * 520 // (COMPACT_TARGET_ROWS * 24)) + 1)
        (
            sigs.repartitionByRange(nparts_s, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .option("parquet.block.size", str(_SIG_RG_BYTES))
            .parquet(sigs_tmp)
        )

    n_sigs = _footer_rows(sigs_tmp, None)
    n_bands = _footer_rows(bands_tmp, "band_id")
    if n_sigs != n_sigs_in:
        raise ValueError(
            f"index compaction wrote {n_sigs} signature rows, read {n_sigs_in}"
        )
    if n_bands != LSH_BANDS * n_sigs or n_bands < n_bands_in:
        raise ValueError(
            f"index compaction wrote {n_bands} band rows for {n_sigs} "
            f"signatures ({LSH_BANDS} each) from {n_bands_in} band rows"
        )
    for table, tmp in (("bands", bands_tmp), ("signatures", sigs_tmp)):
        old = os.path.join(base_path, f"_{table}_precompact")
        shutil.rmtree(old, ignore_errors=True)
        os.rename(os.path.join(base_path, table), old)
        os.rename(tmp, os.path.join(base_path, table))
        shutil.rmtree(old, ignore_errors=True)
    files_after = len(_list_index_files(f"{base_path}/bands", "band_id")) + len(
        _list_index_files(f"{base_path}/signatures", None)
    )
    # manifest sidecars (round 11): enumerate the fresh footers ONCE,
    # driver-side, so every later probe prunes from one vectorized
    # table instead of re-parsing footers per probe (VERDICT r10 #2)
    manifest_rows = _write_rg_manifest(
        f"{base_path}/bands", "band_hash", "band_id"
    ) + _write_rg_manifest(f"{base_path}/signatures", "doc_id", None)
    return {
        "tier": tier,
        "bands_rows": int(n_bands),
        "signatures_rows": int(n_sigs),
        "files_before": files_before,
        "files_after": files_after,
        "manifest_rows": int(manifest_rows),
    }


def _write_index_local(ids, mat, sig_dir: str, bands_dir: str) -> None:
    """One pyarrow write of a signature slice — ``ids`` (n,) int64,
    ``mat`` (n, 64) int64 — in the probe layout: a signature file
    sorted by doc_id into ``sig_dir``, THEN one file per band sorted by
    band_hash under ``bands_dir/band_id=b``.  Signatures go first, so a
    crash part-way leaves bands that compaction can rebuild from them.
    Small row groups, as ``_write_sig_slice``."""
    import os
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = ids.size
    tag = uuid.uuid4().hex
    order = np.argsort(ids, kind="stable")
    sig_tb = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "sig": pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, n * MINHASH_PERMS + 1, MINHASH_PERMS,
                              dtype=np.int32)
                ),
                pa.array(np.ascontiguousarray(mat[order]).ravel(), pa.int64()),
            ),
        }
    )
    os.makedirs(sig_dir, exist_ok=True)
    pq.write_table(
        sig_tb,
        os.path.join(sig_dir, f"part-local-{tag}.parquet"),
        row_group_size=max(64, _SIG_RG_BYTES // 520),
    )

    bh = band_hashes_np(mat)
    band_rg = max(64, _BAND_RG_BYTES // 24)
    for b in range(LSH_BANDS):
        o = np.argsort(bh[:, b], kind="stable")
        tb = pa.table(
            {
                "doc_id": pa.array(ids[o], pa.int64()),
                "band_hash": pa.array(bh[o, b], pa.int64()),
            }
        )
        d = os.path.join(bands_dir, f"band_id={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            tb, os.path.join(d, f"part-local-{tag}.parquet"),
            row_group_size=band_rg,
        )


def append_minhash_index_local(ids, mat, base_path: str) -> int:
    """Driver-side ``append_minhash_index_sigs`` twin for an ALREADY
    COLLECTED signature slice — ``ids`` (n,) int64 doc ids, ``mat``
    (n, 64) int64 signatures — the curation bus's driver-decide tier
    has the batch's signatures in hand, so the index append is
    four-figure rows of numpy + pyarrow, not two Spark write jobs
    (measured ~1.7 s of pure job overhead per micro-batch).  Same
    layout contract as ``_write_sig_slice`` (``_write_index_local``) —
    probe-identity vs the Spark-written index is pytest-gated.  Returns
    the number of signatures appended."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    mat = np.asarray(mat, dtype=np.int64)
    if ids.size == 0:
        return 0
    _stamp_index_format(base_path, "append")
    _write_index_local(
        ids, mat, f"{base_path}/signatures", f"{base_path}/bands"
    )
    return int(ids.size)


PROBE_LOCAL_MAX_INDEX_BYTES = 64 << 20  # driver probe tier cap


def incremental_neardup_local(ids, mat, index_base: str) -> list[tuple]:
    """Driver-side probe twin for an ALREADY COLLECTED batch signature
    slice — ``ids`` (n,) int64, ``mat`` (n, 64) int64: read the stored
    band table with pyarrow (bounded by PROBE_LOCAL_MAX_INDEX_BYTES —
    callers check), match batch band hashes with numpy searchsorted,
    fetch ONLY the colliding old signatures through driver-side
    row-group stat pruning, and estimate Jaccard exactly as the Spark
    tiers do.  Returns [(new_id, old_id, est_jaccard)] including
    self-pairs-filtered semantics (new_id != old_id).

    This is the curation bus's common case: a micro-batch probing a
    young index — the Spark probe job's fixed ~1 s is pure overhead
    against ~milliseconds of numpy.  Identity vs probe_mode='full' is
    pytest-gated; the tier hands off to the distributed probes the
    moment the band table outgrows the cap."""
    import numpy as np
    import pyarrow.parquet as pq

    ids = np.asarray(ids, dtype=np.int64)
    mat = np.asarray(mat, dtype=np.int64)
    if ids.size == 0:
        return []
    _check_index_format(index_base)
    bh = band_hashes_np(mat)  # (n, 16)

    # stored bands, concatenated per band (files are each sorted, the
    # concatenation is not — sort once per call)
    files = _list_index_files(f"{index_base}/bands", "band_id")
    per_band: dict[int, list] = {}
    for path, b in files:
        per_band.setdefault(b, []).append(path)
    pairs_idx: list[tuple[int, int]] = []  # (batch row idx, old_id)
    cand_old: set[int] = set()
    for b, paths in per_band.items():
        olds = []
        hashes = []
        for p in paths:
            with pq.ParquetFile(p) as f:
                tb = f.read(columns=["doc_id", "band_hash"], use_threads=False)
            olds.append(tb["doc_id"].to_numpy().astype(np.int64, copy=False))
            hashes.append(
                tb["band_hash"].to_numpy().astype(np.int64, copy=False)
            )
        if not olds:
            continue
        oid = np.concatenate(olds)
        ohash = np.concatenate(hashes)
        order = np.argsort(ohash, kind="stable")
        ohash, oid = ohash[order], oid[order]
        lo = np.searchsorted(ohash, bh[:, b], side="left")
        hi = np.searchsorted(ohash, bh[:, b], side="right")
        for i in np.nonzero(hi > lo)[0]:
            for j in range(lo[i], hi[i]):
                old = int(oid[j])
                if old != int(ids[i]):
                    pairs_idx.append((int(i), old))
                    cand_old.add(old)
    if not pairs_idx:
        return []

    # fetch candidate old signatures: row-group stat pruning, driver-side
    karr = np.sort(np.fromiter(cand_old, dtype=np.int64, count=len(cand_old)))
    old_sigs: dict[int, "np.ndarray"] = {}
    for path, _ in _list_index_files(f"{index_base}/signatures", None):
        f = pq.ParquetFile(path)
        md = f.metadata
        ci = md.schema.to_arrow_schema().get_field_index("doc_id")
        keep = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or st.min is None or st.max is None:
                keep.append(rg)
                continue
            p_lo = int(np.searchsorted(karr, st.min, side="left"))
            if p_lo < karr.size and int(karr[p_lo]) <= st.max:
                keep.append(rg)
        if not keep:
            continue
        tb = f.read_row_groups(keep, columns=["doc_id", "sig"])
        did = tb["doc_id"].to_numpy().astype(np.int64, copy=False)
        pos = np.searchsorted(karr, did)
        np.clip(pos, 0, karr.size - 1, out=pos)
        hit = karr[pos] == did
        sigv = tb["sig"].to_numpy(zero_copy_only=False)
        for t in np.nonzero(hit)[0]:
            old_sigs[int(did[t])] = np.asarray(sigv[t], dtype=np.int64)

    seen: set[tuple[int, int]] = set()
    out: list[tuple] = []
    for i, old in pairs_idx:
        key = (int(ids[i]), old)
        if key in seen:
            continue
        seen.add(key)
        osig = old_sigs.get(old)
        if osig is None:  # benign index-row duplication edge: no sig row
            continue
        est = float(np.mean(mat[i] == osig))
        if est >= JACCARD_THRESHOLD:
            out.append((key[0], key[1], round(est, 6)))
    return out


def incremental_neardup(
    spark: SparkSession,
    new_docs: DataFrame,
    index_base: str,
    probe_mode: str = "auto",
    _sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (new_doc_id, indexed_doc_id, est_jaccard) of NEW
    documents against a ``materialize_minhash_index`` output — the
    incremental path: signatures/bands are computed only for the new
    slice (pass ``_sigs`` to reuse an already-materialized signature
    frame), the stored corpus is touched only through the probe tier
    (header comment above ``materialize_minhash_index``), and signature
    agreement estimates Jaccard exactly as the batch operator does.

    ``probe_mode``: "auto" | "rowgroup" | "bitmap" | "full".  All four
    return identical pairs (identity-gated); they differ only in how
    much of the stored index the probe reads and shuffles.
    """
    if probe_mode not in ("auto", "rowgroup", "bitmap", "full"):
        raise ValueError(f"unknown probe_mode {probe_mode!r}")
    _check_index_format(index_base)
    if _sigs is not None:
        nsigs = _sigs
    else:
        # materialize once: the band probe, the key collection, and the
        # signature re-rank all reuse it instead of re-shingling
        nsigs = minhash_signatures(shingles_of(new_docs, distinct=False)).localCheckpoint(eager=True)
    nband = band_buckets(nsigs).withColumnRenamed("doc_id", "new_id")

    mode = probe_mode
    if mode == "auto":
        import os

        files = _list_index_files(f"{index_base}/bands", "band_id")
        idx_bytes = sum(os.stat(p).st_size for p, _ in files)
        if files and idx_bytes < PROBE_RG_MIN_INDEX_BYTES:
            # a small index is cheaper to scan whole in one codegen
            # join stage than to point-probe (the rowgroup tier pays
            # Python workers + two driver collects per probe; the
            # bitmap tier pays the mask build) — the pruning tiers are
            # for indexes the scan can no longer afford
            mode = "full"
    band_keys: dict[int, list[int]] | None = None
    if mode in ("auto", "rowgroup"):
        band_keys = _collect_key_pairs_capped(
            nband, "band_id", "band_hash", PROBE_RG_MAX_KEYS
        )
        if mode == "rowgroup" and band_keys is None:
            raise ValueError(
                f"probe_mode='rowgroup' needs <= {PROBE_RG_MAX_KEYS} distinct"
                " band hashes; use 'auto' to fall back to 'bitmap'"
            )
        mode = "rowgroup" if band_keys is not None else "bitmap"

    if mode == "rowgroup":
        # stat-pruned point probe with PER-BAND key sets (pruning
        # selectivity is keys-per-group vs groups-per-range; pooling
        # all bands' hashes 16x-dilutes it — probe_index_rowgroups
        # docstring); the exact equi-join on BOTH keys below removes
        # any coincidence the pre-filter admits
        oband = probe_index_rowgroups(
            spark,
            f"{index_base}/bands",
            "band_hash",
            band_keys,
            ["doc_id", "band_hash"],
            "doc_id long, band_hash long, band_id int",
            part_col="band_id",
        ).withColumnRenamed("doc_id", "old_id")
    else:
        # explicit schemas: a partitioned write of an EMPTY corpus
        # leaves no data files (only _SUCCESS), and schema inference
        # would fail on the very index an empty first snapshot
        # legitimately produces
        oband = spark.read.schema(
            "doc_id long, band_hash long, band_id int"
        ).parquet(f"{index_base}/bands").withColumnRenamed("doc_id", "old_id")
        if mode == "bitmap":
            oband = _bitmap_thin(
                oband, nband.select("band_hash"), "band_hash"
            )

    cand = (
        nband.join(oband, ["band_id", "band_hash"])
        # a probed doc whose OWN signatures already sit in the index
        # (crash-window redelivery, or a deliberate re-probe) must not
        # report itself as its duplicate — self-pairs are meaningless
        # and, unfiltered, they turned the curation bus's redelivery
        # path into silent data loss (every survivor self-matched at
        # est 1.0 and was re-routed to the DLQ)
        .where(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )
    nsig = sig_array(nsigs).select(
        F.col("doc_id").alias("new_id"), F.col("sig").alias("sig_new")
    )
    if mode == "rowgroup":
        # candidate old_ids are the COLLISION set — bounded by true
        # near-dups + banding false positives, so the same stat-pruned
        # point fetch covers the signature re-rank; the cap guards the
        # pathological collision storm (fall back to the full join)
        cand = cand.localCheckpoint(eager=True)
        old_ids = _collect_keys_capped(cand, "old_id", PROBE_RG_MAX_KEYS)
    else:
        old_ids = None
    if old_ids is not None:
        osig = probe_index_rowgroups(
            spark,
            f"{index_base}/signatures",
            "doc_id",
            old_ids,
            ["doc_id", "sig"],
            "doc_id long, sig array<long>",
        ).select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old"))
    else:
        osig = spark.read.schema("doc_id long, sig array<long>").parquet(
            f"{index_base}/signatures"
        ).select(
            F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old")
        )
    agree = F.aggregate(
        F.zip_with("sig_new", "sig_old", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(nsig, "new_id")
        .join(osig, "old_id")
        .withColumn("est_raw", agree / F.lit(float(MINHASH_PERMS)))
        .where(F.col("est_raw") >= JACCARD_THRESHOLD)
        .select("new_id", "old_id", F.round("est_raw", 6).alias("est_jaccard"))
    )


_INDEX_CACHE: dict[str, str] = {}


@query("qz11_incremental_neardup", oracle=None)
def qz11_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental dedup pair exercised end-to-end as a query:
    materialize the corpus MinHash index to a scratch dir, then dedup a
    deterministic 'new crawl' (the 20 longest-id docs with one appended
    word) against it.  Rows-only (qz tier — hash family not DuckDB-
    reproducible); the pytest gate asserts every mutated doc surfaces
    its source.  Scale shape: per-increment cost is O(new docs); the
    corpus is touched only through the stored band buckets.

    The scratch index is built ONCE per (process, sf_dir) and removed at
    exit — repeated invocations (bench min-of-n, recall pass) reuse it,
    which is the point of the incremental design.  The tempdir is
    driver-local and therefore LOCAL-MODE ONLY; on a cluster call
    ``materialize_minhash_index``/``incremental_neardup`` directly with
    an index base on shared storage (every executor must reach it).
    """
    import atexit
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    base = _INDEX_CACHE.get(sf_dir)
    if base is None:
        base = tempfile.mkdtemp(prefix="mh_index_")
        materialize_minhash_index(docs, base)
        _INDEX_CACHE[sf_dir] = base
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    new_docs = (
        docs.orderBy(F.desc("doc_id"))
        .limit(20)
        .select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended")).alias("text"),
        )
    )
    return incremental_neardup(spark, new_docs, base)


CLUSTER_LOCAL_MAX_EDGES = 200_000


def dedup_clusters_auto(
    spark: SparkSession,
    pairs: DataFrame,
    max_local_edges: int = CLUSTER_LOCAL_MAX_EDGES,
) -> DataFrame:
    """``dedup_clusters`` with a driver union-find fast tier — the AUTO
    posture the kNN/LPA operators use, applied to the curation bus's
    within-batch clustering: a micro-batch's near-dup pair set is tiny
    (bounded by batch size x duplication rate, usually EMPTY), yet the
    distributed min-label fixpoint pays several fixed jobs per round
    regardless.  Collect up to ``max_local_edges`` pairs (3 longs each —
    a few MB at the cap) and run path-compressed union-find with
    min-id representatives — IDENTICAL semantics to the fixpoint
    (min node id of the connected component), identity-gated in pytest —
    falling back to the distributed operator beyond the cap.  NOT for
    corpus-wide clustering: that tier's edge sets are unbounded and
    belong to ``dedup_clusters``."""
    rows = pairs.select("d1", "d2").limit(max_local_edges + 1).collect()
    if len(rows) > max_local_edges:
        return dedup_clusters(pairs.localCheckpoint())
    if not rows:
        return spark.createDataFrame([], "doc_id long, cluster_rep long")
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            parent[max(a, b)] = min(a, b)
    nodes = {v for r in rows for v in (r[0], r[1])}
    labels = [(n, find(n)) for n in nodes]
    return spark.createDataFrame(labels, "doc_id long, cluster_rep long")


def dedup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: (doc_id, cluster_rep) where
    cluster_rep is the minimum doc_id of the connected component — the
    final step of corpus dedup (emit one canonical doc per cluster,
    drop the rest), which pairwise operators alone don't give you: with
    A≈B and B≈C, A and C must land in ONE cluster even when (A,C) never
    collided.

    Algorithm: min-label propagation WITH pointer doubling.  Each round
    does two steps:

    1. propagate — label(v) := min(label(v), min over neighbors u of
       label(u));
    2. shortcut  — label(v) := min(label(v), label(label(v))) (a
       node's label is itself a node id, so one self-join hops the
       label chain one extra level).

    Propagation alone needs O(component diameter) rounds; the shortcut
    step halves the remaining label-chain depth each round, so the loop
    converges in O(log diameter) rounds — a 33M-hop path closes within
    25 rounds because of step 2, not step 1.  If the fixpoint is NOT
    reached within ``max_iter`` (changed > 0 at loop exit), this raises
    rather than returning silently-partial clusters.  Spark mechanics
    that make iteration scale:

    * edges are symmetrized once and hash-shuffle per round on the join
      key — label state is 2 longs/node, never text;
    * ``localCheckpoint`` truncates lineage each round (an iterative
      join otherwise grows the plan exponentially and re-executes the
      whole history every action);
    * convergence is detected with one count per round of
      changed-labels (an action per round is inherent to any
      fixpoint loop).

    Output covers only docs appearing in ≥1 pair; the keep-set of a
    corpus is (all docs) MINUS (clustered docs with doc_id ≠
    cluster_rep).
    """
    edges = pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    changed = 0
    for _round in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        propagated = labels.join(
            nbr_min, labels["node"] == nbr_min["a"], "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                "label"
            ),
        )
        # pointer doubling: follow label → label(label) one hop.  Every
        # label value is a node id present in `propagated` (labels start
        # as node ids and min() only ever selects other node ids), so the
        # left join misses nothing; coalesce guards the self-rooted case.
        lab2 = propagated.select(
            F.col("node").alias("ln"), F.col("label").alias("ll")
        )
        new_labels = propagated.join(
            lab2, propagated["label"] == lab2["ln"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("ll", F.col("label"))
            ).alias("label"),
        )
        # Statistics reset every 8 rounds (r13): ``localCheckpoint``
        # PRESERVES the child plan's ESTIMATED statistics, and each
        # round's two joins MULTIPLY them — the BigInt sizeInBytes
        # roughly triples its bit-length per round, and past ~15 rounds
        # it exceeds java.math.BigInteger's bit cap: Spark throws
        # "ArithmeticException: BigInteger would overflow supported
        # range" mid-fixpoint (reproduced on a 260k-pair bounded-
        # diameter graph in the r13 over-cap proof — the error, not
        # non-convergence, was the actual failure mode of long
        # fixpoints).  A parquet scratch round-trip replaces the
        # estimate with the file's REAL size, resetting the compounding
        # while keeping the cheap executor-local checkpoint for the
        # rounds in between.
        if (_round + 1) % 8 == 0:
            import atexit
            import shutil
            import tempfile

            scratch = tempfile.mkdtemp(prefix="frizzle_cc_labels_")
            atexit.register(shutil.rmtree, scratch, ignore_errors=True)
            new_labels.write.mode("overwrite").parquet(scratch)
            new_labels = pairs.sparkSession.read.parquet(scratch)
        else:
            new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — with "
            "pointer doubling this implies component diameter > "
            f"~2^{max_iter}"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep"))


# ---------------------------------------------------------------------------
# Persisted cluster index: the connected-component map materialized to
# storage, the same amortization move as materialize_minhash_index — at
# 100 TB nobody re-runs the fixpoint per consumer; the cluster map is a
# corpus-snapshot artifact that canonical-survivor selection, leakage-
# safe splitting, decontamination, and reporting all JOIN against.
# ---------------------------------------------------------------------------

CLUSTER_INDEX_SCHEMA = "doc_id long, cluster_rep long"


def _read_cluster_meta(base_path: str) -> dict:
    import json
    import os

    try:
        with open(os.path.join(base_path, "cluster_meta.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_cluster_meta(base_path: str, meta: dict) -> None:
    """Atomic meta swap (write-temp + os.replace): the meta file is the
    index's COMMIT POINT — readers follow its ``generation`` pointer,
    so a crash mid-update leaves them on the previous, intact
    generation (the manifest-PUT pattern ParquetSink compaction uses,
    streaming/pipeline.py)."""
    import json
    import os

    path = os.path.join(base_path, "cluster_meta.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def _cluster_data_dir(base_path: str) -> str:
    """Current generation's data dir: ``clusters`` for a fresh
    materialize (generation 0 / legacy index), ``clusters_gen{N}``
    after N incremental appends."""
    gen = int(_read_cluster_meta(base_path).get("generation", 0))
    return f"{base_path}/clusters" if gen == 0 else f"{base_path}/clusters_gen{gen}"


def materialize_cluster_index(pairs: DataFrame, base_path: str) -> dict:
    """Run the clustering step ONCE over a near-dup pair set and
    persist the resulting (doc_id, cluster_rep) map to
    ``<base_path>/clusters`` plus a ``cluster_meta.json`` with
    n_clustered_docs / n_clusters.  Only clustered docs appear (a small
    fraction of any deduplicated corpus); singletons are implicit —
    consumers LEFT-join and coalesce to the doc's own id, so the stored
    table stays skinny (2 longs/row) no matter the corpus size.

    Clustering runs through ``dedup_clusters_auto`` (r12): a
    deduplicated corpus's pair set is a small fraction of its rows, so
    the driver union-find tier under the edge cap answers in one job
    instead of paying the distributed fixpoint's ~6 jobs/round × O(log
    diameter) rounds — measured at sf0.1 the exact-flavor scratch build
    dropped 41.8 → ~4 s (the wall was fixed per-round job overhead, not
    data).  Over the cap the identical-semantics pointer-doubling
    fixpoint runs as before, so the 100 TB posture is unchanged."""
    clusters = dedup_clusters_auto(pairs.sparkSession, pairs)
    clusters.write.mode("overwrite").parquet(f"{base_path}/clusters")
    stats = clusters.agg(
        F.count(F.lit(1)).alias("nd"),
        F.countDistinct("cluster_rep").alias("nc"),
    ).collect()[0]
    meta = {
        "n_clustered_docs": int(stats["nd"]),
        "n_clusters": int(stats["nc"]),
        "generation": 0,
    }
    _write_cluster_meta(base_path, meta)
    return meta


def load_cluster_index(spark: SparkSession, base_path: str) -> DataFrame:
    """Read a materialized cluster map (the generation the meta commit
    points at).  Explicit schema: a corpus with no near-dup pairs
    legitimately writes an empty parquet directory (only _SUCCESS), and
    inference would fail on exactly that index."""
    return spark.read.schema(CLUSTER_INDEX_SCHEMA).parquet(
        _cluster_data_dir(base_path)
    )


def append_cluster_index(
    spark: SparkSession, new_pairs: DataFrame, base_path: str
) -> dict:
    """Incrementally merge a NEW crawl's near-dup pairs (d1, d2) into a
    materialized cluster index — O(delta + index), never a fixpoint
    over the world again (round 8, VERDICT r7 #7; completes the
    incremental posture of materialize_minhash_index and the IVF
    streaming append).

    Correctness argument: the stored map's star edges (doc → rep)
    preserve exactly the connectivity of the old pair set, so union-find
    over (star edges ∪ new_pairs) equals union-find over
    (old_pairs ∪ new_pairs).  And because every endpoint's star path is
    ONE hop, the star edges never need to be touched as edges at all —
    each new pair is PROJECTED onto current representatives (two
    broadcast-able left joins against the skinny index; unindexed docs
    are their own rep), self-pairs drop (pair already inside one
    cluster), and the pointer-doubling fixpoint runs over ONLY the
    surviving rep-pairs — the delta graph, whose nodes are touched old
    reps plus genuinely new docs.  Representative minimality is
    preserved: each old component contributes its rep (its min member,
    by dedup_clusters' invariant) to the delta graph, so the delta
    fixpoint's min is the merged component's global min — identical to
    a full rebuild (pytest identity gate over planted cluster-merging /
    extending / fresh / duplicate slices, plus idempotence).

    Write-back remaps the stored table's cluster_rep through the delta
    result (left join + coalesce — untouched components copy through)
    and unions the new-doc rows.

    Crash safety (round 9, ADVICE r8): the update lands in a FRESH
    generation dir (``clusters_gen{N+1}``) and only the atomic
    cluster_meta.json replace commits it — readers follow the meta's
    ``generation`` pointer, so a crash mid-write (ENOSPC included)
    leaves the previous generation intact and pointed-at; the old dir
    is deleted only after the commit.  Meta updates MERGE into the
    previous dict (foreign keys a prior writer stored survive).
    Concurrency contract: SINGLE WRITER per index — two concurrent
    appenders would race the generation pointer (last meta replace
    wins, the loser's merge is silently dropped); serialize appends
    per base_path, as with any snapshot-pointer table format."""
    import shutil

    old = load_cluster_index(spark, base_path)
    p = new_pairs.select("d1", "d2")
    r1 = old.select(F.col("doc_id").alias("d1"), F.col("cluster_rep").alias("rep1"))
    r2 = old.select(F.col("doc_id").alias("d2"), F.col("cluster_rep").alias("rep2"))
    rep_pairs = (
        p.join(r1, "d1", "left")
        .join(r2, "d2", "left")
        .select(
            F.coalesce("rep1", F.col("d1")).alias("d1"),
            F.coalesce("rep2", F.col("d2")).alias("d2"),
        )
        .where(F.col("d1") != F.col("d2"))
    )
    # delta graphs are bounded by the new crawl's pair count, almost
    # always far under the union-find cap — same AUTO routing as
    # materialize_cluster_index (identical semantics either way)
    delta = dedup_clusters_auto(spark, rep_pairs)
    remap = delta.select(
        F.col("doc_id").alias("old_rep"), F.col("cluster_rep").alias("new_rep")
    )
    old_remapped = (
        old.join(remap, old["cluster_rep"] == remap["old_rep"], "left")
        .select(
            "doc_id", F.coalesce("new_rep", "cluster_rep").alias("cluster_rep")
        )
    )
    new_rows = delta.join(old.select("doc_id"), "doc_id", "left_anti")
    updated = old_remapped.unionByName(new_rows)
    prev = _read_cluster_meta(base_path)
    prev_dir = _cluster_data_dir(base_path)
    gen = int(prev.get("generation", 0)) + 1
    new_dir = f"{base_path}/clusters_gen{gen}"
    # write the NEW generation while the old one still backs `old`'s
    # lineage — no overwrite-while-reading hazard, no localCheckpoint
    # materialization needed, and a crash here leaves the committed
    # generation untouched
    updated.write.mode("overwrite").parquet(new_dir)
    committed = spark.read.schema(CLUSTER_INDEX_SCHEMA).parquet(new_dir)
    stats = committed.agg(
        F.count(F.lit(1)).alias("nd"),
        F.countDistinct("cluster_rep").alias("nc"),
    ).collect()[0]
    meta = {
        **prev,
        "n_clustered_docs": int(stats["nd"]),
        "n_clusters": int(stats["nc"]),
        "n_appends": int(prev.get("n_appends", 0)) + 1,
        "generation": gen,
    }
    _write_cluster_meta(base_path, meta)  # ← the commit point
    shutil.rmtree(prev_dir, ignore_errors=True)
    return meta


_CLUSTER_CACHE: dict[tuple, str] = {}


def _cached_cluster_index(spark, sf_dir: str, flavor: str, pairs_fn) -> DataFrame:
    """Scratch cluster index built ONCE per (process, sf_dir, flavor)
    and removed at exit — the same sanctioned pattern as
    qz11_incremental_neardup's scratch MinHash index: repeated registry
    invocations (bench min-of-n, recall passes, downstream consumers)
    reuse the materialized map instead of re-running shingling + pair
    join + fixpoint, which IS the 100 TB operating mode.  The tempdir
    is driver-local and therefore LOCAL-MODE ONLY; on a cluster call
    ``materialize_cluster_index``/``load_cluster_index`` directly with
    a base on shared storage."""
    import atexit
    import shutil
    import tempfile

    key = (sf_dir, flavor)
    base = _CLUSTER_CACHE.get(key)
    if base is None:
        base = tempfile.mkdtemp(prefix=f"cluster_index_{flavor}_")
        materialize_cluster_index(pairs_fn(), base)
        _CLUSTER_CACHE[key] = base
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    return load_cluster_index(spark, base)


@query(
    "qz11_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES}
    SELECT doc_id, cluster_rep FROM clusters
    """,
)
def qz11_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the exact n-gram-Jaccard pair set: every
    doc in a near-dup component labeled with its canonical survivor.
    FULLY ORACLE-BACKED despite being iterative (round 7): connected
    components are expressible in DuckDB as a recursive reachability
    CTE over the same thresholded pair set, so the pointer-doubling
    fixpoint's output is hash-checked row-for-row — plus the original
    driver-side union-find differential in pytest (which drives
    ``dedup_clusters`` directly).  Scale: the pair set is the
    already-bucketed q11_ngram_jaccard output; per-round state is 2
    longs per clustered doc.  Served from the same per-process scratch
    index as canonical_keep (the fixpoint runs once per corpus
    snapshot — the amortized operating mode; identity with the direct
    path is what the index-identity pytest gate checks).
    """
    return _cached_cluster_index(
        spark, sf_dir, "exact", lambda: q11_ngram_jaccard(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (SSJoin/PPJoin family:
# Chaudhuri et al. ICDE 2006; Xiao et al. WWW 2008).  Same EXACT result
# as the inverted-index join, but the candidate join only touches each
# document's (1-τ)-fraction prefix of globally-rarest tokens.
# ---------------------------------------------------------------------------

# τ = 4/5 kept as an integer ratio so every threshold compare is
# integer-exact on both engines (no 0.8 float boundary anywhere).
PPJOIN_TAU_NUM = 4
PPJOIN_TAU_DEN = 5

_PPJOIN_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
        FROM documents
    ),
    idx AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
        FROM words WHERE len(ws) >= {NGRAM_N}
    ),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        FROM idx
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(c / CAST(s1.n + s2.n - c AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE c * {PPJOIN_TAU_DEN} >= (s1.n + s2.n - c) * {PPJOIN_TAU_NUM}
    """


def packed_token_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, shingle) → (doc_id, toks sorted by global rarity, n).

    The global token order is (document-frequency asc, xxhash64 asc) —
    any consistent total order satisfies the prefix lemma; rarest-first
    minimizes candidates AND bounds skew by construction (a token enters
    prefixes only while its df is among the document's lowest, so the
    candidate join never pivots on a stop-phrase).
    """
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    tok = sh.join(dfreq, "shingle").select(
        "doc_id",
        F.struct(
            F.col("df"), F.xxhash64("shingle").alias("h"), F.col("shingle")
        ).alias("t"),
    )
    return (
        tok.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("t")).alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("n"))
    )


def prefix_tokens(sh: DataFrame, tau_num: int = PPJOIN_TAU_NUM,
                  tau_den: int = PPJOIN_TAU_DEN,
                  _packed: DataFrame | None = None) -> DataFrame:
    """The PPJoin prefix: each document's ``n - ceil(τ·n) + 1``
    globally-rarest tokens, plus its set size.  Prefix length uses
    integer math only: ceil(τn) = (num·n + den - 1) div den — a float
    ``0.8·n`` could round ceil UP and silently shorten the prefix below
    the lemma's bound.
    """
    packed = _packed if _packed is not None else packed_token_sets(sh)
    ceil_tau_n = F.floor(
        (F.col("n") * F.lit(tau_num) + F.lit(tau_den - 1)) / F.lit(tau_den)
    ).cast("long")
    p = (F.col("n") - ceil_tau_n + F.lit(1)).cast("int")
    return packed.select(
        "doc_id", "n", F.explode(F.slice("toks", F.lit(1), p)).alias("t")
    ).select("doc_id", "n", F.col("t.shingle").alias("shingle"))


def ppjoin_candidates(sh: DataFrame, _packed: DataFrame | None = None) -> DataFrame:
    """Distinct (d1, d2) candidate pairs from the prefix equi-join with
    the size filter ``min(n1,n2)·den ≥ max(n1,n2)·num`` (J ≥ τ forces
    τ·max ≤ |A∩B| ≤ min).  Exposed separately so the pytest gate can
    measure candidate reduction vs the full inverted-index join."""
    pre = prefix_tokens(sh, _packed=_packed)
    a = pre.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"), "shingle")
    b = pre.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"), "shingle")
    return (
        a.join(b, "shingle")
        .where(
            (F.col("d1") < F.col("d2"))
            & (
                F.least("n1", "n2") * F.lit(PPJOIN_TAU_DEN)
                >= F.greatest("n1", "n2") * F.lit(PPJOIN_TAU_NUM)
            )
        )
        .select("d1", "d2")
        .distinct()
    )


@query("qz11_jaccard_join", oracle=_PPJOIN_ORACLE)
def qz11_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join, J(3-gram sets) ≥ 4/5, via prefix
    filtering — the third exact-dedup plan shape beside the hash groupBy
    and the full inverted-index join (q11_ngram_jaccard).

    Plan: df-rank tokens → per-doc prefix (the ``n - ceil(τn) + 1``
    rarest) → equi-join prefixes (+ size filter) → verify ONLY the
    candidates by re-joining their full token sets.  The prefix lemma
    (Xiao et al. WWW 2008, lemma 1) guarantees no qualifying pair is
    missed, so the result is bit-identical to brute force — the oracle
    is the full DuckDB inverted-index join with the same integer-exact
    ``c·5 ≥ (n1+n2-c)·4`` threshold.

    Scale: at τ=0.8 the candidate join scans ~20% of the inverted index
    and only low-df tokens, so the hot-shingle skew the full join must
    AQE-split never arises; verification work is proportional to the
    candidate count, not C(n,2).  Fully oracle-backed (qz prefix only
    because the 50 driver slots are taken).
    """
    tb = _docs_text_bytes(sf_dir)
    est = 4 * tb if tb > 0 else _docs_n(spark, sf_dir) * 4096
    return jaccard_join_pairs(_shingles(spark, sf_dir), est_bytes=est)


def jaccard_join_pairs(sh: DataFrame, est_bytes: int = 0) -> DataFrame:
    """The full PPJoin over any (doc_id, shingle) set table: candidates
    from the prefix join, exact verification of only those pairs.

    Verification joins the candidate pairs against the PACKED per-doc
    token arrays (already built for the prefix) and intersects with
    ``array_intersect`` in codegen — two skinny joins on candidate
    rows, instead of re-shuffling the exploded token table twice and
    re-aggregating (the first-cut shape; measured 2.9 s → 2.3 s at
    sf0.1 — the remaining floor is the df-ranking shuffle, which any
    global token order must pay; the packed subplan feeds both the
    prefix and the verify branch, so Catalyst reuses its exchange)."""
    # Materialize the packed per-doc token table ONCE (r12): it feeds
    # three branches (the prefix explode + both verify sides), every
    # downstream join broadcasts, and broadcast exchanges defeat
    # subplan reuse — the before-plan executed the whole
    # df-rank+collect_list pipeline 4× (16 documents scans).  Bounded:
    # the packed arrays are the doc's distinct shingles (~2× text
    # bytes), i.e. the signature-table materialization every real
    # PPJoin build performs.  r13 (VERDICT r12 #5): the registry caller
    # passes est_bytes (4× corpus text bytes from parquet footers) so
    # the 100 TB case really does go through a storage-backed table —
    # executor-local checkpoint under LOCAL_MAT_CAP_BYTES, parquet
    # scratch over it (est_bytes=0 keeps the under-cap form for direct
    # library callers).
    packed = materialize_fanout(packed_token_sets(sh), est_bytes)
    cand = ppjoin_candidates(sh, _packed=packed)
    arrs = packed.select(
        "doc_id",
        F.transform("toks", lambda t: t["shingle"]).alias("arr"),
        "n",
    )
    a1 = arrs.select(
        F.col("doc_id").alias("d1"), F.col("arr").alias("arr1"), F.col("n").alias("n1")
    )
    a2 = arrs.select(
        F.col("doc_id").alias("d2"), F.col("arr").alias("arr2"), F.col("n").alias("n2")
    )
    c = F.size(F.array_intersect("arr1", "arr2")).cast("long")
    un = F.col("n1") + F.col("n2") - F.col("c")
    return (
        cand.join(a1, "d1")
        .join(a2, "d2")
        .withColumn("c", c)
        .where(F.col("c") * PPJOIN_TAU_DEN >= un * PPJOIN_TAU_NUM)
        .select(
            "d1",
            "d2",
            F.round(F.col("c") / un.cast("double"), 6).alias("jaccard"),
        )
    )


def canonical_keep(
    spark: SparkSession, sf_dir: str, index_base: str | None = None
) -> DataFrame:
    """Quality-aware survivor selection: for every near-dup cluster
    (qz11_dup_clusters components), keep the HIGHEST-QUALITY member —
    not the lowest id — the rule real curation uses (prefer the copy
    with less boilerplate / better score; ties break on doc_id for
    determinism).  Composition: cluster labels ⋈ q14_quality_score,
    one window per cluster.  Docs outside any cluster keep themselves.

    ``index_base``: consume a ``materialize_cluster_index`` output
    instead of re-deriving pairs + fixpoint — the amortized path (the
    registry query routes through the per-process scratch index the
    same way).  Identity between the two paths is pytest-gated.

    Rows-only (clusters are the iterative tier); pytest gates: the
    survivor maximizes quality within its cluster, every doc maps to
    exactly one survivor, and singletons map to themselves.  Scale:
    adds one skinny join (labels are 2 longs/doc) + one window over
    cluster-sized groups to the dedup pipeline.
    """
    from frizzle_spark.plans.text_queries import q14_quality_score
    from pyspark.sql.window import Window

    if index_base is not None:
        labels = load_cluster_index(spark, index_base)
    else:
        labels = _cached_cluster_index(
            spark,
            sf_dir,
            "exact",
            lambda: q11_ngram_jaccard(spark, sf_dir),
        )
    quality = q14_quality_score(spark, sf_dir)  # (doc_id, quality)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    membership = (
        docs.join(labels, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("cluster_rep", F.col("doc_id")).alias("cluster"),
        )
        .join(quality, "doc_id")
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("quality"), F.asc("doc_id"))
    survivors = (
        membership.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("cluster"), F.col("doc_id").alias("keep_id"),
                F.col("quality").alias("keep_quality"))
    )
    return membership.join(survivors, "cluster").select(
        "doc_id", "cluster", "keep_id", "keep_quality"
    )


@query(
    "qz11_dup_stats",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    csizes AS (
        SELECT cluster_rep, count(*) AS cluster_size
        FROM clusters GROUP BY cluster_rep
    ),
    hist AS (
        SELECT cluster_size, count(*) AS n_clusters
        FROM csizes GROUP BY cluster_size
    ),
    singles AS (
        SELECT CAST(1 AS BIGINT) AS cluster_size, count(*) AS n_clusters
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
        WHERE c.doc_id IS NULL
    )
    SELECT cluster_size, n_clusters,
           cluster_size * n_clusters AS n_docs
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles) u
    WHERE n_clusters > 0
    """,
)
def qz11_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup report: the cluster-SIZE histogram — how many
    near-dup components of each size the corpus holds, with singletons
    (docs in no component) as the size-1 row.  The first number anyone
    asks of a dedup pass ("what fraction of the corpus is duplicated,
    and how big are the blobs?") and the standard health check for a
    threshold change.  Fully oracle-backed through the same recursive
    component CTE as qz11_dup_clusters; serves the per-process cluster
    index, so it adds two skinny aggregations over a 2-long/row map
    plus one anti-join against the doc-id list — no text moves."""
    labels = _cached_cluster_index(
        spark, sf_dir, "exact", lambda: q11_ngram_jaccard(spark, sf_dir)
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hist = (
        labels.groupBy("cluster_rep")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )
    singles = docs.join(labels, "doc_id", "left_anti").agg(
        F.lit(1).cast("long").alias("cluster_size"),
        F.count(F.lit(1)).alias("n_clusters"),
    )
    return (
        hist.unionByName(singles)
        .where(F.col("n_clusters") > 0)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


def _canonical_keep_oracle() -> str:
    """Composed oracle: cluster components (recursive CTE) ⋈ the
    q14_quality_score formula ⋈ the survivor window — lazily built so
    the text_queries import happens at registration, not at module
    parse (keeps the import graph acyclic and obvious)."""
    from frizzle_spark.plans.text_queries import _QUALITY_ORACLE

    return f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    quality AS ({_QUALITY_ORACLE}),
    membership AS (
        SELECT d.doc_id,
               coalesce(c.cluster_rep, d.doc_id) AS cluster,
               q.quality
        FROM documents d
        LEFT JOIN clusters c ON d.doc_id = c.doc_id
        JOIN quality q ON d.doc_id = q.doc_id
    ),
    survivors AS (
        SELECT cluster, doc_id AS keep_id, quality AS keep_quality,
               row_number() OVER (
                   PARTITION BY cluster
                   ORDER BY quality DESC NULLS LAST, doc_id
               ) AS rn
        FROM membership
    )
    SELECT m.doc_id, m.cluster, s.keep_id, s.keep_quality
    FROM membership m
    JOIN survivors s ON m.cluster = s.cluster AND s.rn = 1
    """


@query("qz11_canonical_keep", oracle=_canonical_keep_oracle())
def qz11_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for ``canonical_keep``: identical output, with the
    cluster map served from the per-process scratch index (built once
    per sf_dir from the exact n-gram-Jaccard pairs, reused by every
    later invocation — the amortized operating mode).  FULLY
    ORACLE-BACKED (round 7): the composed DuckDB oracle chains the
    recursive component CTE, the q14 quality formula, and the survivor
    window, so the end-to-end survivor selection is hash-checked."""
    return canonical_keep(spark, sf_dir)


# ---------------------------------------------------------------------------
# Exact repeated-substring detection (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL 2022) — the suffix-array
# primitive re-expressed for Spark: every W-word window that recurs in
# the corpus ACROSS documents is a memorization hazard even when the
# containing documents are not near-duplicates (boilerplate, licenses,
# quoted passages).  The suffix-array formulation is inherently
# sequential; the windowed-fingerprint formulation is map-only until one
# count shuffle and finds the identical ≥W-word repeats (a repeat of
# length L ≥ W is reported as its L−W+1 constituent windows).
#
# Scale shape: windows expand inside codegen (sequence → slice →
# concat_ws, no Python); the ONLY shuffle carries (16-byte md5, doc_id)
# — never window text.  Count-distinct-docs is a partial-aggregated
# groupBy.  At 100 TB the md5 key space keeps collision probability
# ≈ n²/2¹²⁸ ≈ 0 and the output is the hazard TABLE a removal pass
# anti-joins against (the same consumption pattern as the blocklist
# decontamination tier).
# ---------------------------------------------------------------------------

REPEAT_W = 8


def _repeated_ngrams_oracle() -> str:
    w = REPEAT_W
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents WHERE text IS NOT NULL
    ),
    wins AS (
        SELECT doc_id, md5(array_to_string(ws[i:i+{w - 1}], ' ')) AS fp
        FROM toks, unnest(generate_series(1, len(ws) - {w - 1})) AS t(i)
        WHERE len(ws) >= {w}
    )
    SELECT fp,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM wins GROUP BY fp
    HAVING count(DISTINCT doc_id) >= 2
    """


@query("qz11_repeated_ngrams", oracle=_repeated_ngrams_oracle())
def qz11_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact repeated {REPEAT_W}-word windows:
    (fp, n_docs, n_occurrences) for every window text appearing in ≥2
    distinct documents.  fp = md5 of the lowercased window — identical
    in both engines, so the query is fully oracle-backed while the
    shuffle never carries text."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = REPEAT_W
    wins = (
        docs.select(
            "doc_id",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws"),
        )
        .where(F.size("ws") >= w)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {w - 1}),"
                    f" i -> md5(concat_ws(' ', slice(ws, i, {w}))))"
                )
            ).alias("fp"),
        )
    )
    # two-stage distinct (groupBy (fp,doc_id) → groupBy fp) instead of
    # countDistinct: same result, no Expand node, and the second shuffle
    # carries one row per (window, doc) instead of raw occurrences —
    # measured 13.8→9.6 s cold at sf1 (warm runs within noise)
    return (
        wins.groupBy("fp", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


# -- persisted repeated-ngram hazard index ----------------------------------
# The amortized operating mode for qz11_repeated_ngrams, mirroring the
# MinHash index: window fingerprints are computed ONCE per document and
# stored as append-only (fp, doc_id, occ) facts; the hazard table (which
# windows recur across documents) is a shrinking aggregate over the
# stored facts.  Ingesting a new crawl slice appends ONLY the new
# documents' rows — old text is never re-tokenized — and cross-slice
# repeats surface automatically because the aggregate spans all slices.

REPEAT_INDEX_SCHEMA = "fp string, doc_id long, occ long"


def _window_fps(docs: DataFrame, w: int = REPEAT_W) -> DataFrame:
    """(fp, doc_id, occ): per-document occurrence counts of each W-word
    window fingerprint — the append-only fact rows the index stores."""
    wins = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws"),
        )
        .where(F.size("ws") >= w)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {w - 1}),"
                    f" i -> md5(concat_ws(' ', slice(ws, i, {w}))))"
                )
            ).alias("fp"),
        )
    )
    return wins.groupBy("fp", "doc_id").agg(F.count(F.lit(1)).alias("occ"))


def materialize_repeat_index(docs: DataFrame, base_path: str) -> None:
    """Build the hazard index for a corpus snapshot (overwrite)."""
    _window_fps(docs).select("fp", "doc_id", "occ").write.mode(
        "overwrite"
    ).parquet(f"{base_path}/window_fps")


def append_to_repeat_index(new_docs: DataFrame, base_path: str) -> None:
    """Ingest a new slice: tokenize ONLY the new documents and append
    their fact rows.  Caller contract (same as the MinHash index): a
    doc_id is ingested at most once."""
    _window_fps(new_docs).select("fp", "doc_id", "occ").write.mode(
        "append"
    ).parquet(f"{base_path}/window_fps")


def repeat_hazards(spark: SparkSession, base_path: str) -> DataFrame:
    """The hazard table over everything ingested so far: (fp, n_docs,
    n_occurrences) for windows in ≥2 distinct documents — identical
    output contract to qz11_repeated_ngrams, served from the index.
    Explicit schema: an empty corpus writes a bare _SUCCESS dir."""
    facts = spark.read.schema(REPEAT_INDEX_SCHEMA).parquet(
        f"{base_path}/window_fps"
    )
    return (
        facts.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


# -- asymmetric containment ------------------------------------------------
# Jaccard misses the quote-inclusion case: a 40-word passage pasted into
# a 4000-word page has J ≈ 0.01 but containment |A∩B|/|A| ≈ 1.  The
# DIRECTED containment score (Broder's "containment", SEQUENCES 1997) is
# the dedup signal for wrapper pages, quoted excerpts, and doc-inside-
# doc syndication.  Same inverted-index shape as q11_ngram_jaccard —
# shuffle by shingle then by ordered pair — with an INTEGER-EXACT
# threshold (5·c ≥ 4·n ⇔ c/n ≥ 0.8: shingle counts are ints, so the
# boundary can never float-flip between engines).

CONTAINMENT_THRESHOLD_NUM = 4  # c/n >= 4/5
CONTAINMENT_THRESHOLD_DEN = 5

_CONTAINMENT_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
        FROM documents
    ),
    idx AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
        FROM words WHERE len(ws) >= {NGRAM_N}
    ),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        FROM idx
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS contained, b.doc_id AS container, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT contained, container,
           round(c / CAST(s.n AS DOUBLE), 6) AS containment
    FROM inter JOIN sizes s ON contained = s.doc_id
    WHERE {CONTAINMENT_THRESHOLD_DEN} * c >= {CONTAINMENT_THRESHOLD_NUM} * s.n
"""


@query("qz11_containment", oracle=_CONTAINMENT_ORACLE)
def qz11_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment ≥ 0.8: (contained, container,
    containment) — the quote-inclusion/doc-inside-doc signal Jaccard's
    symmetric denominator suppresses.  Fully oracle-backed."""
    sets = shingle_sets(_docs_spread(spark, sf_dir))
    # n rides the contained side's exploded rows (r12): the sizes
    # aggregate + its re-join — and the extra shingling pass that
    # branch re-executed — are gone (guide §2.1; see q11_ngram_jaccard).
    a = sets.select(
        F.col("doc_id").alias("contained"),
        "n",
        F.explode_outer("toks").alias("shingle"),
    )
    b = sets.select(
        F.col("doc_id").alias("container"), F.explode_outer("toks").alias("shingle")
    )
    inter = (
        a.join(b, ["shingle"])
        .where(F.col("contained") != F.col("container"))
        .groupBy("contained", "container", "n")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inter
        .where(
            CONTAINMENT_THRESHOLD_DEN * F.col("c")
            >= CONTAINMENT_THRESHOLD_NUM * F.col("n")
        )
        .select(
            "contained",
            "container",
            F.round(F.col("c") / F.col("n").cast("double"), 6).alias("containment"),
        )
    )
