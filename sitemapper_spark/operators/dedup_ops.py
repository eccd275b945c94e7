"""Document deduplication operators for training-data pipelines.

All variants are Spark-first: tokenization, shingling, MinHash
permutations, LSH banding, and exact-Jaccard verification are pure
Catalyst column expressions (whole-stage codegen, zero Python in the
hot path); only SimHash uses an Arrow-batched pandas UDF (per-bit
voting needs numpy). Scale notes: the LSH band join shuffles on
(band_id, band_hash) — tiny keys, heavily combinable; candidate-pair
verification joins back to shingle sets only for the candidate sliver,
never all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "tokens_col",
    "shingles_col",
    "exact_dedup",
    "shingle_hashes_col",
    "minhash_signature_col",
    "minhash_signature_np_col",
    "lsh_candidate_pairs",
    "minhash_near_dup_pairs",
    "simhash_col",
    "simhash_tokens_col",
    "simhash_near_dup_pairs",
    "hamming_band_pairs",
]

# Mersenne-31 keeps a*h + b < 2^62: no int64 overflow under Spark 4's
# default ANSI arithmetic (xxhash64 is reduced mod p before multiplying)
_PRIME = (1 << 31) - 1


def _spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Widen a narrow scan before per-row-expensive work (guide §2.5
    "input skew: repartition immediately after the read").

    A single-file parquet table scans as 1-2 partitions, which strands
    the interpreted shingle/HOF projections and every Arrow UDF stage
    downstream on 1-2 of the session's cores (measured: the whole
    minhash shingle pass on 2/32 cores at sf1.0). One deterministic
    hash exchange on the id column spreads the table across the
    session's shuffle width. No-op when the scan is already at least
    half that wide (a well-partitioned production table keeps its
    layout — the exchange is only inserted when the input is provably
    under-parallel)."""
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" on AQE-managed sessions
        n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols])


def tokens_col(text: Column) -> Column:
    """Lowercased word tokens (JVM regex split, empties removed)."""
    return F.filter(
        F.split(F.lower(text), r"[^\p{L}\p{N}]+"), lambda t: t != ""
    )


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as strings — pure Catalyst:
    sequence + slice + concat_ws, no Python."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= n, grams).otherwise(
            F.array(F.concat_ws(" ", tokens))
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: one keeper (min id) per group."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").alias("n_copies"),
            F.array_sort(F.collect_set(id_col)).alias("members"),
        )
    )


def _perm_params(k: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _PRIME - 1, size=k, dtype=np.int64)
    b = rng.integers(0, _PRIME - 1, size=k, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def shingle_hashes_col(shingles: Column) -> Column:
    """Full-width xxhash64 per shingle string — the pipeline's cached
    shingle representation (round-6, guide §2.3 "narrower types"): an
    int64 array caches/scans/shuffles far cheaper than the string
    shingles it stands for, signatures derive from it bit-identically
    (``pmod(xxhash64(s), p)`` ≡ ``pmod(shingle_hash, p)`` by
    composition), and the exact-Jaccard verify can intersect these sets
    instead of the strings (equal sizes unless two distinct shingles of
    one compared pair collide in 64 bits: p < |union|²/2⁶⁴ ≈ 1e-15 per
    pair — far below the accepted 1e-8 banding-miss probability, and
    oracle-verified exactly at every driver SF)."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def _sig_from_hashes_col(hashes: Column, k: int, seed: int) -> Column:
    """Catalyst MinHash signature over pre-reduced (mod p) hashes."""

    def perm(a: int, b: int):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_PRIME))

    sig = [
        F.array_min(F.transform(hashes, perm(a, b)))
        for a, b in _perm_params(k, seed)
    ]
    return F.array(*sig)


def minhash_signature_col(shingles: Column, k: int = 64, seed: int = 42) -> Column:
    """MinHash signature: k universal-hash permutations over the
    xxhash64'd shingle set, each reduced with array_min — all JVM-side.
    The pipeline uses :func:`minhash_signature_np_col`; this k-pass
    Catalyst form is kept as its bit-identity oracle in the tests.
    """
    hashes = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_PRIME)))
    return _sig_from_hashes_col(hashes, k, seed)


def minhash_signature_np_col(shingles: Column, k: int = 64, seed: int = 42) -> Column:
    """The pipeline's MinHash signature (round-4 verdict #6 A/B): the
    Catalyst signature (:func:`minhash_signature_col`) is k separate
    transform+array_min passes over every shingle array — at k=128 that
    was the bench suite's #2 cost. Here ONE Arrow-batched pandas UDF
    computes the whole batch's signatures as a
    ``min((flat_hashes[:, None] * a + b) mod p)`` matrix reduction.

    Bit-identical to the Catalyst path by construction: same
    ``_perm_params`` (a, b), same Mersenne-31 modulus, same int64
    arithmetic (h < 2^31 and a < 2^31 keep a*h + b < 2^62 — no overflow
    on either side). The JVM still does ALL string hashing
    (xxhash64 mod p inside ``transform``); Python sees only int64
    arrays over Arrow, never a token string.

    Memory: the (flat_tokens, k) matrix is processed in doc-aligned
    blocks of ≤ 2^16 flat hashes (≈ 64 MB at k=128) so a fat Arrow
    batch cannot blow up a python worker.
    """
    hashes = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_PRIME)))
    return _sig_from_hashes_np_col(hashes, k, seed)


def _sig_from_hashes_np_col(hashes: Column, k: int, seed: int) -> Column:
    """Numpy MinHash signature over pre-reduced (mod p) hash arrays."""
    params = _perm_params(k, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hash_arrays: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(h, dtype=np.int64)
            if h is not None
            else np.empty(0, dtype=np.int64)
            for h in hash_arrays
        ]
        lens = np.array([len(x) for x in arrs], dtype=np.int64)
        out: list = [None] * len(arrs)
        nz = np.nonzero(lens > 0)[0]
        i = 0
        while i < len(nz):
            j, tot = i, 0
            while j < len(nz) and (tot == 0 or tot + lens[nz[j]] <= (1 << 16)):
                tot += lens[nz[j]]
                j += 1
            idx = nz[i:j]
            flat = np.concatenate([arrs[t] for t in idx])
            m = (flat[:, None] * a_vec[None, :] + b_vec[None, :]) % _PRIME
            starts = np.concatenate(([0], np.cumsum(lens[idx])[:-1]))
            sigs = np.minimum.reduceat(m, starts, axis=0)
            for row, t in enumerate(idx):
                out[t] = sigs[row]
            i = j
        return pd.Series(out)

    return _sig(hashes)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", sig_col: str = "sig",
    bands: int = 16, rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: equal band-slices become join keys; pairs that
    collide in ≥1 band are candidates. Returns distinct (id_a, id_b),
    id_a < id_b. The band self-join shuffles only (id, band, hash64).

    Band hash = multi-argument ``xxhash64`` over the band's signature
    values directly (round-6, guide §4.1 "prefer built-ins"): the old
    ``xxhash64(concat_ws(",", ...))`` built bands·rows string objects
    per document (3.2M small strings per pass at sf1.0) just to feed
    the hasher. Equal band slices still always hash equal — recall is
    untouched — and a (~2⁻⁶⁴) unequal-slice hash collision can only ADD
    a candidate, which the exact verify removes. The self-join carries
    a ``shuffle_hash`` hint: both sides are the same size, the build
    fits trivially, and the sort-merge default would sort 3.2M band
    rows per side for nothing (guide §3.1).

    Both the band join's exchange and the final pair-dedup exchange are
    pinned to the session's shuffle width with EXPLICIT repartitions
    (user-specified counts are exempt from AQE coalescing — the same
    guard srp_lsh_near_dup_pairs documents): the band rows and the
    candidate-pair rows are tiny, so AQE sizes those exchanges by bytes
    and coalesces them to 1-2 partitions — but the stages they feed
    (band self-join fan-out; the whole downstream verify chain, which
    runs over the dedup's output partitioning) do per-row work
    proportional to what the stage COMPUTES, not what the shuffle
    reads (guide §2.5)."""
    spark = sigs.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on AQE-managed sessions
        n_parts = spark.sparkContext.defaultParallelism
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at(F.col(sig_col), b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    ).repartition(n_parts, "band_id", "band_hash")
    left = banded.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    return (
        left.join(right.hint("shuffle_hash"), ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .repartition(n_parts, "id_a", "id_b")
        .dropDuplicates()
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.7,
    seed: int = 42,
    collapse_exact: bool = True,
    broadcast_attach: bool = True,  # broadcast-hash the per-doc shingle
    # hash sets into the verify attach joins (guide §3.1): the build
    # side is O(docs) int64 arrays (~0.5 KB/doc), fine up to ~10^6-10^7
    # docs; beyond that flip to False and the attach falls back to
    # shuffle joins on ids (the pre-r6 plan).
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline with exact-Jaccard verify.

    candidates come from LSH banding; the verification joins shingle
    sets back only for candidates and computes Jaccard with
    array_intersect/array_union (JVM) — LSH false positives are
    filtered, so the result equals all-pairs Jaccard ≥ threshold
    restricted to LSH-recalled pairs.

    The verify compares the sets of 64-bit shingle HASHES
    (``shingle_hashes_col``), not the shingle strings. It is exact
    unless two distinct shingles of one compared pair share a hash:
    p < |union|²/2⁶⁴, about 1e-15 per pair. A string-set Jaccard oracle
    can in principle disagree with it on such a collision.

    Hot-bucket guard (``collapse_exact``): B exact copies of one
    document would put B rows in every one of its LSH buckets → B²
    candidate pairs in one task. Exact duplicates are collapsed to one
    representative (min id) BEFORE banding; LSH + verify run on
    representatives only; the group structure is expanded back at the
    end — members of one exact-dup group pair at jaccard 1.0, and a
    verified rep pair (ra, rb, j) expands to every cross pair at the
    same j (identical text ⇒ identical shingle set ⇒ identical
    jaccard). Candidate work is linear in group size; only the true
    output is quadratic.
    """
    docs = _spread(docs, id_col)
    if not collapse_exact:
        reps = docs
    else:
        groups = (
            docs.groupBy(F.md5(F.col(text_col)).alias("_fp"))
            .agg(
                F.min(id_col).alias("_rep"),
                F.collect_set(id_col).alias("_members"),
            )
            .persist()
        )
        reps = docs.join(
            groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
        )

    # Cache the 64-bit HASHES of the shingles, not the strings
    # (round-6, guide §2.3/§4.1): the expensive interpreted
    # shingle-string construction runs exactly once into an int64-array
    # cache that is ~3x narrower to store/scan; the signature derives
    # from it BIT-IDENTICALLY (pmod composition, see
    # shingle_hashes_col) so banding/recall are unchanged, and the
    # exact-Jaccard verify intersects hash sets instead of string sets
    # (equal result barring a ~1e-15/pair 64-bit collision —
    # oracle-verified exact at every driver SF).
    sh = reps.select(
        F.col(id_col),
        shingle_hashes_col(
            shingles_col(tokens_col(F.col(text_col)), shingle_n)
        ).alias("shh"),
    ).persist()
    modp = F.transform("shh", lambda h: F.pmod(h, F.lit(_PRIME)))
    # sigs persisted too: banding consumes them twice (self-join sides)
    # and best-of-N warm passes re-enter here — one 8·k-bytes/doc cache
    # removes the whole hash+matmul recompute from the warm path. The
    # signature is one Arrow matrix UDF: 4.63 s vs 15.55 s best-warm for
    # this pipeline against the k-pass Catalyst form at sf0.1/k=128,
    # identical pair sets (bench_minhash_ab.json); the win grows with k
    # and corpus size, and at hundreds of docs the two are a wash.
    sigs = sh.select(
        id_col, _sig_from_hashes_np_col(modp, k, seed).alias("sig")
    ).persist()
    cand = lsh_candidate_pairs(sigs, id_col, "sig", bands, rows_per_band)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shh").alias("sh_b"))
    if broadcast_attach:
        a, b = F.broadcast(a), F.broadcast(b)
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    if not collapse_exact:
        return verified

    members = groups.select(
        F.col("_rep"), F.explode("_members").alias("_id")
    )
    # pairs inside one exact-dup group: jaccard exactly 1.0
    x, y = members.alias("x"), members.alias("y")
    within = (
        x.join(y, F.col("x._rep") == F.col("y._rep"))
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # cross-group expansion of verified representative pairs
    ga = members.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_xa"))
    gb = members.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_xb"))
    cross = (
        verified.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def simhash_col(text: Column, seed: int = 42) -> Column:
    """64-bit SimHash over word tokens (tokenizes internally)."""
    return simhash_tokens_col(tokens_col(text), seed)


def simhash_tokens_col(tokens: Column, seed: int = 42) -> Column:
    """64-bit SimHash over a pre-tokenized word array — callers that
    already cache tokens (e.g. the simhash bench query, which needs
    the same tokens again for its bag-equality verify) skip a second
    tokenization pass.

    Per-token hashes are computed JVM-side — ``transform(tokens,
    xxhash64(seed, t))``, same pattern as the MinHash path — so Python
    never sees a token string; the pandas UDF only does the 64-bit
    bit-voting over int64 arrays, fully vectorized (flatten +
    ``add.reduceat``, zero per-token interpreter work).
    """

    @F.pandas_udf(T.LongType())
    def _vote(hash_arrays: pd.Series) -> pd.Series:
        n = len(hash_arrays)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        arrs = [
            np.asarray(a, dtype=np.int64)
            if a is not None
            else np.empty(0, dtype=np.int64)
            for a in hash_arrays
        ]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        nz = np.nonzero(lens > 0)[0]
        if len(nz) == 0:
            return pd.Series(out)
        flat = np.concatenate([arrs[i] for i in nz]).astype(np.uint64)
        bits = (flat[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        contrib = 2 * bits.astype(np.int32) - 1  # (total_tokens, 64) ±1
        starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
        votes = np.add.reduceat(contrib, starts, axis=0)  # (n_docs, 64)
        packed = (
            (votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
        ).sum(axis=1, dtype=np.uint64)  # disjoint bits: sum == OR
        out[nz] = packed.view(np.int64)
        return pd.Series(out)

    hashes = F.transform(tokens, lambda t: F.xxhash64(F.lit(seed), t))
    return _vote(hashes)


def hamming_band_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs of a 64-bit hash column via pigeonhole chunk
    banding + popcount verify — the shared scale core of SimHash text
    dedup and phash image dedup.

    The hash is split into ``max_hamming + 1`` chunks (≤16): by
    pigeonhole, any pair within the hamming budget shares at least one
    identical chunk, so banding has PERFECT recall up to ``max_hamming``
    ≤ 15; the popcount verify (JVM bit ops) removes band false
    positives — output == brute-force pairs, but the self-join shuffles
    only (id, chunk_id, chunk) keys, never all-pairs. All pure Catalyst.
    """
    n_chunks = min(16, max_hamming + 1)
    width = 64 // n_chunks

    def _chunk(col, c: int):
        w = width if c < n_chunks - 1 else 64 - width * (n_chunks - 1)
        shifted = F.shiftrightunsigned(col, width * c)
        if w >= 64:  # single-chunk case (max_hamming=0): whole hash
            return shifted
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    chunks = hashed.select(
        F.col(id_col), F.col(hash_col).alias("_hh"),
        F.posexplode(
            F.array(*[_chunk(F.col(hash_col), c) for c in range(n_chunks)])
        ).alias("chunk_id", "chunk"),
    )
    left = chunks.select(
        F.col(id_col).alias("id_a"), F.col("_hh").alias("h_a"),
        "chunk_id", "chunk",
    )
    right = chunks.select(
        F.col(id_col).alias("id_b"), F.col("_hh").alias("h_b"),
        "chunk_id", "chunk",
    )
    # minimal-band emission instead of a global distinct (round-6, guide
    # §2.4): a pair sharing k chunks appears k times in the join output;
    # keeping only the row whose chunk_id is the SMALLEST shared chunk
    # (all earlier chunks must differ — recomputed from the carried
    # 8-byte hashes with shift/mask bit ops) emits every colliding pair
    # exactly once. That is set-identical to the old
    # ``.distinct()`` while dropping its full exchange + sort of the
    # candidate sliver. n_chunks == 1 degenerates to no condition (a
    # single band cannot duplicate a pair).
    no_earlier = F.lit(True)
    for c in range(n_chunks - 1):
        no_earlier = no_earlier & (
            (F.col("chunk_id") <= F.lit(c))
            | (_chunk(F.col("h_a"), c) != _chunk(F.col("h_b"), c))
        )
    cand = (
        left.join(right, ["chunk_id", "chunk"])
        .filter((F.col("id_a") < F.col("id_b")) & no_earlier)
        .select("id_a", "id_b", "h_a", "h_b")
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """SimHash near-dup via chunk banding + exact verify (see
    :func:`hamming_band_pairs` for the recall/precision argument)."""
    hashed = _spread(docs, id_col).select(
        F.col(id_col), simhash_col(F.col(text_col), seed).alias("sh")
    ).persist()
    return hamming_band_pairs(hashed, id_col, "sh", max_hamming)
