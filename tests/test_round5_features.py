"""Round-5 features: constructive hamming>0 image-dedup contract and
the numpy MinHash signature implementation."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from sitemapper_spark.functions.images import (
    decode_image,
    dhash64,
    lossy_encode,
    splitmix64,
)
from sitemapper_spark.operators.dedup_ops import (
    minhash_near_dup_pairs,
    minhash_signature_col,
    minhash_signature_np_col,
    shingles_col,
    tokens_col,
)
from sitemapper_spark.operators.image_dedup import (
    decode_signatures,
    designed_hash_pixels,
    flip_last_col_bits,
    phash_near_dup_pairs,
)


def _hash_of(bits: np.ndarray) -> int:
    v = 0
    for bit in bits.flatten():
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


class TestDesignedHashPixels:
    def test_dhash_equals_pattern_exactly(self):
        rng = np.random.Generator(np.random.PCG64(3))
        for _ in range(50):
            bits = rng.integers(0, 2, size=(8, 8)).astype(np.int64)
            assert dhash64(designed_hash_pixels(bits)) == _hash_of(bits)

    def test_qjpg_roundtrip_preserves_hash(self):
        # all block values are multiples of 4 → quantizer is a uniform
        # +2 shift → every comparison survives the lossy path
        rng = np.random.Generator(np.random.PCG64(4))
        for _ in range(20):
            bits = rng.integers(0, 2, size=(8, 8)).astype(np.int64)
            px = designed_hash_pixels(bits)
            rt = decode_image(lossy_encode(px), "qjpg")
            assert dhash64(rt) == _hash_of(bits)

    def test_flip_last_col_is_hamming_exact(self):
        rng = np.random.Generator(np.random.PCG64(5))
        for _ in range(50):
            bits = rng.integers(0, 2, size=(8, 8)).astype(np.int64)
            h0 = dhash64(designed_hash_pixels(bits))
            h1 = dhash64(designed_hash_pixels(flip_last_col_bits(bits, [0])))
            h2 = dhash64(
                designed_hash_pixels(flip_last_col_bits(bits, [2, 5]))
            )
            pop = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
            assert pop(h0, h1) == 1
            assert pop(h0, h2) == 2
            assert pop(h1, h2) == 3  # disjoint rows → outside max_hamming=2

    def test_banding_pipeline_recalls_planted_distances(self, spark):
        import pandas as pd

        rows = []
        for d in range(40):
            rng = np.random.Generator(np.random.PCG64(splitmix64(d)))
            bits = rng.integers(0, 2, size=(8, 8)).astype(np.int64)
            for ident, pattern in (
                (d, bits),
                (d + 100000, flip_last_col_bits(bits, [0])),
                (d + 200000, flip_last_col_bits(bits, [2, 5])),
            ):
                rows.append(
                    (str(ident), lossy_encode(designed_hash_pixels(pattern)), "qjpg")
                )
        images = spark.createDataFrame(
            pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])
        )
        sigs = decode_signatures(images)
        pairs = (
            phash_near_dup_pairs(sigs, "image_id", "phash_rec", max_hamming=2)
            .select(
                F.least(
                    F.col("id_a").cast("long"), F.col("id_b").cast("long")
                ).alias("a"),
                F.greatest(
                    F.col("id_a").cast("long"), F.col("id_b").cast("long")
                ).alias("b"),
                "hamming",
            )
            .collect()
        )
        got = {(r["a"], r["b"]): r["hamming"] for r in pairs}
        want = {}
        for d in range(40):
            want[(d, d + 100000)] = 1
            want[(d, d + 200000)] = 2
        assert got == want


class TestMinhashNumpySignature:
    def test_signatures_bit_identical_to_catalyst(self, spark):
        docs = spark.createDataFrame(
            [
                (0, "the quick brown fox jumps over the lazy dog"),
                (1, "the quick brown fox jumps over the lazy cat"),
                (2, "completely different text with other words entirely"),
                (3, ""),
                (4, "one two"),  # shorter than shingle width
            ],
            "doc_id long, text string",
        )
        sh = docs.select(
            "doc_id",
            shingles_col(tokens_col(F.col("text")), 3).alias("shingles"),
        )
        a = sh.select(
            "doc_id", minhash_signature_col(F.col("shingles"), 32, 7).alias("s")
        ).collect()
        b = sh.select(
            "doc_id",
            minhash_signature_np_col(F.col("shingles"), 32, 7).alias("s"),
        ).collect()
        ra = {r["doc_id"]: r["s"] for r in a}
        rb = {r["doc_id"]: r["s"] for r in b}
        assert ra == rb

    def test_pipeline_output_identical(self, spark):
        texts = []
        for i in range(30):
            base = f"document number {i} with some shared filler words " * 3
            texts.append((i, base))
            if i % 3 == 0:  # plant near-dups
                texts.append((i + 1000, base + " tiny suffix change"))
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        kw = dict(threshold=0.5, k=32, bands=16, rows_per_band=2, seed=7)
        pairs = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_near_dup_pairs(docs, **kw).collect()
        }
        assert len(pairs) >= 10  # the planted near-dups were found


class TestOverlapFatWrites:
    """On fat rounds the edges+lineage writes are concurrent actions
    and the candidate chain derives from the cached `cleaned` slice via
    the identical row-local explode. The crash window this opens is the
    SAME one round-tail pipelining guards against ("manifest present =
    round complete"): losing the last manifest plus a background-written
    artifact resumes to the reference state. DIRECT_ABSORB_MAX is pinned
    tiny so every round takes the fat path."""

    def _run(self, spark, corpus, ckpt):
        from sitemapper_spark import corpus as cm
        from sitemapper_spark.engine import CrawlConfig, CrawlEngine

        cfg = CrawlConfig(
            max_depth=5, use_bloom=False, num_partitions=4,
            checkpoint_dir=ckpt,
        )
        seeds = [(cm.testsite_root(), "s0", 3, 0.0)]
        return CrawlEngine(spark, corpus, cfg).run(seeds)

    @staticmethod
    def _state(res):
        vis = {(r["url"], r["depth"], r["round"])
               for r in res.visited.collect()}
        edg = {(r["src"], r["dst"]) for r in res.edges.collect()}
        return vis, edg, res.adjacency_dict("s0")

    def test_crash_losing_bg_edges_resumes_identical(
        self, spark, tmp_path, monkeypatch
    ):
        import os
        import shutil

        from sitemapper_spark import corpus as cm
        from sitemapper_spark.engine import CrawlEngine

        monkeypatch.setattr(CrawlEngine, "DIRECT_ABSORB_MAX", 2)
        corpus = cm.testsite_corpus(spark)
        ref = self._run(spark, corpus, str(tmp_path / "ck_fat_ref"))

        ckpt = str(tmp_path / "ck_fat_crash")
        res = self._run(spark, corpus, ckpt)
        rounds = sorted(
            int(d.split("=")[1]) for d in os.listdir(ckpt)
            if d.startswith("round=")
        )
        last = rounds[-1]
        assert res.rounds == last + 1
        os.remove(os.path.join(ckpt, f"round={last:05d}", "MANIFEST.json"))
        shutil.rmtree(os.path.join(ckpt, f"round={last:05d}", "edges"),
                      ignore_errors=True)
        # resume explicitly (same pattern as TestRoundTailPipelining)
        from sitemapper_spark.engine import CrawlConfig, CrawlEngine as CE

        cfg = CrawlConfig(max_depth=5, use_bloom=False, num_partitions=4,
                          checkpoint_dir=ckpt)
        resumed = CE(spark, corpus, cfg).run(
            [(cm.testsite_root(), "s0", 3, 0.0)], resume=True)
        assert self._state(resumed) == self._state(ref)
        assert os.path.exists(
            os.path.join(ckpt, f"round={last:05d}", "MANIFEST.json"))
