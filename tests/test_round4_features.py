"""Round-4 robustness features (round-3 ADVICE): sharded-cuckoo
over-capacity degrade, seen-shards geometry manifest, crash-safe
artifact swaps, and the image-broadcast hard bound."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sitemapper_spark import corpus as cm
from sitemapper_spark.engine import CrawlConfig, CrawlEngine

ROOT = cm.testsite_root()

SEEDS = [(ROOT, "s0", 3, 0.0)]


class TestShardedCuckooDegrade:
    def test_overflow_degrades_not_aborts(self, spark, tmp_path, capsys):
        """A CuckooFull raised executor-side in the sharded build/merge
        must degrade (rebuild bigger or advisory-off), never abort the
        crawl — same contract as the driver-mode paths (round-3 ADVICE
        item 1). Output must equal a filterless run."""
        corpus = cm.synth_corpus(
            spark, n_pages=600, n_hosts=4, links_per_page=5,
            with_images=False, num_partitions=4,
        )
        # seed half the corpus (the mega-bench shape) so round 0 alone
        # dequeues ~300 URLs — far past the forced-tiny filter capacity
        seeds = corpus.filter(F.xxhash64("url") % 2 == 0).select(
            "url",
            F.concat(F.lit("s-"), F.col("host")).alias("sitemap_id"),
            F.lit(2).alias("max_depth"),
            F.lit(0.0).alias("priority"),
        )
        # bloom_expected_urls=1 → sized_for floor: 16 buckets x 4 slots
        # per shard = 128 total slots across 2 shards; the crawl visits
        # ~300+ URLs → guaranteed overflow during absorb.
        cfg = CrawlConfig(
            max_depth=2, use_bloom=True, seen_filter="cuckoo",
            bloom_shards=2, bloom_min_visited=0, bloom_expected_urls=1,
            num_partitions=4, checkpoint_dir=str(tmp_path / "ck_ovf"),
        )
        engine = CrawlEngine(spark, corpus, cfg)
        res = engine.run(seeds)  # must not raise
        out = capsys.readouterr().out
        assert "sharded cuckoo filter over capacity" in out

        ref_cfg = CrawlConfig(
            max_depth=2, use_bloom=False, num_partitions=4,
            checkpoint_dir=str(tmp_path / "ck_ref"),
        )
        ref = CrawlEngine(spark, corpus, ref_cfg).run(seeds)
        got = {(r["sitemap_id"], r["url"], r["depth"])
               for r in res.visited.collect()}
        want = {(r["sitemap_id"], r["url"], r["depth"])
                for r in ref.visited.collect()}
        assert got == want  # advisory layer: identical output either way


class TestShardGeometryManifest:
    def _run_sharded(self, spark, ckpt, **over):
        corpus = cm.testsite_corpus(spark)
        cfg = CrawlConfig(
            max_depth=3, use_bloom=True, bloom_min_visited=0,
            bloom_expected_urls=10_000, bloom_shards=4,
            num_partitions=4, checkpoint_dir=ckpt, **over,
        )
        engine = CrawlEngine(spark, corpus, cfg)
        engine.run(SEEDS)
        return engine

    def test_manifest_written_and_adopted(self, spark, tmp_path):
        """Resuming with a CHANGED bloom_expected_urls must adopt the
        persisted geometry (manifest is authoritative), not probe the
        old bitsets with new-sized math — mismatched geometry produces
        false NEGATIVES, which bypass the exact anti-join (round-3
        ADVICE item 2)."""
        ckpt = str(tmp_path / "ck_geo")
        e1 = self._run_sharded(spark, ckpt)
        meta = json.load(open(os.path.join(ckpt, "bloom_shards",
                                           "FILTER_META.json")))
        assert meta["seen_filter"] == "bloom" and meta["n_shards"] == 4
        assert meta["m_bits"] == e1._shard_m_bits

        # a new engine with 100x the expected urls — config-derived
        # m_bits differs, but load must adopt the persisted geometry
        corpus = cm.testsite_corpus(spark)
        cfg2 = CrawlConfig(
            max_depth=3, use_bloom=True, bloom_min_visited=0,
            bloom_expected_urls=1_000_000, bloom_shards=4,
            num_partitions=4, checkpoint_dir=ckpt,
        )
        e2 = CrawlEngine(spark, corpus, cfg2)
        e2._dir = ckpt
        e2._bloom_version = 0
        from sitemapper_spark.operators.bloom import BloomFilter
        proto = BloomFilter.sized_for(1_000_000 // 4)
        e2._shard_m_bits, e2._shard_k = proto.m_bits, proto.k
        assert e2._shard_m_bits != e1._shard_m_bits  # config would differ
        assert e2._load_seen_shards() is True
        assert e2._shard_m_bits == e1._shard_m_bits  # manifest adopted
        assert e2._shard_k == e1._shard_k

    def test_mismatched_filter_type_rejected(self, spark, tmp_path):
        """Changed seen_filter or shard count ⇒ the persisted shards
        are unusable (wrong shard routing) — load must refuse and force
        the rebuild-from-visited path."""
        ckpt = str(tmp_path / "ck_geo2")
        self._run_sharded(spark, ckpt)
        corpus = cm.testsite_corpus(spark)
        for over in ({"seen_filter": "cuckoo"}, {"bloom_shards": 8}):
            kw = dict(
                max_depth=3, use_bloom=True, bloom_min_visited=0,
                bloom_expected_urls=10_000, bloom_shards=4,
                num_partitions=4, checkpoint_dir=ckpt,
            )
            kw.update(over)
            cfg = CrawlConfig(**kw)
            e = CrawlEngine(spark, corpus, cfg)
            e._dir = ckpt
            e._bloom_version = 0
            from sitemapper_spark.operators.cuckoo import CuckooFilter
            e._shard_cuckoo_buckets = CuckooFilter.sized_for(2500).n_buckets
            assert e._load_seen_shards() is False

    def test_missing_manifest_rejected(self, spark, tmp_path):
        """A pre-manifest checkpoint (no FILTER_META.json) must NOT be
        adopted blind — rebuild-from-visited is correct, guessing
        geometry is not."""
        ckpt = str(tmp_path / "ck_geo3")
        e1 = self._run_sharded(spark, ckpt)
        os.remove(os.path.join(ckpt, "bloom_shards", "FILTER_META.json"))
        e1._bloom_version = 0
        assert e1._load_seen_shards() is False


class TestCrashSafeSwaps:
    def _crawl(self, spark, ckpt):
        corpus = cm.testsite_corpus(spark)
        cfg = CrawlConfig(
            max_depth=3, use_bloom=False, num_partitions=4,
            checkpoint_dir=ckpt,
        )
        engine = CrawlEngine(spark, corpus, cfg)
        return engine, engine.run(SEEDS)

    def test_swap_leaves_artifact_at_every_instant(self, spark, tmp_path):
        """expire()'s rewrites go through the aside-swap: simulate the
        two crash windows by hand and check _recover_swaps repairs both
        (round-3 ADVICE item 3 — the old rmtree-then-rename order had a
        window where NEITHER artifact existed)."""
        ckpt = str(tmp_path / "ck_swap")
        engine, res = self._crawl(spark, ckpt)
        vdir = os.path.join(ckpt, "round=00000", "visited")
        rows_before = spark.read.parquet(vdir).count()

        # crash window A: old renamed aside, new never landed
        os.rename(vdir, vdir + ".old")
        engine._recover_swaps()
        assert os.path.isdir(vdir) and not os.path.isdir(vdir + ".old")
        assert spark.read.parquet(vdir).count() == rows_before

        # crash window B: swap completed but cleanup didn't; plus a
        # stale .tmp from an uncommitted rewrite
        shutil.copytree(vdir, vdir + ".old")
        os.makedirs(vdir + ".tmp")
        engine._recover_swaps()
        assert os.path.isdir(vdir)
        assert not os.path.isdir(vdir + ".old")
        assert not os.path.isdir(vdir + ".tmp")
        assert spark.read.parquet(vdir).count() == rows_before

    def test_resume_runs_recovery(self, spark, tmp_path):
        """run(resume=True) on a checkpoint crashed mid-swap must heal
        it and finish the crawl normally."""
        ckpt = str(tmp_path / "ck_swap2")
        engine, res1 = self._crawl(spark, ckpt)
        adj1 = res1.adjacency_dict("s0")
        vdir = os.path.join(ckpt, "round=00001", "visited")
        os.rename(vdir, vdir + ".old")  # crash window A

        corpus = cm.testsite_corpus(spark)
        cfg = CrawlConfig(
            max_depth=3, use_bloom=False, num_partitions=4,
            checkpoint_dir=ckpt,
        )
        res2 = CrawlEngine(spark, corpus, cfg).run(SEEDS, resume=True)
        assert res2.adjacency_dict("s0") == adj1

    @pytest.mark.xfail(
        strict=True,
        raises=AssertionError,
        reason="known data loss: expire's per-round rewrites and its "
        "frontier swap are not one commit, and _recover_swaps drops the "
        "staged frontier, so a crash after round 1's visited rewrite "
        "loses the expired URL for good (ROADMAP direction 6: expire as "
        "tombstones under one atomic commit)",
    )
    def test_expire_crash_mid_rewrite_loses_no_url(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash inside expire, retried on a fresh engine and resumed,
        must end with the same visited set as the uninterrupted expire →
        resume path."""
        expired = [("s0", f"{ROOT}/tomato.html"),  # visited in round 1
                   ("s0", f"{ROOT}/aubergine/lemon.html")]  # round 2

        def visited_keys(res):
            return {(r["sitemap_id"], r["url"]) for r in res.visited.collect()}

        ref_engine, _ = self._crawl(spark, str(tmp_path / "ck_ref"))
        assert ref_engine.expire(expired) == 2
        ref = visited_keys(ref_engine.run(SEEDS, resume=True))

        ckpt = str(tmp_path / "ck_crash")
        engine, _ = self._crawl(spark, ckpt)
        rewrite = CrawlEngine._rewrite_minus

        def crash_after_round1_visited(self, round_no, name, *args):
            rewrite(self, round_no, name, *args)
            if (round_no, name) == (1, "visited"):
                raise RuntimeError("simulated crash inside expire")

        monkeypatch.setattr(
            CrawlEngine, "_rewrite_minus", crash_after_round1_visited
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            engine.expire(expired)
        monkeypatch.undo()

        cfg = CrawlConfig(
            max_depth=3, use_bloom=False, num_partitions=4,
            checkpoint_dir=ckpt,
        )
        retry = CrawlEngine(spark, cm.testsite_corpus(spark), cfg)
        n_retry = retry.expire(expired)
        got = visited_keys(retry.run(SEEDS, resume=True))
        assert n_retry == 2
        assert got == ref


class TestRecrawlPolicy:
    def test_age_policy_recrawls_cohort_only(self, spark, tmp_path):
        """Round-3 verdict item 6: policy layer over expire(). An
        age-based policy selects the stale cohort from the engine's own
        visited table; recrawl() expires + re-fetches it with updated
        rounds while every other row stays byte-identical."""
        corpus = cm.testsite_corpus(spark)
        cfg = CrawlConfig(
            max_depth=3, seen_filter="cuckoo", bloom_min_visited=0,
            num_partitions=4, checkpoint_dir=str(tmp_path / "ck_pol"),
        )
        engine = CrawlEngine(spark, corpus, cfg)
        res1 = engine.run(SEEDS)
        adj1 = res1.adjacency_dict("s0")
        before = {r["url"]: r["round"] for r in res1.visited.collect()}
        last = max(before.values())

        # cohort = rounds at least `last` behind the newest ⇒ round 0
        cohort = {
            r["url"]
            for r in engine.select_stale(max_age_rounds=last).collect()
        }
        assert cohort == {u for u, rnd in before.items() if rnd == 0}
        assert cohort  # policy actually selected something

        n = engine.recrawl(max_age_rounds=last, seeds=SEEDS)
        assert n == len(cohort)
        after = {r["url"]: r["round"] for r in engine.run(
            SEEDS, resume=True).visited.collect()}
        assert set(after) == set(before)
        for u, rnd in before.items():
            if u in cohort:
                assert after[u] > rnd  # re-fetched, updated round
            else:
                assert after[u] == rnd  # untouched
        # corpus unchanged ⇒ adjacency identical after the recrawl
        res2 = CrawlEngine(spark, corpus, cfg).run(SEEDS, resume=True)
        assert res2.adjacency_dict("s0") == adj1

    def test_host_policy_selects_whole_host(self, spark, tmp_path):
        """Robots-change shape: hosts= selects every visited URL of the
        given hosts, composable with predicates."""
        corpus = cm.testsite_corpus(spark)
        cfg = CrawlConfig(
            max_depth=2, use_bloom=False, num_partitions=4,
            checkpoint_dir=str(tmp_path / "ck_pol2"),
        )
        engine = CrawlEngine(spark, corpus, cfg)
        res = engine.run(SEEDS)
        host = res.visited.select("host").first()["host"]
        sel = engine.select_stale(hosts=[host])
        assert sel.count() == res.visited.filter(
            F.col("host") == host).count()
        none = engine.select_stale(hosts=["nothere.example"])
        assert none.count() == 0


class TestImageNearDupNonzeroHamming:
    def test_banding_equals_brute_force_at_hamming_le_2(self, spark):
        """Round-3 verdict item 7: the round-3 oracle only exercised
        hamming == 0 twins (brightness shift keeps dhash bit-identical).
        qjpg RE-ENCODED twins perturb block means, so their recomputed
        dhash lands at hamming 1-2 — the banding path must still find
        EXACTLY the brute-force popcount pairs (pigeonhole recall is
        perfect ≤ max_hamming; popcount precision is exact).
        Quantization is deterministic, so the contract is exact."""
        import numpy as np

        from sitemapper_spark.functions.images import (
            decode_image,
            dhash64,
            encode_image,
            synth_pixels,
        )
        from sitemapper_spark.operators.image_dedup import (
            decode_signatures,
            phash_near_dup_pairs,
        )

        rows = []
        nonzero_expected = 0
        for i in range(40):
            iid = f"img{i:03d}"
            px = synth_pixels(iid, 48, 32)
            rows.append((iid, bytearray(encode_image(px, "png")), "png"))
            tid = f"img{i:03d}-q"
            qbytes = encode_image(px, "qjpg")
            rows.append((tid, bytearray(qbytes), "qjpg"))
            d = bin(
                (dhash64(px) & (2**64 - 1))
                ^ (dhash64(decode_image(bytes(qbytes), "qjpg")) & (2**64 - 1))
            ).count("1")
            if 1 <= d <= 2:
                nonzero_expected += 1
        # the contract needs the hamming>0 path actually exercised
        assert nonzero_expected >= 3, (
            f"synthetic set produced only {nonzero_expected} twins at "
            "hamming 1-2 — widen the candidate set"
        )

        images = spark.createDataFrame(
            rows, "image_id string, bytes binary, fmt string"
        )
        sigs = decode_signatures(images).persist()
        assert sigs.filter("err is not null").count() == 0

        banded = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in phash_near_dup_pairs(
                sigs, phash_col="phash_rec", max_hamming=2
            ).collect()
        }
        # brute force: exact all-pairs popcount over the same signatures
        sig_rows = {r["image_id"]: r["phash_rec"] for r in sigs.collect()}
        brute = set()
        ids = sorted(sig_rows)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                d = bin(
                    (sig_rows[a] & (2**64 - 1)) ^ (sig_rows[b] & (2**64 - 1))
                ).count("1")
                if d <= 2:
                    brute.add((min(a, b), max(a, b), d))
        assert banded == brute
        assert any(h > 0 for _, _, h in banded)  # nonzero path exercised
        sigs.unpersist()


class TestImageBroadcastBound:
    def test_over_cap_raises_with_guidance(self, spark, tmp_path):
        """image_keys_broadcast_max must BOUND (raise with the fix in
        the message), not silently unbounded-broadcast (round-3 ADVICE
        item 4) and never shuffle `bytes`."""
        corpus = cm.testsite_corpus(spark)
        cfg = CrawlConfig(
            max_depth=2, use_bloom=False, decode_verify_images=True,
            image_keys_broadcast_max=1, num_partitions=4,
            checkpoint_dir=str(tmp_path / "ck_cap"),
        )
        with pytest.raises(RuntimeError, match="image_keys_broadcast_max"):
            CrawlEngine(spark, corpus, cfg).run(SEEDS)

    def test_none_is_unbounded(self, spark, tmp_path):
        corpus = cm.testsite_corpus(spark)
        cfg = CrawlConfig(
            max_depth=2, use_bloom=False, decode_verify_images=True,
            image_keys_broadcast_max=None, num_partitions=4,
            checkpoint_dir=str(tmp_path / "ck_cap2"),
        )
        res = CrawlEngine(spark, corpus, cfg).run(SEEDS)
        assert res.visited.count() > 1


class TestRoundTailPipelining:
    """Round-tail pipelining: a small round's background writes settle
    — and its manifest is written — at the end of the NEXT round,
    overlapping the write tail with compute. The invariant under test:
    "manifest present = round complete" survives the deferral, so a
    crash that loses the last manifest (and even one of that round's
    deferred artifacts) resumes to the identical final state."""

    def _run(self, spark, corpus, ckpt):
        cfg = CrawlConfig(
            max_depth=5, use_bloom=False, num_partitions=4,
            checkpoint_dir=ckpt,
        )
        return CrawlEngine(spark, corpus, cfg).run(SEEDS)

    @staticmethod
    def _state(res):
        vis = {(r["url"], r["depth"], r["round"])
               for r in res.visited.collect()}
        edg = {(r["src"], r["dst"]) for r in res.edges.collect()}
        return vis, edg, res.adjacency_dict("s0")

    def test_crash_losing_deferred_tail_resumes_identical(
        self, spark, tmp_path
    ):
        """Adversarial crash: kill the run after the final round's
        foreground writes but before its deferred tail settled — i.e.
        delete the last MANIFEST.json AND that round's edges artifact
        (a deferred background write that 'never finished'). resume
        must re-run exactly that round and converge to the reference
        state."""
        corpus = cm.testsite_corpus(spark)
        ref = self._run(spark, corpus, str(tmp_path / "ck_ref"))

        ckpt = str(tmp_path / "ck_crash")
        res = self._run(spark, corpus, ckpt)
        rounds = sorted(
            int(d.split("=")[1]) for d in os.listdir(ckpt)
            if d.startswith("round=")
        )
        last = rounds[-1]
        assert res.rounds == last + 1
        # simulate the crash window pipelining opens: manifest of
        # the last round missing, one of its deferred artifacts gone
        os.remove(os.path.join(ckpt, f"round={last:05d}", "MANIFEST.json"))
        shutil.rmtree(os.path.join(ckpt, f"round={last:05d}", "edges"),
                      ignore_errors=True)

        cfg = CrawlConfig(
            max_depth=5, use_bloom=False, num_partitions=4,
            checkpoint_dir=ckpt,
        )
        resumed = CrawlEngine(spark, corpus, cfg).run(SEEDS, resume=True)
        assert self._state(resumed) == self._state(ref)
        # and the re-run round's manifest is back
        assert os.path.exists(
            os.path.join(ckpt, f"round={last:05d}", "MANIFEST.json"))


class TestAdaptivePartitions:
    """Per-round data-volume exchange sizing (BENCH.md §3.3): tiny
    fixpoint rounds must not scatter into cores-many ~1k-row tasks.
    Contract: (1) the engine restores the session's shuffle-partition
    conf on exit; (2) small rounds actually produce the clamped file
    count (the mechanism is live, not silently bypassed). Output
    invariance across partition counts is
    test_determinism.py::test_partitioning_invariance."""

    def test_identical_output_and_conf_restored(self, spark, tmp_path):
        corpus = cm.testsite_corpus(spark)
        before = spark.conf.get("spark.sql.shuffle.partitions")
        cfg = CrawlConfig(
            max_depth=4, use_bloom=True, bloom_min_visited=500,
            checkpoint_dir=str(tmp_path / "ck_on"),
        )
        CrawlEngine(spark, corpus, cfg).run([(ROOT, "s0", 4, 0.0)])
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_small_round_file_count_clamped(self, spark, tmp_path):
        corpus = cm.synth_corpus(
            spark, n_pages=2000, n_hosts=4, links_per_page=5,
            with_images=False, num_partitions=16,
        )
        seeds = (
            corpus.limit(64)
            .select(
                "url",
                F.lit("s-all").alias("sitemap_id"),
                F.lit(2).alias("max_depth"),
                F.lit(0.0).alias("priority"),
            )
        )
        ckpt = str(tmp_path / "ck_files")
        cfg = CrawlConfig(
            max_depth=2, use_bloom=False, num_partitions=16,
            checkpoint_dir=ckpt,
        )
        CrawlEngine(spark, corpus, cfg).run(seeds)
        fr = os.path.join(ckpt, "round=00000", "frontier_next")
        n_files = len([f for f in os.listdir(fr) if f.endswith(".parquet")])
        # 64-row dequeue → clamp floor min(8, npart) = 8, not 16
        assert n_files <= 8
