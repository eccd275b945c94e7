"""Round-based BFS crawl engine — the PySpark re-expression of the
reference's three crawl engines (`crawler.go:27-46`) and of its own
distributed NATS/Cassandra decomposition (`crawlmanager.go:43-148`).

One **round** is one DataFrame job; the driver loop is the fixpoint
(SURVEY.md §3). Semantics preserved from the reference:

* depth gate before expansion (`crawler.go:93`): pages at depth
  0..max_depth-1 are fetched; links discovered at the horizon are
  recorded but never visited;
* mark-visited *before* fetch (`crawler.go:173`): fetch-error and
  empty-body URLs still appear in the adjacency output with ``[]``;
* visited short-circuit (`crawler.go:169-171`): exact left-anti join
  (plus advisory Bloom pre-filter at scale);
* link pipeline fetch → extract → canonicalize (`crawler.go:176-195`)
  resolved against the post-redirect ``final_url``;
* per-URL link sets are unions (`sitemap.go:56-66`), output sorted
  ascending (`sitemap.go:91-104`).

Where the reference is racy (concurrent engines may double-fetch, visit
order depends on goroutine scheduling), this engine defines the
deterministic generalization: each URL visited at its minimal depth,
first-wins tie-break on stable row keys only — identical to the
reference whenever the reference is deterministic (diameter <
max_depth), and parallelism-invariant always.

Scale notes (100 TB / 10^10 URLs): the fetch is a join against the
corpus on ``url`` — at scale the corpus should be bucketed/sorted by
``url`` so every round's fetch-join co-locates without a shuffle; the
image ``bytes`` column is never read in the crawl path (column pruning:
the fetch-join projects only url/status/final_url/links), so the wide
payload never enters a shuffle. Frontier state is partitioned by
(host_hash, salt) with explicit salting for hot hosts; the politeness
window reuses that key. The visited anti-join is the one unavoidable
big shuffle; the Bloom pre-filter keeps its probe side sparse.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.udfs import clean_links_udf, extract_links_udf
from .operators.bloom import (
    BloomFilter,
    build_bloom,
    build_bloom_shards,
    merge_bloom_shards,
    split_by_bloom,
    split_by_bloom_shards,
    url_hash_col,
)
from .operators.politeness import dequeue_per_host
from .operators.robots import apply_robots_gate
from .schemas import FRONTIER_SCHEMA, SEEDS_SCHEMA

# JVM-side host extraction (keeps port, unlike parse_url's HOST part,
# for parity with Go's URL.Host — `crawler.go:247`).
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*)"


def _host_col(url):
    return F.regexp_extract(url, _HOST_RE, 1)


def _unpersist(df: DataFrame) -> None:
    """Release a round cache. ``Dataset.unpersist`` leaves a
    localCheckpoint's blocks in place: they belong to the checkpointed
    RDD under the plan's ``LogicalRDD``, which is released here too —
    the way Spark's ContextCleaner does it, since ``RDD.unpersist``
    logs a warning for every locally checkpointed RDD."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
            plan.rdd().id(), False
        )


class _BgAction:
    """Concurrent Spark action that re-raises its failure on join —
    a silently-dead background write must fail the round, not produce
    an incomplete checkpoint.

    When ``sc`` is given, the action is tagged with the ``background``
    fair-scheduler pool. The tag only acts under
    ``spark.scheduler.mode=FAIR``, and ``session.get_spark`` defaults to
    FIFO (``SPARK_GRAFT_SCHEDULER_MODE`` overrides it). Under FIFO the
    pool is ignored: a "background" job's tasks occupy every task slot
    until done and the next foreground job queues behind it — measured
    in the round-4 rounds-mode decomposition, where each round's wall
    tracked its image-decode "background" write almost 1:1. Under FAIR,
    foreground rounds and background writes share task slots, which
    turns idle slots into pipeline overlap; the paired A/B in
    session.py measured that neutral to slightly slower on a box whose
    slots are not idle, hence the FIFO default.

    Pool tagging REQUIRES PySpark pinned-thread mode (PYSPARK_PIN_THREAD,
    default on since Spark 3.2): setLocalProperty is per-JVM-thread, and
    only pinned mode gives each Python thread its own JVM thread. With
    pinning disabled every Python thread shares one JVM thread, so the
    tag would leak onto FOREGROUND jobs launched after this one —
    silently defeating the FAIR split. The guard below skips tagging in
    that case (jobs then land in the default pool, which is merely the
    FIFO behavior — safe, just unsplit)."""

    def __init__(self, fn, *args, sc=None):
        self.exc: BaseException | None = None
        pinned = os.environ.get("PYSPARK_PIN_THREAD", "true").lower() not in (
            "false",
            "0",
        )

        def runner():
            try:
                if sc is not None and pinned:
                    sc.setLocalProperty("spark.scheduler.pool", "background")
                fn(*args)
            except BaseException as e:  # noqa: BLE001 — re-raised on join
                self.exc = e

        self.thread = threading.Thread(target=runner)
        self.thread.start()

    def join(self) -> None:
        self.thread.join()
        if self.exc is not None:
            raise self.exc


@dataclass
class CrawlConfig:
    max_depth: int = 1  # reference default (`cmd/standalone/sitemapper.go:21`)
    per_host_budget: int | None = None  # None = unlimited (reference parity)
    use_html_extraction: bool = False  # parse html vs pre-materialized out_links
    use_bloom: bool = True
    seen_filter: str = "bloom"  # "bloom" | "cuckoo" — the advisory
    # pre-filter implementation. Cuckoo (operators/cuckoo.py) trades a
    # slightly costlier insert for deletion support (the expire()/
    # recrawl workflow deletes in place instead of rebuilding) and a
    # lower FP rate per bit at high load; split semantics are identical
    # (advisory-only, exact anti-join confirms). Both implementations
    # shard (bloom_shards > 1).
    bloom_min_visited: int = 4096  # below this the exact anti-join is cheaper
    bloom_expected_urls: int = 2_000_000  # sizes the cumulative filter once
    bloom_shards: int = 1  # >1 → distributed sharded filter (the
    # 10^10-URL path: shard bitsets/tables live as parquet rows, probed
    # via cogroup-applyInPandas, never driver-held/broadcast whole;
    # applies to both seen_filter implementations). Measured cost
    # (BENCH.md §1.6, 8M-page mega at local[32], certified): ~12–13%
    # throughput vs the driver-held filter, INVARIANT to shard count
    # (shards=8 and shards=64 within 0.5%) — the price is the extra
    # candidate exchange of the cogroup probe, not per-shard work.
    # Crossover guidance: stay at 1 while the filter fits driver +
    # broadcast comfort (~12.8 bits/URL ⇒ ~1.6 GB at 10^9 URLs —
    # around there, switch); past that, shard count should track
    # executor count so each shard's bitset stays executor-resident.
    broadcast_fetch_max: int | None = 100_000  # max dequeued rows for the
    # broadcast fetch path: when this round's dequeued count is within
    # the threshold, the corpus is semi-join-pruned and the matched
    # slice broadcast (corpus never shuffles); above it — or with
    # None — the fetch falls back to a shuffle join (the
    # >broadcast-memory frontier path; bucket the corpus by url there).
    # Default measured, not guessed: at 500k-row rounds the broadcast
    # path built a ~300 MB driver hash relation per round — serial
    # build + humongous-allocation GC storms made the whole round 2x
    # slower AND 3x noisier than the shuffle join (55.7s vs 29.7s best
    # warm pass at local[32] on the 1M-page mega bench). 100k rows
    # (~60 MB with out_links) keeps the broadcast win for small rounds
    # without entering that regime.
    fetch_prune_broadcast_max: int | None = 20_000_000  # max dequeued
    # rows for semi-join-pruning the corpus BEFORE the shuffle fetch
    # join (guide §3.2: reduce the big side before shuffling it). Rounds
    # above broadcast_fetch_max fall back to a shuffle fetch join; the
    # exchange then used to carry the WHOLE projected corpus (every
    # row, matched or not) every round. Within this bound the dequeued
    # urls-only key slice (tens of bytes/row — same sizing argument as
    # image_keys_broadcast_max) is broadcast as a semi-join that drops
    # non-matching corpus rows before the exchange, cutting the fetch
    # shuffle from O(corpus) to O(dequeued) bytes. Beyond it (10^9-row
    # dequeues): plain shuffle join — bucket the corpus by url there.
    image_keys_broadcast_max: int | None = 20_000_000  # max dequeued
    # rows for broadcasting the urls-only key slice that prunes the
    # image corpus before decode. Separate from broadcast_fetch_max:
    # the fetch broadcast carries out_links (~10x wider), so it must
    # fall back to a shuffle join long before the bare-url broadcast
    # does — and the image semi-join must NOT follow it into a
    # shuffle, which would move the `bytes` column. The image prune is
    # therefore ALWAYS a broadcast; this knob bounds it: a dequeue
    # above the cap raises (telling the operator to bucket the corpus
    # by url or raise the cap) instead of either shuffling `bytes` or
    # blowing the driver on an unbounded broadcast. None = no bound.
    decode_verify_images: bool = False  # per north_star: each round
    # fetch/decodes the image payload of visited pages and appends image
    # rows (url, phash, ok, psnr_db, caption_ok); bytes are read from
    # the corpus scan and never shuffled (semi-join prune, mapInPandas)
    corpus_cache_min_depth: int | None = 4  # fixpoint-shaped crawls
    # (max_depth >= this) re-scan the projected corpus once or twice
    # PER ROUND — the fetch semi-join/broadcast build and the image
    # prune each read all N corpus rows (round-6 stage profile: the
    # 2M-row rescans were the largest executor-time bucket of the deep
    # BFS, ~5-40 exec-s per round) — so both corpus sides are pinned
    # MEMORY_AND_DISK for the run and unpersisted on exit (measured
    # -13% deep-BFS wall; shallow fat crawls don't amortize the fill
    # and mega measured neutral, hence the depth gate). None disables.
    corpus_cache_max_bytes: int = 4 << 30  # only cache when the
    # corpus's on-disk footprint is measurably below executor storage
    # (local files only; unknown/remote sizes disable the cache) — at
    # corpus scales beyond memory the per-round rescans are the
    # streaming design, not a bug, and the cache would just thrash.
    frontier_handoff: bool = True  # round N's frontier_next is handed
    # to round N+1 as an eager localCheckpoint (same repartition
    # exchange, no parquet encode on the critical path, lineage
    # truncated to an in-memory scan) while the parquet checkpoint
    # writes in the background; the write is joined before the round's
    # manifest, so resume semantics are unchanged. The r4 decomp
    # measured the foreground frontier write at 13-23 s/round at mega
    # sizes — pure critical-path time. Old checkpoint blocks are freed
    # by Spark's ContextCleaner when the handle is garbage-collected.
    pipeline_rounds: bool = True  # small-round tail pipelining: a
    # round's background writes are joined (and its manifest written)
    # at the end of the NEXT round, so the write tail overlaps the next
    # round's compute — the fixpoint-floor lever for BFS-shaped crawls
    # with many small rounds. "Manifest present = round complete" is
    # preserved exactly (the manifest is still written only after every
    # artifact is durable); a crash loses at most one manifest and
    # resume re-runs that round deterministically. Fat rounds
    # (> DIRECT_ABSORB_MAX dequeued) always settle inline.
    overlap_fat_writes: bool = True  # fat rounds (round 5): the edges +
    # lineage writes run as CONCURRENT actions instead of a foreground
    # barrier, and the candidate/heat chain derives from the cached
    # `cleaned` slice by the SAME row-local explode that feeds the
    # write — provably identical rows, no write-then-reread. The r5
    # verbose decomp measured the foreground edges+lineage write at
    # ~28 s of a ~41 s clean warm mega round at local[32] — a barrier
    # spent at 83% busy, i.e. idle slots existed that the candidate
    # chain could fill. Unlike the small-round path this persists
    # NOTHING extra (the explode is recomputed from `cleaned`, which
    # is already cached for the whole round) and the heavy tail still
    # settles inline at round end, so the memory profile and the
    # "manifest present = round complete" crash contract are exactly
    # the old fat path's. Off = the pre-r5 foreground barrier.
    salt_buckets: int = 8
    hot_host_threshold: int = 100_000  # frontier rows per host before salting
    max_rounds: int = 1000
    checkpoint_dir: str | None = None  # None → engine-managed temp dir
    num_partitions: int | None = None
    adaptive_partitions: bool = True  # size each round's exchanges by
    # DATA VOLUME (n_dequeued / rows_per_partition, clamped to
    # [min(8, num_partitions), num_partitions]) instead of a fixed
    # cores-sized count. Measured (BENCH.md §3.3,
    # bench_scaling_r4_rounds32_p8.json): on 37k-row fixpoint rounds,
    # local[32] with 32-way exchanges pays a per-round tiny-task floor
    # (32 shuffle buckets + 32 parquet files + 32-task stages per job,
    # each task <2k rows) that made the wide level SLOWER than
    # local[8]; forcing 8 partitions cut the certified warm pass
    # 23.2 s → 16.7 s (identical output sha). Fat rounds are untouched
    # (4M rows / 8192 ≫ num_partitions clamps to num_partitions), so
    # the mega shape keeps its cores-wide exchanges. This is exactly
    # AQE's coalescing rationale applied to the exchanges AQE cannot
    # touch (explicit repartition + map-side bucket/file counts). On a
    # 1000-executor cluster the same rule keeps a 10^5-row tail round
    # from scattering into 10^5 ~1-row tasks.
    rows_per_partition: int = 8192  # target rows per exchange
    # partition under adaptive_partitions; 37k-row rounds → 8 parts
    # (the measured winner), 4M-row mega rounds → cores-clamped.
    adaptive_fanout: float = 1.0  # multiplier on n_dequeued when sizing
    # the round's exchanges: the candidate shuffle processes roughly
    # n_dequeued × link-fanout rows, so a small dequeue with high
    # fan-out (5k pages × 100 links = 500k candidate rows) would
    # otherwise get its candidate exchange squeezed into the 8-part
    # floor (round-4 ADVICE). Set to the corpus's expected avg
    # out-degree for high-fanout workloads; 1.0 (no correction) is the
    # default because every measured shape (8-link synthetic corpora)
    # clamps to num_partitions long before fan-out matters, and the
    # certified r4 numbers were taken at this sizing.
    priority_decay: float = 0.0  # candidate priority = parent − decay
    priority_fn: Callable[[], Column] | None = None  # custom frontier
    # priority: a zero-arg callable returning a Column over the
    # candidate columns (sitemap_id, url, host, depth, parent, root);
    # overrides the default depth-decay priority. Per-host dequeue
    # order follows it under a binding budget (north_star
    # priority-queue frontier).
    verbose: bool = False


@dataclass
class CrawlResult:
    sitemap_ids: list[str]
    rounds: int
    visited: DataFrame
    edges: DataFrame
    lineage: DataFrame
    checkpoint_dir: str

    def adjacency(self) -> DataFrame:
        """(sitemap_id, src, links sorted asc) — every visited URL
        present, zero-link pages with [] (`crawler.go:173` semantics)."""
        links = (
            self.edges.groupBy("sitemap_id", "src")
            .agg(F.array_sort(F.collect_set("dst")).alias("links"))
        )
        return (
            self.visited.select("sitemap_id", F.col("url").alias("src"))
            .join(links, ["sitemap_id", "src"], "left")
            .select(
                "sitemap_id",
                "src",
                F.coalesce("links", F.array().cast("array<string>")).alias("links"),
            )
        )

    def adjacency_dict(self, sitemap_id: str | None = None) -> dict[str, list[str]]:
        """Flat {url: sorted links} map — the golden-file shape
        (`internal/testdata/integration_test_results.json`)."""
        df = self.adjacency()
        if sitemap_id is not None:
            df = df.filter(F.col("sitemap_id") == sitemap_id)
        return {r["src"]: list(r["links"]) for r in df.collect()}

    def to_json_obj(self, sitemap_id: str | None = None) -> dict:
        """Reference stdout shape {Count, Results:[{URL, Links}]}
        (`sitemap.go:106-122`); Results sorted by URL for determinism
        (the reference's Results order is Go-map-random and its tests
        compare order-insensitively, `crawler_test.go:73-97`)."""
        adj = self.adjacency_dict(sitemap_id)
        return {
            "Count": len(adj),
            "Results": [
                {"URL": u, "Links": adj[u]} for u in sorted(adj)
            ],
        }


class CrawlEngine:
    """Deterministic frontier-expansion crawl over a pages corpus."""

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.robots = robots
        # Project the fetch-relevant columns ONCE — the image payload
        # (`bytes`) must never ride through the crawl path's shuffles.
        cols = ["url", "status", "final_url"]
        cols.append("html" if self.config.use_html_extraction else "out_links")
        self.fetch_side = corpus.select(*cols).withColumnRenamed("url", "_corpus_url")
        self.image_side = (
            corpus.select("url", "image_id", "bytes", "w", "h", "fmt",
                          "caption", "phash")
            if self.config.decode_verify_images
            else None
        )
        self._corpus_pins: list[DataFrame] = []

    def release_corpus_pins(self) -> None:
        """Unpersist the fixpoint-run corpus caches (see
        CrawlConfig.corpus_cache_min_depth). Optional: the pins are
        evictable MEMORY_AND_DISK blocks deduped across engines; call
        this in a long-lived shared session once crawling is done."""
        for pin in self._corpus_pins:
            try:
                pin.unpersist()
            except Exception:  # noqa: BLE001
                pass
        self._corpus_pins = []

    # ------------------------------------------------------------------
    def _ckpt(self, *parts: str) -> str:
        return os.path.join(self._dir, *parts)

    def _write(self, df: DataFrame, round_no: int, name: str) -> DataFrame:
        """Materialize a round artifact: truncates plan lineage, makes the
        round restartable, and bounds memory like the reference's
        Cassandra state tables do (`cassandra.go:79-118`)."""
        t0 = time.perf_counter()
        path = self._ckpt(f"round={round_no:05d}", name)
        df.write.mode("overwrite").parquet(path)
        if self.config.verbose:
            print(
                f"[crawl]   write {name}: {time.perf_counter() - t0:.2f}s",
                flush=True,
            )
        return self.spark.read.parquet(path)

    def _manifest(self, round_no: int, payload: dict) -> None:
        path = self._ckpt(f"round={round_no:05d}", "MANIFEST.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)  # atomic: manifest presence = round complete

    def _complete_rounds(self) -> list[int]:
        if not os.path.isdir(self._dir):
            return []
        out = []
        for d in sorted(os.listdir(self._dir)):
            if d.startswith("round=") and os.path.exists(
                os.path.join(self._dir, d, "MANIFEST.json")
            ):
                out.append(int(d.split("=")[1]))
        return out

    def _corpus_bytes_on_disk(self) -> int:
        """Total local on-disk size of the corpus input files; a
        sentinel larger than any cache cap when unknown (remote
        schemes, in-memory sources) so unknown sizes never cache."""
        try:
            from urllib.parse import urlparse
            from urllib.request import url2pathname

            files = self.fetch_side.inputFiles()
            if not files:
                return 1 << 62
            total = 0
            for f in files:
                u = urlparse(f)
                if u.scheme not in ("", "file"):
                    return 1 << 62
                total += os.path.getsize(url2pathname(u.path))
            return total
        except Exception:  # noqa: BLE001 — sizing is best-effort
            return 1 << 62

    def _read_rounds(self, name: str, rounds: list[int]) -> DataFrame | None:
        paths = [
            self._ckpt(f"round={r:05d}", name)
            for r in rounds
            if os.path.isdir(self._ckpt(f"round={r:05d}", name))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    # ------------------------------------------------------------------
    def _shard_geometry(self) -> dict:
        """The probe-critical parameters of the current sharded filter.
        A persisted-shards parquet probed with DIFFERENT geometry can
        return false NEGATIVES (wrong shard routing or wrong in-filter
        bucket math), and a false negative bypasses the exact anti-join
        — so geometry is persisted alongside the shards and validated
        on load."""
        g = {
            "seen_filter": self.config.seen_filter,
            "n_shards": self.config.bloom_shards,
        }
        if self.config.seen_filter == "cuckoo":
            g["n_buckets"] = self._shard_cuckoo_buckets
        else:
            g["m_bits"] = self._shard_m_bits
            g["k"] = self._shard_k
        return g

    def _write_seen_shards(self, merged: DataFrame) -> None:
        """Persist a new version of the sharded seen filter and retire
        the previous one (the shards parquet IS the durable filter —
        resume loads it instead of rebuilding from visited)."""
        path = self._ckpt("bloom_shards", f"v{self._bloom_version:05d}")
        merged.write.mode("overwrite").parquet(path)
        self._bloom_shards = self.spark.read.parquet(path)
        meta = self._ckpt("bloom_shards", "FILTER_META.json")
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._shard_geometry(), f)
        os.replace(tmp, meta)
        if self._bloom_version > 0:  # previous version fully merged in
            shutil.rmtree(
                self._ckpt("bloom_shards", f"v{self._bloom_version - 1:05d}"),
                ignore_errors=True,
            )
        self._bloom_version += 1

    def _load_seen_shards(self) -> bool:
        """Resume path: adopt the latest persisted shards version if one
        exists (saves the full rebuild-from-visited job).

        Geometry-validated: the shards are only adopted when the
        persisted FILTER_META matches the current filter type and shard
        count (anything else routes probes to the wrong shard → false
        negatives → re-crawled duplicates). A matching manifest's
        per-shard geometry (n_buckets / m_bits,k) is ADOPTED — it is
        authoritative over the config-derived sizing, so resuming with
        a changed ``bloom_expected_urls`` still probes correctly. A
        missing or mismatched manifest falls back to
        rebuild-from-visited (correct, just slower)."""
        base = self._ckpt("bloom_shards")
        if not os.path.isdir(base):
            return False
        versions = sorted(
            int(d[1:]) for d in os.listdir(base) if d.startswith("v")
        )
        if not versions:
            return False
        meta_path = os.path.join(base, "FILTER_META.json")
        if not os.path.exists(meta_path):
            return False  # pre-manifest checkpoint: rebuild, don't guess
        with open(meta_path) as f:
            meta = json.load(f)
        if (
            meta.get("seen_filter") != self.config.seen_filter
            or meta.get("n_shards") != self.config.bloom_shards
        ):
            print(
                "[crawl] WARNING: persisted seen-filter shards have "
                f"geometry {meta}, current config wants "
                f"{self.config.seen_filter}/{self.config.bloom_shards} "
                "shards — rebuilding the filter from the visited table",
                flush=True,
            )
            return False
        if self.config.seen_filter == "cuckoo":
            self._shard_cuckoo_buckets = int(meta["n_buckets"])
        else:
            self._shard_m_bits = int(meta["m_bits"])
            self._shard_k = int(meta["k"])
        self._bloom_shards = self.spark.read.parquet(
            os.path.join(base, f"v{versions[-1]:05d}")
        )
        self._bloom_version = versions[-1] + 1
        return True

    def _sharded_cuckoo_degrade(self) -> None:
        """Over-capacity recovery for the SHARDED cuckoo filter — the
        distributed analog of :meth:`_cuckoo_degrade`. A CuckooFull
        raised executor-side during a shard build/merge must degrade,
        not abort (the filter is strictly advisory): rebuild all shards
        at the next power-of-two per-shard capacity from the exact
        visited table; if even 4x overflows, disable the advisory layer
        for the rest of the run (exact anti-join only)."""
        from .operators.cuckoo import build_cuckoo_shards

        # the rebuild reads the visited PARQUET — any in-flight
        # background visited writer must land first (a partial round
        # dir would rebuild a filter with missing keys, and a seen-
        # filter false negative bypasses the exact anti-join)
        for th in getattr(self, "_visited_write_threads", []):
            th.join()
        all_vh = self._read_rounds(
            "visited", getattr(self, "_visited_rounds", [])
        )
        rebuilt = False
        if all_vh is not None:
            vh = all_vh.select(
                url_hash_col(F.col("sitemap_id"), F.col("url")).alias("_h")
            )
            grow = self._shard_cuckoo_buckets * 2
            for n_buckets in (grow, grow * 2):
                try:
                    shards = build_cuckoo_shards(
                        vh, "_h", self.config.bloom_shards, n_buckets
                    )
                    self._shard_cuckoo_buckets = n_buckets
                    self._write_seen_shards(shards)  # action runs here
                    rebuilt = True
                    break
                except Exception as e2:  # noqa: BLE001
                    if not self._is_cuckoo_full(e2):
                        raise
        if not rebuilt:
            self._bloom_shards = None
            self._shards_disabled = True
        print(
            "[crawl] WARNING: sharded cuckoo filter over capacity — "
            + (
                f"rebuilt at {self._shard_cuckoo_buckets} buckets/shard "
                "from the visited table (size bloom_expected_urls "
                "correctly to avoid this rebuild)"
                if rebuilt
                else "advisory pre-filter DISABLED for this run "
                "(exact anti-join only)"
            ),
            flush=True,
        )

    def _cuckoo_degrade(self) -> None:
        """Over-capacity recovery for the driver-held cuckoo filter:
        rebuild at a larger power-of-two capacity from the exact visited
        table; if even that overflows, disable the advisory pre-filter
        for the rest of the run (exact anti-join only)."""
        from .operators.cuckoo import build_cuckoo

        # see _sharded_cuckoo_degrade: in-flight visited writers must
        # land before the rebuild reads the visited parquet
        for th in getattr(self, "_visited_write_threads", []):
            th.join()
        all_vh = self._read_rounds(
            "visited", getattr(self, "_visited_rounds", [])
        )
        rebuilt = None
        if all_vh is not None:
            grow = self._cuckoo.n_buckets * 2
            for n_buckets in (grow, grow * 2):
                try:
                    rebuilt = build_cuckoo(
                        all_vh.select(
                            url_hash_col(
                                F.col("sitemap_id"), F.col("url")
                            ).alias("_h")
                        ),
                        "_h",
                        n_buckets=n_buckets,
                        bucket_size=self._cuckoo.bucket_size,
                    )
                    break
                except Exception as e2:  # noqa: BLE001
                    if not self._is_cuckoo_full(e2):
                        raise
        self._cuckoo = rebuilt  # None → advisory layer off
        print(
            "[crawl] WARNING: cuckoo filter over capacity — "
            + (
                f"rebuilt at {rebuilt.n_buckets} buckets from the "
                "visited table (size bloom_expected_urls correctly "
                "to avoid this rebuild)"
                if rebuilt is not None
                else "advisory pre-filter DISABLED for this run "
                "(exact anti-join only)"
            ),
            flush=True,
        )

    @staticmethod
    def _is_cuckoo_full(e: BaseException) -> bool:
        # executor-side CuckooFull surfaces as a PythonException whose
        # message embeds the original — match by type then by text
        from .operators.cuckoo import CuckooFull

        return isinstance(e, CuckooFull) or (
            "cuckoo filter over capacity" in str(e)
        )

    # below this many rows, absorbing the round's URL hashes into a
    # driver-held filter skips the distributed partial-filter build (8
    # map partials + a bitset-row shuffle + an m/8-byte collect — ~2.3 s
    # of fixed job latency, BENCH.md §2.3) and instead collects the raw
    # int64 hashes (8 B/row via Arrow, ≤ 8 MB at the threshold) for one
    # vectorized driver-side add_many. Big rounds keep the distributed
    # tree build — at production round sizes the partials amortize.
    DIRECT_ABSORB_MAX = 1_000_000

    def _absorb_into_bloom(
        self, visited_slice: DataFrame, n_rows: int | None = None
    ) -> None:
        """OR-merge a visited slice's URL hashes into the cumulative
        seen filter.

        Driver mode (``bloom_shards == 1``): per-partition build + tree
        merge into the single driver-held filter.  Sharded mode
        (``bloom_shards > 1``): the delta is built as (shard_id, bitset/
        table) rows and merged distributedly into the versioned shards
        parquet — the driver never holds a filter (the 10^10 path;
        `operators/bloom.py` / `operators/cuckoo.py`).

        Over-capacity cuckoo inserts degrade instead of aborting the
        crawl (the filter is strictly advisory): rebuild at the next
        power-of-two capacity from the exact visited table, and if even
        that overflows, disable the pre-filter for the rest of the run
        (exact anti-join only). The hard ``CuckooFull`` raise is
        reserved for the standalone-library contract."""
        t0 = time.perf_counter()
        vh = visited_slice.select(
            url_hash_col(F.col("sitemap_id"), F.col("url")).alias("_h")
        )
        if (
            self.config.bloom_shards == 1
            and n_rows is not None
            and n_rows <= self.DIRECT_ABSORB_MAX
        ):
            import numpy as np

            h = vh.toPandas()["_h"].to_numpy(dtype=np.int64)
            if self.config.seen_filter == "cuckoo":
                if self._cuckoo is not None:
                    try:
                        self._cuckoo.add_many(h)
                    except Exception as e:  # noqa: BLE001
                        if not self._is_cuckoo_full(e):
                            raise
                        self._cuckoo_degrade()
            else:
                self._bloom.add_many(h)
            if self.config.verbose:
                print(
                    f"[crawl]   bloom absorb (direct, {len(h)} keys): "
                    f"{time.perf_counter() - t0:.2f}s",
                    flush=True,
                )
            return
        if self.config.bloom_shards > 1:
            if getattr(self, "_shards_disabled", False):
                return  # advisory layer degraded off for this run
            if self.config.seen_filter == "cuckoo":
                from .operators.cuckoo import (
                    build_cuckoo_shards,
                    merge_cuckoo_shards,
                )

                # build/merge are lazy — an over-capacity shard raises
                # CuckooFull executor-side at the _write_seen_shards
                # action, so the degrade catch wraps the whole chain
                # (same contract as the driver-mode path: advisory
                # filters degrade, never abort the crawl).
                try:
                    delta = build_cuckoo_shards(
                        vh, "_h", self.config.bloom_shards,
                        self._shard_cuckoo_buckets,
                    )
                    merged = (
                        delta
                        if self._bloom_shards is None
                        else merge_cuckoo_shards(
                            self._bloom_shards, delta,
                            self._shard_cuckoo_buckets,
                        )
                    )
                    self._write_seen_shards(merged)
                except Exception as e:  # noqa: BLE001
                    if not self._is_cuckoo_full(e):
                        raise
                    self._sharded_cuckoo_degrade()
            else:
                delta = build_bloom_shards(
                    vh, "_h", self.config.bloom_shards,
                    self._shard_m_bits, self._shard_k,
                )
                merged = (
                    delta
                    if self._bloom_shards is None
                    else merge_bloom_shards(self._bloom_shards, delta)
                )
                self._write_seen_shards(merged)
        elif self.config.seen_filter == "cuckoo":
            from .operators.cuckoo import build_cuckoo

            if self._cuckoo is None:  # advisory layer disabled (degraded)
                return
            try:
                delta = build_cuckoo(
                    vh, "_h", n_buckets=self._cuckoo.n_buckets,
                    bucket_size=self._cuckoo.bucket_size,
                )
                self._cuckoo = self._cuckoo.merge(delta)
            except Exception as e:  # noqa: BLE001 — degrade on CuckooFull only
                if not self._is_cuckoo_full(e):
                    raise
                self._cuckoo_degrade()
        else:
            delta = build_bloom(vh, "_h", m_bits=self._bloom.m_bits, k=self._bloom.k)
            self._bloom = self._bloom.merge(delta)
        if self.config.verbose:
            print(
                f"[crawl]   bloom absorb: {time.perf_counter() - t0:.2f}s",
                flush=True,
            )

    # ------------------------------------------------------------------
    @staticmethod
    def _swap_in(path: str, tmp: str) -> None:
        """Replace directory ``path`` with ``tmp`` such that at every
        instant at least ONE complete artifact exists on disk: the old
        directory is renamed ASIDE (``path + '.old'``) before the new
        one is renamed into place, and only then deleted. A crash
        between the renames leaves ``path.old`` (recovered by
        :meth:`_recover_swaps`); the naive rmtree-then-rename order
        would leave NEITHER artifact."""
        old = path + ".old"
        shutil.rmtree(old, ignore_errors=True)  # stale from a prior crash
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)

    def _recover_swaps(self) -> None:
        """Repair a checkpoint interrupted mid-swap: for every leftover
        ``<name>.old`` round artifact, restore it if the swap never
        completed (``<name>`` missing) else discard it (swap completed,
        cleanup didn't); stray ``<name>.tmp`` dirs are always discarded
        (the rewrite they staged never committed)."""
        if not os.path.isdir(self._dir):
            return
        for d in os.listdir(self._dir):
            rdir = os.path.join(self._dir, d)
            if not (d.startswith("round=") and os.path.isdir(rdir)):
                continue
            for entry in os.listdir(rdir):
                p = os.path.join(rdir, entry)
                if entry.endswith(".old"):
                    dest = p[: -len(".old")]
                    if os.path.isdir(dest):
                        shutil.rmtree(p)
                    else:
                        os.rename(p, dest)
                elif entry.endswith(".tmp"):
                    shutil.rmtree(p, ignore_errors=True)

    def _rewrite_minus(
        self, round_no: int, name: str, join_keys: list[str],
        drop_keys: DataFrame,
    ) -> None:
        """Rewrite one round artifact without the rows matching
        ``drop_keys`` (distributed anti-join; tmp-dir write + aside-swap
        so a crash mid-rewrite leaves either the old or the new
        artifact, never neither or a half-written one). A production
        deployment would use Iceberg row-level deletes here instead of
        rewriting the round slice — `sources/corpus_io.py` documents
        the jar constraint."""
        path = self._ckpt(f"round={round_no:05d}", name)
        if not os.path.isdir(path):
            return
        kept = self.spark.read.parquet(path).join(
            drop_keys, join_keys, "left_anti"
        )
        tmp = path + ".tmp"
        kept.write.mode("overwrite").parquet(tmp)
        self._swap_in(path, tmp)

    def select_stale(
        self,
        max_age_rounds: int | None = None,
        hosts: list[str] | None = None,
        predicate: Column | None = None,
    ) -> DataFrame:
        """Recrawl POLICY: select the (sitemap_id, url) cohort that
        should be re-fetched, from the engine's own crawl state — the
        policy layer over the :meth:`expire` mechanism (reference
        analog: the re-flight loop re-publishes stale work,
        `crawlmanager.go:84-89`; here staleness is explicit).

        Composable criteria (AND of those given):

        * ``max_age_rounds`` — age-based recrawl: visited rows whose
          recorded ``round`` is at least this many rounds behind the
          latest completed round (a page fetched long ago is stale);
        * ``hosts`` — robots-change recrawl: every visited URL of the
          given hosts (when a host's robots.txt or structure changed,
          its whole slice must be re-fetched);
        * ``predicate`` — arbitrary Column over the visited schema
          (sitemap_id, url, host, depth, round).

        Returns a DataFrame ready for :meth:`expire` /
        :meth:`recrawl`. Pure plan — nothing is collected."""
        if not hasattr(self, "_dir"):
            if self.config.checkpoint_dir is None:
                raise RuntimeError(
                    "select_stale() needs a checkpoint: run() first or "
                    "set CrawlConfig.checkpoint_dir"
                )
            self._dir = self.config.checkpoint_dir
        rounds = self._complete_rounds()
        if not rounds:
            raise RuntimeError(
                "select_stale() needs a completed crawl checkpoint"
            )
        visited = self._read_rounds("visited", rounds)
        cond = F.lit(True)
        if max_age_rounds is not None:
            cond = cond & (F.col("round") < F.lit(rounds[-1] - max_age_rounds + 1))
        if hosts is not None:
            cond = cond & F.col("host").isin(list(hosts))
        if predicate is not None:
            cond = cond & predicate
        return visited.filter(cond).select("sitemap_id", "url")

    def recrawl(
        self,
        max_age_rounds: int | None = None,
        hosts: list[str] | None = None,
        predicate: Column | None = None,
        seeds: DataFrame | list[tuple[str, str, int, float]] | None = None,
    ) -> int:
        """Policy-driven recrawl: select the stale cohort
        (:meth:`select_stale`), expire it (:meth:`expire`), and — when
        ``seeds`` is given — immediately ``run(resume=True)`` so the
        cohort is re-fetched with updated rounds while every other row
        stays byte-identical. Returns the number of expired rows."""
        cohort = self.select_stale(max_age_rounds, hosts, predicate)
        n = self.expire(cohort)
        if n and seeds is not None:
            self.run(seeds, resume=True)
        return n

    def expire(self, urls: DataFrame | list[tuple[str, str]]) -> int:
        """Recrawl/delete workflow — the engine-level re-flight analog
        (`crawlmanager.go:84-89` re-publishes failed URLs; here expiry
        is explicit and deterministic). For each (sitemap_id, url):

        1. remove its rows from the ``visited`` table and its outgoing
           edges / image rows (distributed per-round anti-join rewrites);
        2. delete its key from the seen filter — IN PLACE for the cuckoo
           paths (driver ``delete_many`` / sharded
           ``delete_from_cuckoo_shards`` writing a new shards version);
           a bloom filter cannot delete, so its extra keys remain as
           advisory false positives (harmless: the exact anti-join
           confirms against the now-rewritten visited table) until the
           next full rebuild;
        3. re-enqueue the URL into the latest ``frontier_next`` (parent =
           itself, original depth), so ``run(resume=True)`` re-fetches it
           with an updated round while everything else stays untouched.

        Returns the number of expired visited rows. Must be called on a
        completed checkpoint (after ``run``)."""
        spark = self.spark
        cfg = self.config
        if not hasattr(self, "_dir"):
            if cfg.checkpoint_dir is None:
                raise RuntimeError(
                    "expire() needs a checkpoint: run() first or set "
                    "CrawlConfig.checkpoint_dir"
                )
            self._dir = cfg.checkpoint_dir
        if isinstance(urls, list):
            urls = spark.createDataFrame(urls, "sitemap_id string, url string")
        urls = urls.select("sitemap_id", "url").dropDuplicates()
        self._recover_swaps()  # repair a checkpoint crashed mid-swap
        rounds = self._complete_rounds()
        if not rounds:
            raise RuntimeError("expire() needs a completed crawl checkpoint")
        visited = self._read_rounds("visited", rounds)
        # Materialize the expiry snapshot to disk FIRST: every later step
        # (filter delete, re-enqueue) derives from it, and the rewrites
        # below replace the parquet files it was computed from — a
        # cache-evicted recompute would otherwise read rewritten state.
        snap = self._ckpt("_expire_snapshot")
        visited.join(urls, ["sitemap_id", "url"], "left_semi").write.mode(
            "overwrite"
        ).parquet(snap)
        expired = spark.read.parquet(snap)
        # From here on, derive the key set from the SNAPSHOT, never from
        # the caller's plan: a policy cohort (select_stale) is a lazy
        # plan over the very round files the rewrites below replace —
        # consuming it after the first rewrite would read deleted files.
        # (Equivalent: a URL not in `visited` cannot appear in edges
        # src or images either, so intersecting with visited loses
        # nothing.)
        urls = expired.select("sitemap_id", "url")
        n_expired = expired.count()
        if n_expired == 0:
            shutil.rmtree(snap, ignore_errors=True)
            return 0
        last = rounds[-1]
        priority = F.lit(0.0) - F.lit(cfg.priority_decay) * F.col("depth")
        re_rows = expired.select(
            "sitemap_id",
            F.col("url"),
            "host",
            "depth",
        ).join(
            visited.filter(F.col("depth") == 0)
            .groupBy("sitemap_id")
            .agg(F.min("url").alias("root")),  # collapsed seed root
            "sitemap_id",
        ).select(
            "sitemap_id",
            "root",
            "url",
            "host",
            F.xxhash64(F.col("host")).alias("host_hash"),
            F.lit(0).alias("salt"),
            "depth",
            priority.cast("double").alias("priority"),
            F.col("url").alias("parent"),
            F.lit(last + 1).alias("round"),
        )
        # stage the merged frontier while the old state is still intact
        fpath = self._ckpt(f"round={last:05d}", "frontier_next")
        ftmp = fpath + ".tmp"
        (
            spark.read.parquet(fpath)
            .unionByName(re_rows)
            .dropDuplicates(["sitemap_id", "url"])
            .write.mode("overwrite")
            .parquet(ftmp)
        )
        # seen-filter deletion (cuckoo in place; a bloom cannot delete —
        # its extra keys stay as harmless advisory false positives)
        hashes = expired.select(
            url_hash_col(F.col("sitemap_id"), F.col("url")).alias("_h")
        )
        if cfg.seen_filter == "cuckoo" and cfg.bloom_shards > 1:
            if not hasattr(self, "_shard_cuckoo_buckets"):
                from .operators.cuckoo import CuckooFilter

                self._shard_cuckoo_buckets = CuckooFilter.sized_for(
                    max(1, cfg.bloom_expected_urls // cfg.bloom_shards)
                ).n_buckets
            if getattr(self, "_bloom_shards", None) is None:
                self._bloom_version = getattr(self, "_bloom_version", 0)
                self._load_seen_shards()
            if self._bloom_shards is not None:
                from .operators.cuckoo import delete_from_cuckoo_shards

                self._write_seen_shards(
                    delete_from_cuckoo_shards(
                        self._bloom_shards, hashes, "_h",
                        cfg.bloom_shards, self._shard_cuckoo_buckets,
                    )
                )
        elif (
            cfg.seen_filter == "cuckoo"
            and getattr(self, "_cuckoo", None) is not None
        ):
            import numpy as np

            h = np.array(
                [r["_h"] for r in hashes.collect()], dtype=np.int64
            )  # O(expired) — the expiry set is operator-sized, not web-sized
            self._cuckoo.delete_many(h)
        # rewrite crawl state minus the expired rows, then swap in the
        # staged frontier
        for r in rounds:
            self._rewrite_minus(r, "visited", ["sitemap_id", "url"], urls)
            self._rewrite_minus(
                r, "edges", ["sitemap_id", "src"],
                urls.select("sitemap_id", F.col("url").alias("src")),
            )
            self._rewrite_minus(r, "images", ["url"], urls.select("url"))
        self._swap_in(fpath, ftmp)
        shutil.rmtree(snap, ignore_errors=True)
        if hasattr(self, "_visited_total"):
            self._visited_total = max(0, self._visited_total - n_expired)
        return n_expired

    # ------------------------------------------------------------------
    def seeds_to_frontier(self, seeds: DataFrame) -> DataFrame:
        """Seed ingestion (F1): seeds lowercased — discovered links are
        NOT (`cmd/standalone/sitemapper.go:35`); depth 0, parent=self."""
        s = seeds.select(
            F.col("sitemap_id"),
            F.lower(F.col("url")).alias("root"),
            F.lower(F.col("url")).alias("url"),
            F.col("priority"),
        )
        return s.select(
            "sitemap_id",
            "root",
            "url",
            _host_col(F.col("url")).alias("host"),
            F.xxhash64(_host_col(F.col("url"))).alias("host_hash"),
            F.lit(0).alias("salt"),
            F.lit(0).alias("depth"),
            F.col("priority"),
            F.col("url").alias("parent"),
            F.lit(0).alias("round"),
        )

    def run(
        self,
        seeds: DataFrame | list[tuple[str, str, int, float]],
        resume: bool = False,
    ) -> CrawlResult:
        cfg = self.config
        spark = self.spark
        if isinstance(seeds, list):
            seeds = spark.createDataFrame(seeds, SEEDS_SCHEMA)

        self._dir = cfg.checkpoint_dir or os.path.join(
            "/tmp", "sitemapper_spark_ckpt", spark.sparkContext.applicationId
        )
        if not resume and os.path.isdir(self._dir):
            shutil.rmtree(self._dir)
        os.makedirs(self._dir, exist_ok=True)

        # Pin the corpus sides for fixpoint-shaped runs (see
        # CrawlConfig.corpus_cache_min_depth): every round's fetch
        # prune/broadcast build and image prune re-scan all corpus
        # rows; at >= min_depth rounds the rescans dominate and an
        # in-memory (disk-spilling, evictable) cache of the two
        # projections pays for its one fill. Plans and results are
        # unchanged — the same subtree reads an InMemoryRelation
        # instead of parquet. The pins outlive the run on purpose
        # (CacheManager dedupes re-registration across engines over
        # the same corpus, so repeated runs share ONE fill; release
        # explicitly via release_corpus_pins() in long-lived sessions).
        # A repeated run() on this engine (e.g. run, then
        # run(resume=True)) keeps the pins it already holds.
        if (
            not self._corpus_pins
            and cfg.corpus_cache_min_depth is not None
            and cfg.max_depth >= cfg.corpus_cache_min_depth
            and self._corpus_bytes_on_disk() <= cfg.corpus_cache_max_bytes
        ):
            from pyspark import StorageLevel

            self.fetch_side = self.fetch_side.persist(
                StorageLevel.MEMORY_AND_DISK
            )
            self._corpus_pins.append(self.fetch_side)
            if self.image_side is not None:
                self.image_side = self.image_side.persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                self._corpus_pins.append(self.image_side)

        npart = cfg.num_partitions or spark.sparkContext.defaultParallelism
        # run metadata is tiny and constant: collect ONCE, re-create as
        # local DataFrames so no per-round job re-derives them. A
        # sitemap may have many seeds (they must share a host — the
        # reference is strictly same-site, `crawler.go:247`): the root
        # collapses to the lexicographic min, which fixes the scheme and
        # host used by canonicalization for the whole sitemap.
        meta_rows = (
            seeds.groupBy("sitemap_id")
            .agg(
                F.max("max_depth").alias("max_depth"),
                F.min(F.lower(F.col("url"))).alias("root"),
            )
            .collect()
        )
        sitemap_ids = [r["sitemap_id"] for r in meta_rows]
        # Sitemap metadata attach: for a small sitemap count the two
        # per-round broadcast-hash joins (max_depth gate + root attach)
        # are replaced by literal map lookups — each broadcast join
        # costs a per-round BroadcastExchange build job plus a join
        # node in every round's plan, pure fixed floor in the
        # fixpoint-dominated regime (guide §2.4: remove exchanges
        # outright). `element_at` returns NULL for an unknown
        # sitemap_id; the explicit isNotNull filter reproduces the
        # inner join's drop semantics exactly. Above the cap the
        # literal map would bloat every plan, so the broadcast-join
        # path remains (10^5-sitemap shape).
        _META_LITERAL_MAX = 256
        use_literal_meta = 0 < len(meta_rows) <= _META_LITERAL_MAX
        if use_literal_meta:
            md_map = F.create_map(
                *[
                    x
                    for r in meta_rows
                    for x in (F.lit(r["sitemap_id"]), F.lit(r["max_depth"]))
                ]
            )
            root_map = F.create_map(
                *[
                    x
                    for r in meta_rows
                    for x in (F.lit(r["sitemap_id"]), F.lit(r["root"]))
                ]
            )

            def attach_max_depth(df: DataFrame) -> DataFrame:
                return df.withColumn(
                    "max_depth",
                    F.element_at(md_map, F.col("sitemap_id")).cast("int"),
                ).filter(F.col("max_depth").isNotNull())

            def attach_root(df: DataFrame) -> DataFrame:
                return df.withColumn(
                    "root", F.element_at(root_map, F.col("sitemap_id"))
                ).filter(F.col("root").isNotNull())
        else:
            max_depth_map = F.broadcast(
                spark.createDataFrame(
                    [(r["sitemap_id"], r["max_depth"]) for r in meta_rows],
                    "sitemap_id string, max_depth int",
                )
            )
            roots_map = F.broadcast(
                spark.createDataFrame(
                    [(r["sitemap_id"], r["root"]) for r in meta_rows],
                    "sitemap_id string, root string",
                )
            )

            def attach_max_depth(df: DataFrame) -> DataFrame:
                return df.join(max_depth_map, "sitemap_id")

            def attach_root(df: DataFrame) -> DataFrame:
                return df.join(roots_map, "sitemap_id")

        # A resumed engine that still holds a live filter (e.g. after an
        # expire() that deleted in place — the whole point of the cuckoo
        # variant) reuses it instead of rebuilding from the visited
        # table; any extra keys in a reused filter cost only advisory
        # false positives, never correctness (exact anti-join confirms).
        reuse_driver_filter = (
            resume
            and cfg.use_bloom
            and cfg.bloom_shards == 1
            and getattr(self, "_filter_ready", False)
            and (
                getattr(self, "_cuckoo", None) is not None
                if cfg.seen_filter == "cuckoo"
                else getattr(self, "_bloom", None) is not None
            )
        )
        if not reuse_driver_filter:
            self._bloom = BloomFilter.sized_for(cfg.bloom_expected_urls)
            if cfg.seen_filter == "cuckoo":
                from .operators.cuckoo import CuckooFilter

                self._cuckoo = CuckooFilter.sized_for(cfg.bloom_expected_urls)
                # driver-mode table size guard: at 10^10 keys the table
                # is ~34 GB — neither driver-holdable nor broadcastable
                table_mb = self._cuckoo.table.nbytes / 2**20
                if table_mb > 512:
                    print(
                        f"[crawl] WARNING: driver-mode cuckoo table is "
                        f"{table_mb:.0f} MB for bloom_expected_urls="
                        f"{cfg.bloom_expected_urls}; set bloom_shards > 1 "
                        "(sharded cuckoo) for frontiers this large",
                        flush=True,
                    )
        if cfg.bloom_shards > 1:
            self._bloom_shards = None
            self._bloom_version = 0
            self._shards_disabled = False
            proto = BloomFilter.sized_for(
                max(1, cfg.bloom_expected_urls // cfg.bloom_shards)
            )
            self._shard_m_bits, self._shard_k = proto.m_bits, proto.k
            from .operators.cuckoo import CuckooFilter

            self._shard_cuckoo_buckets = CuckooFilter.sized_for(
                max(1, cfg.bloom_expected_urls // cfg.bloom_shards)
            ).n_buckets
        else:
            self._bloom_shards = None
            self._bloom_version = 0
        self._visited_total = 0

        if resume:
            self._recover_swaps()  # repair a checkpoint crashed mid-swap
        seed_write_thread: _BgAction | None = None
        # the localCheckpoint serving as `frontier` (None when the
        # frontier is parquet-backed): released with the tail of the
        # round that consumed it, or after the loop if no round did
        frontier_ckpt: DataFrame | None = None
        done = self._complete_rounds()
        if resume and done:
            start_round = done[-1] + 1
            frontier = self._read_rounds("frontier_next", [done[-1]])
            visited_rounds = done
            self._visited_rounds = visited_rounds
            prior = self._read_rounds("visited", visited_rounds)
            if prior is not None:
                self._visited_total = prior.count()
                if cfg.use_bloom:
                    if cfg.bloom_shards > 1 and self._load_seen_shards():
                        pass  # persisted shards ARE the filter — no rebuild
                    elif not reuse_driver_filter:
                        self._absorb_into_bloom(prior, self._visited_total)
        else:
            start_round = 0
            # Depth gate at ingestion (F2): a seed with max_depth=0 is
            # never visited at all (`crawler.go:93` with depth==maxDepth).
            # The per-seed root is replaced by the sitemap's collapsed
            # root (lexicographic min) so round-0 canonicalization uses
            # the SAME scheme/host as every later round; duplicate seed
            # rows are deduped (first-wins — they are identical URLs).
            seed_plan = (
                attach_max_depth(
                    attach_root(self.seeds_to_frontier(seeds).drop("root"))
                )
                .filter(F.col("depth") < F.col("max_depth"))
                .drop("max_depth")
                .dropDuplicates(["sitemap_id", "url"])
                .select(*[f.name for f in FRONTIER_SCHEMA.fields])
            )
            # Materialize ONCE: the loop below consumes the frontier at
            # least twice (isEmpty probe + the dequeue/visited chain);
            # an unmaterialized seed plan would re-run its
            # dropDuplicates shuffle for each — measured as double
            # round-0 latency on 500k-seed mega rounds. Rounds >= 1 get
            # this for free from the frontier_next checkpoint.
            seed_fr_plan = seed_plan.repartition(npart, "host_hash", "salt")
            if cfg.frontier_handoff:
                # round-6: the seed frontier gets the SAME handoff as
                # frontier_next (one lazy localCheckpoint + count job
                # materializes and sizes it; the parquet lands in the
                # background under round 0's compute). Safe for resume:
                # frontier_seed is never read back on resume — a crash
                # before round 0's manifest restarts from the seeds —
                # and the writer thread is joined with round 0's tail,
                # before that manifest exists. Was a 2-3 s FOREGROUND
                # write on 250k-seed mega rounds.
                frontier = frontier_ckpt = seed_fr_plan.localCheckpoint(
                    eager=False
                )
                n_frontier = frontier.count()
                seed_write_thread = _BgAction(
                    self._write, frontier, 0, "frontier_seed",
                    sc=spark.sparkContext,
                )
            else:
                frontier = self._write(seed_fr_plan, 0, "frontier_seed")
                n_frontier = frontier.count()  # parquet metadata count
            visited_rounds = []
            self._visited_rounds = visited_rounds

        round_no = start_round
        # Frontier cardinality is tracked ACROSS rounds: the loop-top
        # emptiness probe job and the eager localCheckpoint
        # materialization job are folded into ONE count job per round
        # (the count that materializes the next frontier also sizes it;
        # round-5 verdict #2 — fewer serial driver actions per round).
        if resume and done:
            # loop entry on resume: parquet-backed — cheap metadata job
            n_frontier = frontier.count()
        # visited parquet writes run in the background; anything that
        # re-reads the visited PARQUET mid-run (the next round's prior-
        # rounds scan, the rare cuckoo degrade rebuild) must join the
        # in-flight writers first.
        self._visited_write_threads: list[_BgAction] = []

        # adaptive per-round exchange sizing (see CrawlConfig
        # .adaptive_partitions): the session's shuffle-partition count
        # is retuned per round from the measured dequeue size and
        # restored on normal exit. Mutating the session conf is safe
        # for correctness at ANY value — every operator in the loop is
        # parallelism-invariant (the scaling protocol asserts
        # sha-identical output at local[8] vs local[32], and the p8
        # experiment matched the same sha) — so a leak on an
        # exceptional exit can at worst slow a later query, never
        # change results.
        orig_sp = spark.conf.get("spark.sql.shuffle.partitions", str(npart))
        try:
            cur_sp = int(orig_sp)
        except ValueError:  # e.g. "auto" on AQE-managed external sessions
            cur_sp = -1  # unknown → first adaptive round always sets

        # Round-tail pipelining (small-round regime): a round's
        # background writes (edges/lineage/images) are JOINED — and its
        # manifest written — at the end of the NEXT round's body, so
        # round N's write tail overlaps round N+1's compute instead of
        # serializing before it. Resume stays correct by construction:
        # the manifest is written strictly AFTER every artifact of its
        # round is durable, so "manifest present" still means "round
        # complete"; a crash inside round N+1 simply loses round N's
        # manifest and resume re-runs round N deterministically
        # (overwrite-mode writes, parallelism-invariant output). Fat
        # rounds settle their HEAVY tail (edges/lineage/image writes +
        # the multi-GB caches) inline — holding two rounds' caches
        # would add memory pressure — but still defer a LIGHT tail:
        # the frontier-handoff background write, the small frontier
        # cache, and the manifest (see the handoff block at the round
        # end). The manifest invariant is identical in both regimes.
        pending_tail: dict | None = None

        # Every background thread / round cache / filter broadcast is
        # tracked from the moment it exists so an EXCEPTIONAL exit can
        # settle it (round-5 verdict #4 + ADVICE: a mid-round failure
        # must not leave writer threads racing teardown or leak cached
        # DataFrames/broadcasts into a shared session). Normal settles
        # discard their items from these lists.
        live_threads: list[_BgAction] = []
        live_caches: list[DataFrame] = []
        live_bcs: list = []
        if seed_write_thread is not None:
            live_threads.append(seed_write_thread)
        if frontier_ckpt is not None:
            live_caches.append(frontier_ckpt)

        def settle_tail(tail: dict) -> None:
            for th in tail["threads"]:
                th.join()
            for df in tail["unpersist"]:
                _unpersist(df)
            for bc in tail["bcs"]:
                bc.destroy()
            live_threads[:] = [
                t for t in live_threads
                if all(t is not t2 for t2 in tail["threads"])
            ]
            live_caches[:] = [
                d for d in live_caches
                if all(d is not d2 for d2 in tail["unpersist"])
            ]
            live_bcs[:] = [
                b for b in live_bcs
                if all(b is not b2 for b2 in tail["bcs"])
            ]
            if tail["manifest"] is not None:
                self._manifest(tail["round_no"], tail["manifest"])

        try:
            while round_no < cfg.max_rounds:
                t_round = time.perf_counter()
                # per-phase wall attribution (verbose only): every FOREGROUND
                # driver action in the round body gets its own bucket, so a
                # scaling decomposition can tell fixed per-round floor
                # (planning, job launch, serial actions — hits N and 4N
                # equally) apart from data-proportional parallel work.
                ph: dict[str, float] = {}
                _t = time.perf_counter()

                def _mark(name: str, t0: float = 0.0) -> float:
                    now = time.perf_counter()
                    ph[name] = ph.get(name, 0.0) + now - (t0 or _t)
                    return now

                if n_frontier <= 0:
                    break

                # 1) politeness dequeue (F3/F10): top-priority per host,
                #    deterministic carry-over instead of random backoff
                dequeued, carry = dequeue_per_host(
                    frontier, cfg.per_host_budget, self.robots
                )
                # With no budget and no robots the dequeue is the
                # identity split: dequeued IS the frontier (checkpoint/
                # parquet-backed already) and carry is a provable
                # limit(0). Skipping their persists — and every carry
                # plan node below — matters because Dataset.persist()
                # is NOT free on the driver: CacheManager compiles the
                # subtree's physical plan at registration (profiled at
                # ~0.4 s per call on the fixpoint shape, the single
                # largest driver-side bucket of the deep-BFS bench).
                identity_dequeue = (
                    cfg.per_host_budget is None and self.robots is None
                )
                if not identity_dequeue:
                    # intra-round reuse only — resume needs just the
                    # parquet artifacts (visited/edges/lineage/frontier_next)
                    dequeued = dequeued.persist()
                    carry = carry.persist()
                    live_caches += [dequeued, carry]

                # 2) mark visited BEFORE fetch (F5, `crawler.go:173`).
                #    The visited parquet write is a BACKGROUND action
                #    (joined before this round's manifest, so "manifest
                #    present = round complete" is untouched); the round
                #    body consumes the cached slice directly instead of
                #    the old write-then-reread barrier, which held the
                #    whole round behind a foreground parquet encode.
                visited_slice = dequeued.select(
                    "sitemap_id", "url", "host", "depth",
                    F.lit(round_no).alias("round"),
                )
                # Dequeue size: derived instead of counted where it
                # cannot differ from the (already counted) frontier —
                # no budget and no robots make the dequeue the identity
                # split — or where both are below EVERY size threshold,
                # so each size-based plan choice (broadcast-vs-shuffle
                # fetch, direct-vs-distributed absorb, overlap mode,
                # image bound) is identical either way. Only a fat
                # budgeted round pays a count job (which doubles as the
                # dequeue cache fill). The running _visited_total then
                # upper-bounds the true total when a budget binds —
                # it only gates the ADVISORY bloom engage threshold,
                # never a result.
                if cfg.per_host_budget is None and self.robots is None:
                    n_dequeued = n_frontier
                else:
                    bounds = [self.DIRECT_ABSORB_MAX]
                    if cfg.broadcast_fetch_max is not None:
                        bounds.append(cfg.broadcast_fetch_max)
                    if (
                        self.image_side is not None
                        and cfg.image_keys_broadcast_max is not None
                    ):
                        bounds.append(cfg.image_keys_broadcast_max)
                    if cfg.fetch_prune_broadcast_max is not None:
                        bounds.append(cfg.fetch_prune_broadcast_max)
                    if n_frontier <= min(bounds):
                        n_dequeued = n_frontier
                    else:
                        n_dequeued = dequeued.count()
                        _t = _mark("dequeue_count")
                visited_rounds = visited_rounds + [round_no]
                self._visited_rounds = visited_rounds
                # prior rounds come from parquet — join any still-running
                # visited writers first (they had a full round of overlap)
                for th in self._visited_write_threads:
                    th.join()
                self._visited_write_threads = []
                visited_prior = self._read_rounds(
                    "visited", visited_rounds[:-1]
                )
                visited = (
                    visited_prior.unionByName(visited_slice)
                    if visited_prior is not None
                    else visited_slice
                )
                visited_thread = _BgAction(
                    lambda df=visited_slice, rn=round_no: df.write.mode(
                        "overwrite"
                    ).parquet(self._ckpt(f"round={rn:05d}", "visited")),
                    sc=spark.sparkContext,
                )
                self._visited_write_threads.append(visited_thread)
                live_threads.append(visited_thread)
                npart_round = npart
                if cfg.adaptive_partitions:
                    # size the round's exchanges (candidate shuffle, final
                    # frontier repartition → parquet file count and the
                    # next round's scan/stage task counts) by data volume;
                    # n_dequeued × adaptive_fanout approximates the
                    # candidate volume (the round's biggest exchange) —
                    # see the CrawlConfig.adaptive_fanout note for the
                    # high-fanout failure shape this corrects
                    est_rows = max(n_dequeued, 1) * max(cfg.adaptive_fanout, 1.0)
                    npart_round = max(
                        min(npart, 8),
                        min(
                            npart,
                            int(-(-est_rows // cfg.rows_per_partition)),
                        ),
                    )
                    if npart_round != cur_sp:
                        spark.conf.set(
                            "spark.sql.shuffle.partitions", str(npart_round)
                        )
                        cur_sp = npart_round
                self._visited_total += n_dequeued
                bcast_fetch = (
                    cfg.broadcast_fetch_max is not None
                    and n_dequeued <= cfg.broadcast_fetch_max
                )
                image_thread = None
                if self.image_side is not None:
                    # decode+verify the image payload of this round's pages
                    # and append image rows (north_star: "fetch/decode, and
                    # append discovered edges plus image rows"). The bytes
                    # column flows scan → mapInPandas → per-round parquet,
                    # never through a shuffle: the corpus is pruned with a
                    # broadcast semi-join on the dequeued URLs first. The
                    # keys slice is urls-only (tens of bytes/row), so it
                    # stays broadcastable far past the point where the
                    # full fetch broadcast (urls + out_links) must fall
                    # back to a shuffle join — hence its own threshold.
                    # Past image_keys_broadcast_max (10^9-row dequeues),
                    # co-locate corpus and frontier by url bucket instead:
                    # a shuffle semi-join here would move `bytes`.
                    from .operators.multimodal import decode_verify

                    if not (
                        cfg.image_keys_broadcast_max is None
                        or n_dequeued <= cfg.image_keys_broadcast_max
                    ):
                        # hard bound, not a fallback: a shuffle semi-join
                        # here would move `bytes` (the invariant this block
                        # protects) and an unbounded broadcast would fail on
                        # Spark's broadcast limit / driver memory anyway —
                        # later, with a worse error. Fail now, with the fix.
                        raise RuntimeError(
                            f"dequeued {n_dequeued} rows exceed "
                            f"image_keys_broadcast_max="
                            f"{cfg.image_keys_broadcast_max}: the image-decode "
                            "prune is broadcast-only (a shuffle semi-join would "
                            "move the `bytes` column). Bucket the corpus by url "
                            "and co-locate the frontier for dequeues this "
                            "large, lower per_host_budget, or raise "
                            "image_keys_broadcast_max (None = unbounded) if "
                            "the driver can hold the key slice."
                        )
                    keys = F.broadcast(dequeued.select("url"))
                    img_pages = self.image_side.join(keys, "url", "left_semi")
                    image_rows = decode_verify(img_pages)
                    image_thread = _BgAction(
                        self._write, image_rows, round_no, "images",
                        sc=spark.sparkContext,
                    )
                    live_threads.append(image_thread)

                bloom_thread = None
                if cfg.use_bloom:
                    # incremental: only THIS round's URLs are hashed and
                    # tree-merged; the cumulative filter lives on the driver.
                    # Runs as a concurrent Spark action — overlaps with the
                    # fetch/extract/edges work below; joined before the
                    # candidate split needs the filter.
                    bloom_thread = _BgAction(
                        self._absorb_into_bloom, visited_slice, n_dequeued,
                        sc=spark.sparkContext,
                    )
                    live_threads.append(bloom_thread)

                # 3) fetch = corpus join (F6); null right side / status!=200
                #    = fetch error → no links, URL still visited.
                #    Fast path: broadcast-semi-join the corpus down to the
                #    dequeued slice first — the corpus only streams through a
                #    scan+filter (never shuffles), and the per-round fetch
                #    join broadcasts the small matched slice. At a 10^10-URL
                #    frontier where dequeued no longer fits a broadcast,
                #    disable via broadcast_fetch_max=None and bucket the
                #    corpus by url instead.
                if bcast_fetch:
                    keys = F.broadcast(dequeued.select(F.col("url").alias("_corpus_url")))
                    matched = self.fetch_side.join(keys, "_corpus_url", "left_semi")
                    fetched = dequeued.join(
                        F.broadcast(matched),
                        dequeued["url"] == matched["_corpus_url"],
                        "left",
                    )
                else:
                    # guide §3.2: before shuffling the corpus for the
                    # fetch join, drop its non-matching rows with a
                    # broadcast semi-join on the dequeued urls-only key
                    # slice — the exchange then carries O(dequeued)
                    # instead of O(corpus) rows. A LEFT join's result
                    # is unchanged by pruning right-side rows that
                    # cannot match. Past fetch_prune_broadcast_max the
                    # key slice itself is too big to broadcast: plain
                    # shuffle join (bucket the corpus by url there).
                    fetch_src = self.fetch_side
                    if (
                        cfg.fetch_prune_broadcast_max is not None
                        and n_dequeued <= cfg.fetch_prune_broadcast_max
                    ):
                        pk = F.broadcast(
                            dequeued.select(F.col("url").alias("_corpus_url"))
                        )
                        fetch_src = fetch_src.join(pk, "_corpus_url", "left_semi")
                    fetched = dequeued.join(
                        fetch_src,
                        dequeued["url"] == fetch_src["_corpus_url"],
                        "left",
                    )
                if cfg.use_html_extraction:
                    raw_links = F.when(
                        (F.col("status") == 200) & F.col("html").isNotNull()
                        & (F.col("html") != ""),
                        extract_links_udf(F.col("html")),
                    )
                else:
                    raw_links = F.when(
                        F.col("status") == 200, F.col("out_links")
                    )
                fetched = fetched.withColumn("_raw_links", raw_links)

                # 4) canonicalize against the POST-REDIRECT url (F7/F8,
                #    `crawler.go:176,193`)
                cleaned = fetched.withColumn(
                    "_links",
                    F.when(
                        F.col("_raw_links").isNotNull()
                        & (F.size("_raw_links") > 0),
                        clean_links_udf(
                            F.col("_raw_links"), F.col("root"), F.col("final_url")
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                ).persist()  # reused by edges + lineage; fetch/UDF run once
                live_caches.append(cleaned)

                # 5) edges (F9) — duplicates collapse like
                #    UpdateURLWithLinks' set-union (`sitemap.go:56-66`),
                #    WITHOUT a shuffle: (sitemap_id, url) is unique in
                #    `dequeued` (seed dropDuplicates + first-wins candidate
                #    dedup + carry anti-join — the F4 invariant), so edge
                #    duplicates can only arise WITHIN one page's link list
                #    (two raw hrefs canonicalizing to the same URL).
                #    array_distinct before the explode is therefore exactly
                #    equivalent to a global dropDuplicates(sitemap_id, src,
                #    dst) — which previously exchanged the whole exploded
                #    edge set (~5 GB/round at 4M-row rounds) for what is
                #    provably row-local work. Measured as part of the
                #    round-4 scaling fix (BENCH.md).
                #
                #    Write strategy is round-size-adaptive, like the fetch
                #    and absorb paths: SMALL rounds (≤ DIRECT_ABSORB_MAX,
                #    the fixpoint-floor regime) cache the dedup output and
                #    run the parquet write as a CONCURRENT action so the
                #    candidate chain reads the cache instead of waiting for
                #    write-then-reread — two fewer serial driver actions
                #    per round. FAT rounds write-then-reread as before:
                #    caching multi-GB edge sets alongside `cleaned` adds
                #    executor-memory pressure for a write whose cost is
                #    data-proportional anyway (BENCH.md §2.3/§3).
                overlap_writes = n_dequeued <= self.DIRECT_ABSORB_MAX
                edges_plan = cleaned.select(
                    "sitemap_id",
                    F.col("url").alias("src"),
                    F.explode(F.array_distinct("_links")).alias("dst"),
                    "depth",
                    F.lit(round_no).alias("round"),
                )

                # 6) lineage/metrics (F12 / crawl_jobs status rows) —
                #    written DISTRIBUTEDLY (never collected: at web scale
                #    there are 10^6-10^8 hosts per round; only the filtered
                #    hot-host sliver below ever reaches the driver).
                lineage_plan = (
                    cleaned.groupBy("sitemap_id", "host").agg(
                        F.count("*").alias("urls_dequeued"),
                        F.count(F.when(F.col("status") == 200, 1)).alias("fetched"),
                        F.count(
                            F.when(
                                F.col("status").isNull() | (F.col("status") != 200), 1
                            )
                        ).alias("errors"),
                        F.sum(F.size("_links")).cast("long").alias("links_found"),
                    ).select(
                        F.lit(round_no).alias("round"),
                        "sitemap_id", "host",
                        F.col("urls_dequeued").cast("long").alias("urls_dequeued"),
                        F.col("fetched").cast("long").alias("fetched"),
                        F.col("errors").cast("long").alias("errors"),
                        F.coalesce("links_found", F.lit(0)).cast("long").alias(
                            "links_found"
                        ),
                        F.lit("COMPLETE").alias("status"),
                    )
                )
                edges_thread = lineage_thread = None
                if overlap_writes or cfg.overlap_fat_writes:
                    # Overlapped rounds (small AND fat are now one
                    # path): both writes become concurrent actions over
                    # the cached `cleaned` slice; the candidate chain
                    # below derives from the SAME cache by the same
                    # row-local explode, so nothing waits on parquet.
                    # No extra persist: edges_plan is select/
                    # array_distinct/explode over `cleaned` —
                    # recomputing it in the write job costs one cheap
                    # row-local pass, not a re-run of the fetch/extract
                    # UDFs (those are upstream of the cache). (The old
                    # small-round path additionally persisted the
                    # exploded edges as the candidate source; the
                    # round-6 driver profile showed each persist() call
                    # costs ~0.4 s of CacheManager plan compilation —
                    # more than the row-local explode it saved.)
                    # Exchange widths can't race the adaptive conf
                    # retune: edges_plan has no exchange, and
                    # lineage_plan pins npart_round into its lambda
                    # (round-4 ADVICE). rn pinned as a default arg: the
                    # lambdas run on the background thread, and
                    # round_no is a loop variable the main thread
                    # increments — a by-reference capture could resolve
                    # to the NEXT round's number if the thread is slow
                    # to start (latent, never observed).
                    edges_new = None
                    edges_thread = _BgAction(
                        lambda df=edges_plan, rn=round_no: df.write.mode(
                            "overwrite"
                        ).parquet(self._ckpt(f"round={rn:05d}", "edges")),
                        sc=spark.sparkContext,
                    )
                    lineage_thread = _BgAction(
                        lambda df=lineage_plan, np=npart_round, rn=round_no: (
                            df.coalesce(np)
                            .write.mode("overwrite")
                            .parquet(self._ckpt(f"round={rn:05d}", "lineage"))
                        ),
                        sc=spark.sparkContext,
                    )
                    live_threads += [edges_thread, lineage_thread]
                else:
                    _t = time.perf_counter()
                    edges_new = self._write(edges_plan, round_no, "edges")
                    lineage_new = self._write(lineage_plan, round_no, "lineage")
                    _t = _mark("edges_lineage_write")

                # 7) candidates at depth+1, gated by per-sitemap max_depth
                #    (F2) and robots rules. Source: the written-and-reread
                #    edges when a foreground write produced them, else the
                #    cached `cleaned` slice via the identical row-local
                #    explode (same rows by construction — edges_plan IS
                #    that explode).
                if edges_new is not None:
                    cand_base = edges_new.select(
                        "sitemap_id",
                        F.col("dst").alias("url"),
                        (F.col("depth") + 1).alias("depth"),
                        F.col("src").alias("parent"),
                    )
                else:
                    cand_base = cleaned.select(
                        "sitemap_id",
                        F.explode(F.array_distinct("_links")).alias("url"),
                        (F.col("depth") + 1).alias("depth"),
                        F.col("url").alias("parent"),
                    )
                candidates = (
                    attach_max_depth(cand_base)
                    .filter(F.col("depth") < F.col("max_depth"))
                    .drop("max_depth")
                )
                # 8) first-wins dedup inside the round (F4 determinized):
                #    lexicographic min over stable keys — an aggregation
                #    (partial+final, map-side combine) instead of a window
                #    sort; parallelism-invariant. Shuffles only
                #    (sitemap_id, url, depth, parent): host/root are
                #    re-derived AFTER the shuffle (functionally determined),
                #    keeping the round's big exchange as narrow as possible.
                candidates = (
                    candidates.groupBy("sitemap_id", "url")
                    .agg(F.min(F.struct("depth", "parent")).alias("_m"))
                    .select(
                        "sitemap_id", "url",
                        F.col("_m.depth").alias("depth"),
                        F.col("_m.parent").alias("parent"),
                    )
                )
                candidates = attach_root(candidates)
                candidates = candidates.withColumn("host", _host_col(F.col("url")))
                candidates = apply_robots_gate(candidates, self.robots)

                # 9) seen-set dedup (F4): advisory Bloom pre-filter, exact
                #    anti-join confirm vs visited ∪ carried frontier
                candidates = candidates.withColumn(
                    "_h", url_hash_col(F.col("sitemap_id"), F.col("url"))
                )
                _t = time.perf_counter()
                if bloom_thread is not None:
                    bloom_thread.join()
                _t = _mark("bloom_join_wait")
                round_bcs: list = []  # filter broadcasts to destroy at round end
                split = None
                if cfg.use_bloom and self._visited_total >= cfg.bloom_min_visited:
                    if cfg.bloom_shards > 1 and self._bloom_shards is not None:
                        if cfg.seen_filter == "cuckoo":
                            from .operators.cuckoo import split_by_cuckoo_shards

                            split = split_by_cuckoo_shards(
                                candidates, "_h", self._bloom_shards,
                                cfg.bloom_shards, self._shard_cuckoo_buckets,
                            )
                        else:
                            split = split_by_bloom_shards(
                                candidates, "_h", self._bloom_shards,
                                cfg.bloom_shards, self._shard_m_bits, self._shard_k,
                            )
                    elif cfg.seen_filter == "cuckoo":
                        from .operators.cuckoo import split_by_cuckoo

                        if self._cuckoo is not None:  # may be degraded-off
                            split = split_by_cuckoo(
                                candidates, "_h", self._cuckoo, bc_out=round_bcs
                            )
                    elif cfg.bloom_shards == 1:
                        split = split_by_bloom(
                            candidates, "_h", self._bloom, bc_out=round_bcs
                        )
                if split is not None:
                    fresh, maybe_seen = split
                    confirmed = maybe_seen.join(
                        visited.select("sitemap_id", "url"),
                        ["sitemap_id", "url"],
                        "left_anti",
                    )
                    survivors = fresh.unionByName(confirmed)
                else:
                    survivors = candidates.join(
                        visited.select("sitemap_id", "url"),
                        ["sitemap_id", "url"],
                        "left_anti",
                    )
                # carried-frontier dedup: skipped outright when carry is
                # provably empty (identity dequeue) — one less anti-join
                # in every mega-shape round's plan. No persist: with the
                # heat scan now reading `cleaned`, the survivor chain
                # has exactly ONE consumer (the frontier plan below), so
                # a cache would pay CacheManager plan compilation for
                # zero reuse.
                if identity_dequeue:
                    survivors_base = survivors.drop("_h")
                else:
                    survivors_base = survivors.join(
                        carry.select("sitemap_id", "url"),
                        ["sitemap_id", "url"],
                        "left_anti",
                    ).drop("_h")
                live_bcs += round_bcs

                # 10) next frontier = carry-over ∪ survivors, salted where
                # hot. Heat is an aggregate-then-FILTER on the cached
                # `cleaned` slice; the hot sliver (O(hot hosts), never
                # O(hosts)) used to be COLLECTED to the driver to build
                # a literal isin() — one extra foreground job + plan per
                # round, pure fixpoint floor. It is now attached as a
                # broadcast LEFT join inside the frontier plan itself
                # (same rows: `_hot` non-null ⇔ host in the old
                # hot_hosts list), so the heat aggregate rides in the
                # frontier-materialization job instead of its own
                # driver round trip; a host that just expanded many
                # pages is about to produce many candidates.
                salt_src = survivors_base
                salt = F.lit(0)
                if cfg.hot_host_threshold is not None:
                    heat_df = (
                        (
                            cleaned.groupBy("host").agg(
                                F.sum(F.size("_links")).alias("_lf")
                            )
                            if (overlap_writes or cfg.overlap_fat_writes)
                            # legacy fat path: the (tiny, already-written)
                            # lineage parquet is cheaper to re-aggregate
                            # than the multi-GB cached slice
                            else lineage_new.groupBy("host").agg(
                                F.sum("links_found").alias("_lf")
                            )
                        )
                        .filter(F.col("_lf") > cfg.hot_host_threshold)
                        .select("host", F.lit(1).alias("_hot"))
                    )
                    salt_src = survivors_base.join(
                        F.broadcast(heat_df), "host", "left"
                    )
                    salt = F.when(
                        F.col("_hot").isNotNull(),
                        F.pmod(F.xxhash64(F.col("url")), F.lit(cfg.salt_buckets)),
                    ).otherwise(F.lit(0))
                priority = (
                    cfg.priority_fn()
                    if cfg.priority_fn is not None
                    else F.lit(0.0) - F.lit(cfg.priority_decay) * F.col("depth")
                )
                survivors = salt_src.select(
                    "sitemap_id",
                    "root",
                    "url",
                    "host",
                    F.xxhash64(F.col("host")).alias("host_hash"),
                    salt.cast("int").alias("salt"),
                    "depth",
                    priority.cast("double").alias("priority"),
                    "parent",
                    F.lit(round_no + 1).alias("round"),
                )
                # The frontier table's STORAGE partitioning is by
                # (host_hash, salt) per the north_rule — hot hosts spread
                # across salt buckets at rest. This is also the loop's ONLY
                # frontier repartition: the politeness windows and joins
                # shuffle on their own keys, so a round-start repartition
                # would be a second full-frontier exchange for nothing.
                fr_plan = (
                    survivors
                    if identity_dequeue  # carry provably empty
                    else carry.unionByName(survivors)
                ).repartition(npart_round, "host_hash", "salt")
                # Frontier HANDOFF: the frontier_next parquet write was the
                # last FOREGROUND write on the round's critical path (r4
                # decomp: 13-23 s/round at mega sizes). Materialize the
                # (repartitioned) frontier into the block-manager cache
                # instead — same exchange, no parquet encode on the
                # critical path — hand the cached DataFrame to the next
                # round's dequeue, and write the parquet in the BACKGROUND.
                # Durability semantics are unchanged: the write is joined,
                # and only then the manifest written, in the deferred tail
                # below — "manifest present = round complete" holds
                # exactly. localCheckpoint (NOT persist) is load-bearing:
                # the frontier plan contains the previous frontier TWICE
                # (under carry AND under survivors→dequeued), so chaining
                # cached plans grows lineage 2^rounds — localCheckpoint
                # truncates the logical plan to an in-memory scan, O(1)
                # lineage per round. Block durability is the parquet write;
                # a lost localCheckpoint block fails the round and resume
                # re-runs it from the manifest, same as any crash.
                frontier_thread = None
                fr_cached = None
                _t = time.perf_counter()
                if cfg.frontier_handoff:
                    # lazy localCheckpoint + count: ONE job both
                    # materializes the checkpoint blocks and returns the
                    # next round's frontier size — replacing the eager
                    # materialization job PLUS the next loop-top
                    # isEmpty() probe job (round-5 verdict #2).
                    fr_cached = fr_plan.localCheckpoint(eager=False)
                    live_caches.append(fr_cached)
                    n_frontier = fr_cached.count()
                    frontier_thread = _BgAction(
                        self._write, fr_cached, round_no, "frontier_next",
                        sc=spark.sparkContext,
                    )
                    live_threads.append(frontier_thread)
                    frontier = fr_cached
                else:
                    frontier = self._write(fr_plan, round_no, "frontier_next")
                    n_frontier = frontier.count()  # parquet metadata count
                _t = _mark("frontier_materialize")
                heavy_tail = {
                    "threads": [
                        th
                        for th in (
                            seed_write_thread,  # joined with round 0's
                            # tail — BEFORE round 0's manifest can exist
                            visited_thread, edges_thread, lineage_thread,
                            image_thread,
                        )
                        if th is not None
                    ],
                    # (seed thread rides in round 0's tail only). The
                    # frontier this round consumed is released only
                    # here, after the writes that read it are joined.
                    "unpersist": [cleaned]
                    + ([] if identity_dequeue else [dequeued, carry])
                    + ([frontier_ckpt] if frontier_ckpt is not None else []),
                    "bcs": round_bcs,
                    "round_no": round_no,
                    "manifest": None,  # manifest travels with the light tail
                }
                seed_write_thread = None  # consumed by round 0's tail
                frontier_ckpt = fr_cached
                light_tail = {
                    "threads": [frontier_thread] if frontier_thread else [],
                    "unpersist": [],
                    "bcs": [],
                    "round_no": round_no,
                    "manifest": {
                        "round": round_no,
                        "visited_rounds": visited_rounds,
                        "sitemap_ids": sitemap_ids,
                    },
                }
                _t = time.perf_counter()
                if pending_tail is not None:
                    # the PREVIOUS round settles only now — its write tail
                    # rode under this whole round's compute
                    settle_tail(pending_tail)
                    pending_tail = None
                _t = _mark("settle_prev_tail")
                if overlap_writes and cfg.pipeline_rounds:
                    # small rounds: defer everything to the next round end
                    pending_tail = {
                        "threads": heavy_tail["threads"] + light_tail["threads"],
                        "unpersist": heavy_tail["unpersist"]
                        + light_tail["unpersist"],
                        "bcs": round_bcs,
                        "round_no": round_no,
                        "manifest": light_tail["manifest"],
                    }
                else:
                    # fat rounds: big writes + caches settle inline (two
                    # rounds of multi-GB caches won't fit), but the
                    # frontier write + manifest still ride under the next
                    # round's compute
                    _t = time.perf_counter()
                    settle_tail(heavy_tail)
                    _t = _mark("settle_heavy_tail")
                    pending_tail = light_tail
                if cfg.verbose:
                    total = time.perf_counter() - t_round
                    # `plan_build` = wall not inside any driver action:
                    # Catalyst analysis, py4j round trips, python plan
                    # construction — the pure fixed floor
                    ph["plan_build"] = total - sum(ph.values())
                    phases = " ".join(
                        f"{k}={v:.2f}" for k, v in ph.items() if v >= 0.005
                    )
                    print(
                        f"[crawl] round {round_no}: visited_total="
                        f"{self._visited_total} "
                        f"{total:.2f}s | {phases}",
                        flush=True,
                    )
                round_no += 1
            if pending_tail is not None:  # loop exited: settle the last round
                settle_tail(pending_tail)
                pending_tail = None
            # the frontier no round consumed (the last one, or the seeds
            # when no round ran), after the write that reads it
            settle_tail({
                "threads": [seed_write_thread] if seed_write_thread else [],
                "unpersist": [frontier_ckpt] if frontier_ckpt is not None else [],
                "bcs": [],
                "round_no": round_no,
                "manifest": None,
            })
        except BaseException:
            # Exceptional exit: settle everything still live so a failed
            # round never leaves a writer thread racing session teardown
            # or leaks caches/filter broadcasts into a shared session
            # (round-5 verdict #4 + ADVICE #1). Best-effort — the
            # original exception is what propagates; NO manifest is
            # written here, so an interrupted round stays incomplete and
            # resume re-runs it deterministically.
            for th in live_threads:
                try:
                    th.thread.join()
                except Exception:  # noqa: BLE001
                    pass
            for df in live_caches:
                try:
                    _unpersist(df)
                except Exception:  # noqa: BLE001
                    pass
            for bc in live_bcs:
                try:
                    bc.destroy()
                except Exception:  # noqa: BLE001
                    pass
            raise
        finally:
            # undo adaptive retuning on EVERY exit, including
            # exceptional ones (a mid-run RuntimeError — e.g. the
            # image_keys_broadcast_max bound — or a failed Spark job
            # must not leave a shared/external session clamped as
            # low as 8 shuffle partitions; round-4 ADVICE)
            if str(cur_sp) != orig_sp:
                spark.conf.set("spark.sql.shuffle.partitions", orig_sp)

        # the filter now reflects the full visited table: a later
        # expire() can delete from it in place and run(resume=True)
        # will reuse it instead of rebuilding (cuckoo's raison d'être)
        self._filter_ready = cfg.use_bloom
        visited = self._read_rounds("visited", visited_rounds)
        edges = self._read_rounds("edges", visited_rounds)
        lineage = self._read_rounds("lineage", visited_rounds)
        empty = self.spark.createDataFrame([], FRONTIER_SCHEMA)
        if visited is None:  # nothing was ever crawlable
            visited = empty.select("sitemap_id", "url", "host", "depth", "round")
            edges = empty.select(
                "sitemap_id", F.col("url").alias("src"),
                F.col("url").alias("dst"), "depth", "round",
            )
            lineage = None
        return CrawlResult(
            sitemap_ids=sitemap_ids,
            rounds=round_no,
            visited=visited,
            edges=edges,
            lineage=lineage,
            checkpoint_dir=self._dir,
        )
