"""The benchmark's workloads: input generation, one timed pass, and the
output check for each.

A workload owns these steps, all driven by ``run.py``:

* ``generate(spark)`` writes its inputs under the work directory, in a
  directory keyed by every parameter that changes them (seed, page and
  host counts);
* ``open(spark)`` is the program's own set-up over those inputs
  (read, count, build the seeds) and is timed as part of ``setup_s``;
* ``reset()`` removes the previous pass's crawl state (untimed);
* ``run_pass(spark, tracer)`` is one timed pass through the public API;
* ``check(spark, out)`` compares the pass's outputs with an oracle
  computed from the raw inputs, and checks that the engine paths the
  workload is meant to time did run.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from collections import defaultdict
from itertools import combinations

import numpy as np

# bench.py's corpus parameters (`ensure_corpus`), so a page count of
# 200_000 at seed 42 is the r01-r06 "mega"/"deep" input
CORPUS_ARGS = dict(
    n_hosts=64, links_per_page=8, cross_host_fraction=0.15,
    error_fraction=0.02, with_images=True, img_w=16, img_h=12,
)
BENCH_PAGES = 200_000  # the page count bench.py's thresholds were set for
SEEDS_PER_HOST = 4
RECRAWL_HOSTS = 3  # select_stale(hosts=...) takes this many hottest hosts
NEARDUP_QUERIES = (
    "minhash_near_dup", "simhash_dup_pairs", "srp_near_dup_prod",
    "image_near_dup",
)
# the documents vocabulary of the driver's sf0.1 tables
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def sha_rows(rows) -> str:
    """sha256 over the sorted, tab-joined rows."""
    h = hashlib.sha256()
    for r in sorted(tuple(str(x) for x in r) for r in rows):
        h.update("\t".join(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def _rows(df, cols=None) -> list[tuple]:
    if cols is not None:
        df = df.select(*cols)
    return [tuple(r) for r in df.toPandas().itertuples(index=False)]


def _host(url: str) -> str:
    """The engine's host column (``engine._host_col``) in Python."""
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*)", url)
    return m.group(1) if m else ""


def _round_dirs(ckpt: str, name: str) -> list[str]:
    return sorted(
        os.path.join(ckpt, d, name) for d in os.listdir(ckpt)
        if d.startswith("round=") and os.path.isdir(os.path.join(ckpt, d, name))
    )


class Crawl:
    """A deep BFS crawl of a synthetic Zipf 64-host corpus, then a recrawl
    of its hottest hosts.

    Seeds are the SEEDS_PER_HOST smallest URLs of each host, under
    bench.py's per-host budget, with the corpus pinned and the sharded
    cuckoo seen filter. After the forward rounds each pass calls
    ``select_stale(hosts=<the RECRAWL_HOSTS hosts with most visited
    URLs>)``, ``expire`` of that cohort and ``run(seeds, resume=True)``:
    state rewrites beside the forward rounds' reads. The expected end
    state follows from a driver-side BFS: the same visited rows except
    that the cohort's ``round`` moves to the resumed round, and the same
    edges multiset.

    The bloom and hot-host thresholds follow the page count, so that the
    filter split and hot-host salting engage inside ``run`` at these
    sizes; ``check`` asserts that both did. bench.py's bloom threshold
    (10k visited at 200k pages) is scaled by pages / 200k. Its 20k-link
    hot-host threshold scaled the same way is never reached, so the
    threshold here is pages / 100: the hottest host found 68 links in
    round 1 of a 3k-page depth-3 crawl (the last round whose links are
    followed).
    """

    kind = "crawl"
    SHARDS = 2

    def __init__(self, work: str, seed: int, pages: int, depth: int):
        self.seed, self.pages, self.depth = seed, pages, depth
        self.key = f"p{pages}_h{CORPUS_ARGS['n_hosts']}_s{seed}"
        self.inputs = os.path.join(work, "inputs", self.key)
        self.corpus_dir = os.path.join(self.inputs, "corpus")
        self.ckpt = os.path.join(work, "ckpt")
        self.engine = None
        self.result = None

    def config(self):
        from sitemapper_spark.engine import CrawlConfig

        return CrawlConfig(
            max_depth=self.depth, per_host_budget=50_000,
            checkpoint_dir=self.ckpt, use_bloom=True,
            bloom_min_visited=self.bloom_min_visited(),
            hot_host_threshold=max(1, self.pages // 100), salt_buckets=8,
            decode_verify_images=True, corpus_cache_min_depth=self.depth,
            # the filter is sized for the corpus, not bench.py's 2M URLs
            seen_filter="cuckoo", bloom_shards=self.SHARDS,
            bloom_expected_urls=4 * self.pages,
        )

    def bloom_min_visited(self) -> int:
        return max(1, 10_000 * self.pages // BENCH_PAGES)

    def input_sizes(self) -> dict:
        """Corpus bytes on disk against the engine's corpus cache cap."""
        from sitemapper_spark.engine import CrawlConfig

        size = sum(
            os.path.getsize(os.path.join(d, n))
            for d, _, names in os.walk(self.corpus_dir) for n in names
        )
        return {"corpus_bytes": size,
                "corpus_cache_max_bytes": CrawlConfig.corpus_cache_max_bytes}

    def generate(self, spark) -> None:
        """Fresh inputs every run: a run never times another run's files."""
        from sitemapper_spark.corpus import synth_corpus

        shutil.rmtree(self.inputs, ignore_errors=True)
        synth_corpus(
            spark, n_pages=self.pages, seed=self.seed, **CORPUS_ARGS
        ).write.mode("overwrite").parquet(self.corpus_dir)

    def open(self, spark) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        self.corpus = spark.read.parquet(self.corpus_dir)
        self.corpus_rows = self.corpus.count()
        # one seed per host (bench.py) makes the visited count swing ~15%
        # with the seed at these corpus sizes; four keep it within ~7%
        first = F.row_number().over(Window.partitionBy("host").orderBy("url"))
        self.seeds = [
            (r["url"], f"bench-{r['host']}", self.depth, 0.0)
            for r in self.corpus.select("host", "url", first.alias("_n"))
            .filter(F.col("_n") <= SEEDS_PER_HOST).collect()
        ]

    def prepare_check(self) -> None:
        """Driver-side BFS over the raw corpus: the expected visited and
        edges rows. Canonicalization is the reference port
        ``urlnorm.clean_links``; the frontier, depth gate, dedup and seen
        logic here is independent of the engine's."""
        from sitemapper_spark.urlnorm import clean_links

        pages = {
            r["url"]: (r["status"], r["final_url"], r["out_links"])
            for r in self.corpus.select(
                "url", "status", "final_url", "out_links"
            ).collect()
        }
        sitemaps: dict[str, list] = defaultdict(list)
        for url, sm, max_depth, _ in self.seeds:
            sitemaps[sm].append((url, max_depth))
        visited, edges = [], []
        for sm, rows in sitemaps.items():
            max_depth = max(d for _, d in rows)
            level = sorted({u.lower() for u, _ in rows})
            root = level[0]
            seen: set[str] = set()
            depth = 0
            while level and depth < max_depth:
                seen.update(level)
                nxt: set[str] = set()
                for url in level:
                    visited.append((sm, url, depth, depth))
                    status, final_url, links = pages.get(url, (None, None, None))
                    if status != 200 or not links:
                        continue
                    out = list(dict.fromkeys(
                        clean_links(list(links), root, final_url)
                    ))
                    edges.extend((sm, url, dst) for dst in out)
                    nxt.update(u for u in out if u not in seen)
                level = sorted(nxt)
                depth += 1
        hosts: dict[str, int] = defaultdict(int)
        for _, url, _, _ in visited:
            hosts[_host(url)] += 1
        self.hot_hosts = sorted(hosts, key=lambda h: (-hosts[h], h))[:RECRAWL_HOSTS]
        self.cohort = {(sm, url) for sm, url, _, _ in visited
                       if _host(url) in self.hot_hosts}
        self.bfs_visited = visited
        self.expected = {
            "visited": len(visited), "edges": len(edges),
            "edges_sha": sha_rows(edges), "cohort": len(self.cohort),
        }
        self.first_images_sha = None

    def reset(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def run_pass(self, spark, tracer) -> dict:
        from sitemapper_spark.engine import CrawlEngine

        self.engine = CrawlEngine(spark, self.corpus, self.config())
        with tracer.span("engine.run"):
            self.result = self.engine.run(self.seeds)
        with tracer.span("engine.count"):
            visited = self.result.visited.count()
            edges = self.result.edges.count()
        forward_rounds = self.result.rounds
        with tracer.span("engine.select_stale"):
            cohort = self.engine.select_stale(hosts=self.hot_hosts)
        with tracer.span("engine.expire"):
            expired = self.engine.expire(cohort)
        with tracer.span("engine.resume"):
            self.result = self.engine.run(self.seeds, resume=True)
        with tracer.span("engine.count"):
            visited_after = self.result.visited.count()
            edges_after = self.result.edges.count()
        return {"items": visited, "visited": visited, "edges": edges,
                "expired": expired, "visited_after": visited_after,
                "edges_after": edges_after, "forward_rounds": forward_rounds,
                "rounds": self.result.rounds}

    def images(self, spark):
        """Decode-verify rows of the checkpoint, without the columns that
        say when a page was fetched."""
        df = spark.read.parquet(*_round_dirs(self.ckpt, "images"))
        return df.drop(*[c for c in ("depth", "round") if c in df.columns])

    def engaged(self, spark) -> dict:
        """Did the filter split and hot-host salting run inside ``run``?
        The engine splits round r's candidates by the filter once the
        visited total through round r reaches ``bloom_min_visited``; a
        round that is not the last produced candidates. The count is
        taken after the recrawl moved the cohort to the last round, so it
        can only undercount. Salted frontier rows carry ``salt`` > 0 in
        the checkpoint. The filter kind is in the checkpoint's
        FILTER_META.json."""
        from pyspark.sql import functions as F

        per_round = dict(
            self.result.visited.groupBy("round").count().collect()
        )
        rounds = sorted(per_round)
        total, bloom_rounds = 0, 0
        for r in rounds[:-1]:
            total += per_round[r]
            bloom_rounds += total >= self.bloom_min_visited()
        salted = spark.read.parquet(
            *_round_dirs(self.ckpt, "frontier_next")
        ).filter(F.col("salt") > 0).count()
        with open(os.path.join(self.ckpt, "bloom_shards", "FILTER_META.json")) as f:
            meta = json.load(f)
        return {"bloom_rounds": bloom_rounds, "salted_rows": salted,
                "filter": f"{meta.get('seen_filter')}/{meta.get('n_shards')}"}

    def fingerprint(self, spark) -> dict:
        v = self.result.visited.select("sitemap_id", "url", "depth", "round")
        e = self.result.edges.select("sitemap_id", "src", "dst")
        images = self.images(spark)
        return {
            "visited_sha": sha_rows(_rows(v)),
            "edges_sha": sha_rows(_rows(e)),
            "images": images.count(),
            "images_sha": sha_rows(_rows(images)),
            **self.engaged(spark),
        }

    def check(self, spark, out: dict) -> tuple[bool, dict]:
        fp = self.fingerprint(spark)
        exp = self.expected
        if self.first_images_sha is None:
            self.first_images_sha = fp["images_sha"]
        resumed = out["forward_rounds"]
        after = [
            (sm, url, depth, resumed if (sm, url) in self.cohort else rnd)
            for sm, url, depth, rnd in self.bfs_visited
        ]
        ok = (
            out["visited"] == exp["visited"]
            and out["edges"] == exp["edges"]
            and out["expired"] == exp["cohort"]
            and out["rounds"] > resumed
            and out["visited_after"] == exp["visited"]
            and out["edges_after"] == exp["edges"]
            and fp["visited_sha"] == sha_rows(after)
            and fp["edges_sha"] == exp["edges_sha"]
            # one decode-verify row per visited page, the same every pass
            and fp["images"] == exp["visited"]
            and fp["images_sha"] == self.first_images_sha
            and fp["bloom_rounds"] > 0
            and fp["salted_rows"] > 0
            # the resumed run probed the sharded cuckoo filter expire rewrote
            and fp["filter"] == f"cuckoo/{self.SHARDS}"
        )
        return ok, fp

    def release(self, spark) -> None:
        if self.engine is not None:
            self.engine.release_corpus_pins()
        spark.catalog.clearCache()


def gen_documents(n: int, seed: int):
    """Word-salad documents over the sf0.1 vocabulary, with planted exact
    (1%) and near (2%) duplicates — the driver tables' dup structure."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i % 100 == 1:  # exact dup of the previous document
            texts.append(texts[-1])
            continue
        if i % 50 == 2:  # near dup: 10% of the previous document's words
            words = texts[-1].split()
            for _ in range(max(1, len(words) // 10)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = [str(w) for w in rng.choice(VOCAB, size=int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([("en", "de", "fr", "es", "zh")[i % 5] for i in range(n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_embeddings(n: int, seed: int, dim: int = 64):
    """Near-orthogonal gaussian vectors, as in the driver tables."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 1)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^0-9a-z]+", text.lower()) if t]


class NearDup:
    """The four near-dup pipelines of ``queries.all_queries()`` over a
    generated documents + embeddings table pair."""

    kind = "neardup"

    def __init__(self, work: str, seed: int, docs: int, embs: int):
        self.seed, self.docs, self.embs = seed, docs, embs
        self.key = f"d{docs}_e{embs}_s{seed}"
        self.inputs = os.path.join(work, "inputs", self.key)
        self.frames: dict = {}

    def input_sizes(self) -> dict:
        return {n: os.path.getsize(os.path.join(self.inputs, n))
                for n in ("documents.parquet", "embeddings.parquet")}

    def generate(self, spark) -> None:
        import pyarrow.parquet as pq

        shutil.rmtree(self.inputs, ignore_errors=True)
        os.makedirs(self.inputs)
        pq.write_table(gen_documents(self.docs, self.seed),
                       os.path.join(self.inputs, "documents.parquet"))
        pq.write_table(gen_embeddings(self.embs, self.seed),
                       os.path.join(self.inputs, "embeddings.parquet"))

    def open(self, spark) -> None:
        from sitemapper_spark import queries

        self.registry = queries.all_queries()
        self.doc_rows = spark.read.parquet(
            os.path.join(self.inputs, "documents.parquet")).count()
        self.emb_rows = spark.read.parquet(
            os.path.join(self.inputs, "embeddings.parquet")).count()

    def prepare_check(self) -> None:
        """Exact pair sets from the inputs: all-pairs 3-gram Jaccard >= 0.5
        (via a shingle index), identical token bags among documents and
        their reversed twins, and the planted (id, id + 100000) twins of
        the SRP and image pipelines."""
        import pyarrow.parquet as pq

        texts = pq.read_table(
            os.path.join(self.inputs, "documents.parquet")
        ).column("text").to_pylist()
        toks = [_tokens(t) for t in texts]
        shingles = [
            {" ".join(t[i:i + 3]) for i in range(len(t) - 2)} if len(t) >= 3
            else {" ".join(t)}
            for t in toks
        ]
        index: dict[str, list[int]] = defaultdict(list)
        for d, sh in enumerate(shingles):
            for s in sh:
                index[s].append(d)
        cands = {p for ids in index.values() for p in combinations(ids, 2)}
        minhash = [
            (a, b) for a, b in cands
            if 2 * len(shingles[a] & shingles[b]) >= len(shingles[a] | shingles[b])
        ]
        bags: dict[tuple, list[int]] = defaultdict(list)
        for d, t in enumerate(toks):
            bags[tuple(sorted(t))] += [d, d + 100000]
        simhash = [p for ids in bags.values() for p in combinations(sorted(ids), 2)]
        twins_docs = [(d, d + 100000) for d in range(len(texts))]
        twins_embs = [(v, v + 100000) for v in range(self.emb_rows)]
        self.expected = {
            name: {"pairs": len(p), "sha": sha_rows(p)}
            for name, p in zip(
                NEARDUP_QUERIES, (minhash, simhash, twins_embs, twins_docs)
            )
        }

    def reset(self) -> None:
        pass

    def run_pass(self, spark, tracer) -> dict:
        out = {"items": self.doc_rows, "pipelines": {}}
        self.frames = {}
        for name in NEARDUP_QUERIES:
            t0 = time.perf_counter()
            with tracer.span(f"queries.{name}"):
                df = self.registry[name](spark, self.inputs).select(
                    "id_a", "id_b"
                )
                rows = df.collect()
            out["pipelines"][name] = {
                "s": time.perf_counter() - t0,
                "pairs": [(int(r[0]), int(r[1])) for r in rows],
            }
            self.frames[name] = df
        return out

    def check(self, spark, out: dict) -> tuple[bool, dict]:
        fp = {}
        ok = True
        for name, res in out["pipelines"].items():
            pairs = res.pop("pairs")
            fp[name] = {"pairs": len(pairs), "sha": sha_rows(pairs)}
            ok = ok and fp[name] == self.expected[name]
        return ok, fp

    def release(self, spark) -> None:
        self.frames = {}
        spark.catalog.clearCache()
