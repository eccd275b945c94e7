"""Checkpoint/resume: a crawl killed mid-flight resumes from the last
complete round manifest and produces the identical final state
(reference analog: the crawl_jobs status machine re-drives incomplete
work, `crawlmanager.go:76-96`). The completed crawl is compared with the
golden adjacency vendored as `tests/fixtures/integration_test_results.json`
(FIXTURES.md §2)."""

import json
from pathlib import Path

from sitemapper_spark import corpus as corpus_mod
from sitemapper_spark.engine import CrawlConfig, CrawlEngine

GOLDEN = Path(__file__).parent / "fixtures" / "integration_test_results.json"
ROOT = corpus_mod.testsite_root()


def _cfg(tmp_path, name, **kw):
    return CrawlConfig(
        max_depth=5,
        checkpoint_dir=str(tmp_path / name),
        use_bloom=False,
        num_partitions=4,
        **kw,
    )


def test_resume_after_partial_run(spark, tmp_path):
    corpus = corpus_mod.testsite_corpus(spark)
    seeds = [(ROOT, "run1", 5, 0.0)]

    # simulate a crash: only 2 rounds complete, then the driver dies
    partial_cfg = _cfg(tmp_path, "shared", max_rounds=2)
    partial = CrawlEngine(spark, corpus, partial_cfg).run(seeds)
    assert partial.rounds == 2
    assert len(partial.adjacency_dict("run1")) < 7  # genuinely incomplete

    # resume from the same checkpoint dir — must complete to the golden
    resume_cfg = _cfg(tmp_path, "shared")
    resumed = CrawlEngine(spark, corpus, resume_cfg).run(seeds, resume=True)
    golden = json.load(open(GOLDEN))
    assert resumed.adjacency_dict("run1") == golden

    # visited rounds must be continuous and depths minimal (no rework):
    # the 7 pages arrive over exactly rounds 0..2 (BFS radius 2)
    rounds = sorted({r["round"] for r in resumed.visited.collect()})
    assert rounds == [0, 1, 2]


def test_resume_equals_uninterrupted(spark, tmp_path):
    corpus = corpus_mod.testsite_corpus(spark)
    seeds = [(ROOT, "run1", 5, 0.0)]

    straight = CrawlEngine(spark, corpus, _cfg(tmp_path, "straight")).run(seeds)

    CrawlEngine(spark, corpus, _cfg(tmp_path, "two_phase", max_rounds=1)).run(seeds)
    resumed = CrawlEngine(spark, corpus, _cfg(tmp_path, "two_phase")).run(
        seeds, resume=True
    )

    def state(res):
        vis = {(r["url"], r["depth"]) for r in res.visited.collect()}
        return vis, res.adjacency_dict("run1")

    assert state(straight) == state(resumed)


def test_manifest_written_per_round(spark, tmp_path):
    corpus = corpus_mod.testsite_corpus(spark)
    cfg = _cfg(tmp_path, "manifests")
    res = CrawlEngine(spark, corpus, cfg).run([(ROOT, "run1", 5, 0.0)])
    for r in range(res.rounds):
        mf = tmp_path / "manifests" / f"round={r:05d}" / "MANIFEST.json"
        assert mf.exists()
        payload = json.loads(mf.read_text())
        assert payload["round"] == r
