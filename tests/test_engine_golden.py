"""Golden end-to-end crawl: the Spark engine against the reference's own
integration fixture (`crawler_test.go:37-106`) — testsite replica corpus,
maxDepth=5, output must equal the golden adjacency exactly. The golden is
vendored as `tests/fixtures/integration_test_results.json`, built from the
FIXTURES.md §2 table (the reference's `internal/testdata/` file of the same
name). Plus binding-depth BFS cases the reference leaves undefined
(our deterministic generalization: min-depth, first-wins)."""

import json
from pathlib import Path

import pytest

from sitemapper_spark import corpus as corpus_mod
from sitemapper_spark.engine import CrawlConfig, CrawlEngine

GOLDEN = Path(__file__).parent / "fixtures" / "integration_test_results.json"
REFERENCE_TESTDATA = Path("/root/reference/sitemapper/internal/testdata")
ROOT = corpus_mod.testsite_root()


@pytest.mark.skipif(
    not REFERENCE_TESTDATA.is_dir(), reason="reference test data not present"
)
def test_vendored_golden_matches_reference():
    # drift guard for the vendored copy; runs no Spark job
    original = REFERENCE_TESTDATA / GOLDEN.name
    assert json.load(open(GOLDEN)) == json.load(open(original))


def run_crawl(spark, max_depth, tmp_path, use_html, budget=None):
    corpus = corpus_mod.testsite_corpus(spark)
    cfg = CrawlConfig(
        max_depth=max_depth,
        use_html_extraction=use_html,
        per_host_budget=budget,
        checkpoint_dir=str(tmp_path / f"ckpt_d{max_depth}_{use_html}_{budget}"),
        use_bloom=False,
        num_partitions=4,
    )
    engine = CrawlEngine(spark, corpus, cfg)
    return engine.run([(ROOT, "run1", max_depth, 0.0)])


@pytest.fixture(scope="module")
def golden_crawl(spark, tmp_path_factory):
    """The maxDepth-5 ``use_html=False`` crawl, shared by the tests that
    assert different things about it."""
    return run_crawl(spark, 5, tmp_path_factory.mktemp("golden"), False)


@pytest.mark.parametrize("use_html", [False, True])
def test_golden_maxdepth5(spark, tmp_path, request, use_html):
    golden = json.load(open(GOLDEN))
    result = (
        run_crawl(spark, 5, tmp_path, use_html)
        if use_html
        else request.getfixturevalue("golden_crawl")
    )
    assert result.adjacency_dict("run1") == golden


def test_golden_json_output_shape(golden_crawl):
    golden = json.load(open(GOLDEN))
    obj = golden_crawl.to_json_obj("run1")
    assert obj["Count"] == len(golden)
    assert {r["URL"]: r["Links"] for r in obj["Results"]} == golden


def test_depth1_only_seed_visited(spark, tmp_path):
    # Reference default depth=1 (`cmd/standalone/sitemapper.go:21`):
    # only the seed is fetched; its links are recorded but not visited.
    result = run_crawl(spark, 1, tmp_path, use_html=False)
    adj = result.adjacency_dict("run1")
    assert adj == {
        ROOT: [
            f"{ROOT}/aubergine",
            f"{ROOT}/biscuit/pomegranate.html",
            f"{ROOT}/tomato.html",
        ]
    }


def test_depth2_bfs_frontier(spark, tmp_path):
    result = run_crawl(spark, 2, tmp_path, use_html=False)
    adj = result.adjacency_dict("run1")
    # depth 0: root; depth 1: aubergine, pomegranate, tomato — all
    # visited; their links recorded; depth-2 pages never visited.
    assert set(adj) == {
        ROOT,
        f"{ROOT}/aubergine",
        f"{ROOT}/biscuit/pomegranate.html",
        f"{ROOT}/tomato.html",
    }
    assert adj[f"{ROOT}/aubergine"] == [
        f"{ROOT}/aubergine/cabbage/banana.html",
        f"{ROOT}/biscuit/pomegranate.html",
        f"{ROOT}/kiwi.html",
    ]
    assert adj[f"{ROOT}/tomato.html"] == [
        f"{ROOT}/aubergine/lemon.html",
        f"{ROOT}/tomato.html",
    ]


def test_depth0_crawls_nothing(spark, tmp_path):
    result = run_crawl(spark, 0, tmp_path, use_html=False)
    assert result.adjacency_dict("run1") == {}


def test_visited_depths_are_minimal(golden_crawl):
    depths = {
        r["url"]: r["depth"] for r in golden_crawl.visited.collect()
    }
    assert depths[ROOT] == 0
    assert depths[f"{ROOT}/aubergine"] == 1
    assert depths[f"{ROOT}/tomato.html"] == 1
    assert depths[f"{ROOT}/kiwi.html"] == 2
    assert depths[f"{ROOT}/aubergine/cabbage/banana.html"] == 2
    # lemon is linked from tomato (depth 1) → BFS-minimal depth 2
    assert depths[f"{ROOT}/aubergine/lemon.html"] == 2


def test_politeness_budget_conservation(spark, tmp_path):
    # budget 1/host/round: same final adjacency, more rounds, and no
    # round dequeues more than 1 URL for the single testsite host.
    golden = json.load(open(GOLDEN))
    result = run_crawl(spark, 5, tmp_path, use_html=False, budget=1)
    assert result.adjacency_dict("run1") == golden
    assert result.rounds >= 7  # one URL per round for 7 pages
    per_round = {
        (r["round"], r["host"]): r["urls_dequeued"]
        for r in result.lineage.collect()
    }
    assert all(v <= 1 for v in per_round.values())


def test_multi_seed_isolation(spark, tmp_path):
    corpus = corpus_mod.testsite_corpus(spark)
    cfg = CrawlConfig(
        max_depth=5,
        checkpoint_dir=str(tmp_path / "multi"),
        use_bloom=False,
        num_partitions=4,
    )
    engine = CrawlEngine(spark, corpus, cfg)
    result = engine.run(
        [(ROOT, "a", 5, 0.0), (f"{ROOT}/tomato.html", "b", 2, 0.0)]
    )
    golden = json.load(open(GOLDEN))
    assert result.adjacency_dict("a") == golden
    adj_b = result.adjacency_dict("b")
    # seed tomato at depth 0, lemon at depth 1; lemon's links recorded
    assert set(adj_b) == {f"{ROOT}/tomato.html", f"{ROOT}/aubergine/lemon.html"}


def test_corpus_pins_engage_and_release(spark, tmp_path):
    """Round-6: fixpoint-shaped runs (max_depth >= corpus_cache_min_depth)
    over a local parquet corpus pin the fetch/image projections
    MEMORY_AND_DISK; results are identical to the uncached run and
    release_corpus_pins() drops the registration."""
    src = corpus_mod.testsite_corpus(spark)
    pq = str(tmp_path / "pin_corpus")
    src.write.mode("overwrite").parquet(pq)
    corpus = spark.read.parquet(pq)

    def run(tag, min_depth):
        cfg = CrawlConfig(
            max_depth=5,
            use_html_extraction=False,
            checkpoint_dir=str(tmp_path / f"ckpt_pin_{tag}"),
            use_bloom=False,
            num_partitions=4,
            corpus_cache_min_depth=min_depth,
        )
        eng = CrawlEngine(spark, corpus, cfg)
        res = eng.run([(ROOT, "run1", 5, 0.0)])
        rows = sorted(
            (r["url"], r["depth"]) for r in res.visited.collect()
        )
        return eng, rows

    eng_pin, rows_pin = run("on", 4)
    assert eng_pin._corpus_pins, "pin did not engage on a local parquet corpus"
    assert all(
        df.storageLevel.useMemory for df in eng_pin._corpus_pins
    )
    eng_off, rows_off = run("off", None)
    assert not eng_off._corpus_pins
    assert rows_pin == rows_off and rows_pin
    eng_pin.release_corpus_pins()
    assert not eng_pin._corpus_pins
