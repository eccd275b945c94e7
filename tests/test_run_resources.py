"""What a crawl run owns it settles: background writes are joined and
their failures raised, and round caches and corpus pins are released."""

import pytest

from sitemapper_spark import corpus as corpus_mod
from sitemapper_spark.engine import CrawlConfig, CrawlEngine

ROOT = corpus_mod.testsite_root()


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_seed_write_failure_raises_with_empty_frontier(
    spark, tmp_path, monkeypatch
):
    corpus = corpus_mod.testsite_corpus(spark)
    engine = CrawlEngine(
        spark, corpus,
        CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"), num_partitions=2),
    )
    write = engine._write

    def failing_write(df, round_no, name):
        if name == "frontier_seed":
            raise RuntimeError("frontier_seed write failed")
        return write(df, round_no, name)

    monkeypatch.setattr(engine, "_write", failing_write)
    # max_depth=0: no seed is ever visited, so no round runs
    with pytest.raises(RuntimeError, match="frontier_seed write failed"):
        engine.run([(ROOT, "s0", 0, 0.0)])


def test_repeated_run_releases_every_cache(spark, tmp_path):
    path = str(tmp_path / "corpus")
    corpus_mod.testsite_corpus(spark).write.parquet(path)
    corpus = spark.read.parquet(path)
    before = _persistent_rdd_ids(spark)
    engine = CrawlEngine(
        spark, corpus,
        CrawlConfig(
            max_depth=5,
            corpus_cache_min_depth=1,  # pin the corpus sides
            decode_verify_images=True,
            checkpoint_dir=str(tmp_path / "ckpt"),
            num_partitions=2,
        ),
    )
    seeds = [(ROOT, "s0", 5, 0.0)]
    assert engine.run(seeds).visited.count() == 7
    pins = list(engine._corpus_pins)
    assert len(pins) == 2
    engine.run(seeds, resume=True)
    assert engine._corpus_pins == pins  # kept, not re-registered
    engine.release_corpus_pins()
    assert _persistent_rdd_ids(spark) - before == set()
