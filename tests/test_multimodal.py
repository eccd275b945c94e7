"""Multimodal plumbing: decode-verify over the corpus (the input_hint
per-row invariant)."""

from sitemapper_spark import corpus as cm
from sitemapper_spark.operators import multimodal as M


def test_decode_verify_all_rows_pass(spark):
    pages = cm.testsite_corpus(spark, w=24, h=16)
    rows = M.decode_verify(pages).collect()
    assert len(rows) == 7
    assert all(r["ok"] for r in rows), [r.asDict() for r in rows if not r["ok"]]
    assert all(r["caption_ok"] for r in rows)
    for r in rows:
        if r["fmt"] == "png":
            assert r["psnr_db"] == 999.0  # exact round-trip (inf capped)
        else:
            assert r["psnr_db"] >= 40.0

