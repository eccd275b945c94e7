"""Multimodal column operators: image decode-verify.

Media ride as opaque ``binary`` columns with typed metadata
(BASELINE.json.input_hint: ``bytes, w, h, fmt, caption, phash``); the
compute is Arrow-batched ``mapInPandas`` so each Python worker sees
whole record batches. Image decode is real for the corpus formats
(pure-numpy PNG + the deterministic lossy stand-in,
:mod:`sitemapper_spark.functions.images`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.images import decode_image, psnr, synth_pixels

__all__ = ["decode_verify"]

_VERIFY_SCHEMA = (
    "url string, image_id string, fmt string, phash bigint, ok boolean, "
    "psnr_db double, caption_ok boolean, err string"
)


def _verify_batches(
    batches: Iterator[pd.DataFrame], min_psnr_db: float
) -> Iterator[pd.DataFrame]:
    """mapInPandas body of :func:`decode_verify` (module-level so the
    batch math is unit-benchable without a SparkSession)."""
    from ..corpus import caption_for  # local import: avoid cycle

    # Decode + reference synthesis are per-row (zlib streams and
    # per-id seeded generators), but the verify MATH is vectorized
    # across the batch: images of one (h, w) shape — in practice
    # the whole corpus — are stacked and PSNR/equality computed in
    # a handful of numpy ops instead of ~6 tiny-array ops per row.
    # Semantics identical to the per-row form: mse == 0 on uint8
    # stacks ⇔ np.array_equal, and per-row error capture is
    # preserved (a failed decode yields ok=false + err, never a
    # failed job).
    for pdf in batches:
        n = len(pdf)
        urls = pdf["url"].tolist()
        ids = pdf["image_id"].tolist()
        fmts = pdf["fmt"].tolist()
        caps = pdf["caption"].tolist()
        px_list: list = [None] * n
        errs: list = [None] * n
        for i, (data, fmt) in enumerate(zip(pdf["bytes"], fmts)):
            try:
                if data is None:
                    raise ValueError("null payload")
                px_list[i] = decode_image(bytes(data), fmt)
            except NotImplementedError as e:
                errs[i] = f"stub: {e}"
            except Exception as e:
                errs[i] = str(e)[:200]
        ok = np.zeros(n, dtype=bool)
        psnr_db = np.zeros(n, dtype=np.float64)
        by_shape: dict = {}
        for i, (w, h) in enumerate(zip(pdf["w"], pdf["h"])):
            if errs[i] is None:
                ref = synth_pixels(ids[i], int(w), int(h))
                if px_list[i].shape == ref.shape:
                    by_shape.setdefault(ref.shape, []).append((i, ref))
                else:  # corrupt header: decoded shape ≠ stated w/h
                    try:
                        psnr(ref, px_list[i])  # raises like before
                    except Exception as e:
                        errs[i] = str(e)[:200]
        for shape, pairs in by_shape.items():
            idxs = np.fromiter((i for i, _ in pairs), dtype=np.int64)
            px = np.stack([px_list[i] for i in idxs]).astype(np.float64)
            refs = np.stack([r for _, r in pairs]).astype(np.float64)
            mse = np.mean((px - refs) ** 2, axis=(1, 2, 3))
            with np.errstate(divide="ignore"):
                p = 10.0 * np.log10(255.0**2 / mse)  # inf where mse=0
            eq = mse == 0.0  # exact: uint8 → float64 is lossless
            is_png = np.fromiter(
                (fmts[i] == "png" for i in idxs), dtype=bool
            )
            ok[idxs] = (is_png & eq) | (p >= min_psnr_db)
            psnr_db[idxs] = np.minimum(p, 999.0)
        cap_ok = [
            errs[i] is None and caps[i] == caption_for(urls[i])
            for i in range(n)
        ]
        failed = np.fromiter((e is not None for e in errs), dtype=bool)
        ok[failed] = False
        psnr_db[failed] = 0.0
        yield pd.DataFrame(
            {
                "url": urls,
                "image_id": ids,
                "fmt": fmts,
                "phash": pdf["phash"].astype("int64").tolist(),
                "ok": ok,
                "psnr_db": psnr_db,
                "caption_ok": cap_ok,
                "err": errs,
            }
        )



def decode_verify(pages: DataFrame, min_psnr_db: float = 40.0) -> DataFrame:
    """Decode every image and verify the per-row invariant: decoded
    pixels vs the deterministic source (PSNR ≥ 40 dB lossy / exact
    lossless) + caption equality (input_hint contract).

    ``bytes`` stays columnar Arrow end-to-end; rows where decode fails
    report ``ok=false`` instead of failing the job (fetch-error
    semantics)."""
    cols = ["url", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return pages.select(*cols).mapInPandas(
        lambda it: _verify_batches(it, min_psnr_db), schema=_VERIFY_SCHEMA
    )

