"""U4/X5 — image payload decode + validation (BASELINE.json input_hint).

Per-row invariants, checked by ``_validate_row`` inside the fused fetch pass
(``fetch.fetch_process(validate=True)``) with no side tables — ground truth
regenerates from (seed, url) via webgen:

* decode ``bytes`` per ``fmt``; lossless (png) must equal the reference
  pixels exactly; lossy must be allclose with PSNR ≥ 40 dB
* ``phash`` recompute equality (imagecodec.phash64 over decoded pixels for
  lossless / over reference pixels for the stored-hash check)
* ``caption`` byte-equality vs the regenerated caption

Output is a compact per-URL validation record — the image bytes never leave
the batch (they are projected away before any shuffle, SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..synthetic.imagecodec import decode_image, phash64, psnr
from ..synthetic.webgen import page_caption, page_pixels

PSNR_GATE_DB = 40.0

VALIDATION_COL_NAMES = ("decode_ok", "psnr_db", "phash_ok", "caption_ok", "valid")


def _validate_row(url, payload, w, h, fmt, caption, phash, gen_seed):
    ref_px = page_pixels(gen_seed, url, int(w), int(h))
    decode_ok, p_db, px = False, 0.0, None
    try:
        px = decode_image(payload, fmt)
        p_db = psnr(ref_px, px)
        decode_ok = (px == ref_px).all() if fmt == "png" else p_db >= PSNR_GATE_DB
    except Exception:
        px = None
    phash_ok = px is not None and phash64(ref_px) == int(phash)
    caption_ok = page_caption(gen_seed, url) == caption
    return (
        bool(decode_ok),
        float(min(p_db, 1e6)),
        bool(phash_ok),
        bool(caption_ok),
        bool(decode_ok and phash_ok and caption_ok),
    )


def psnr_verify_pairs(images: DataFrame, pairs: DataFrame,
                      id_col: str = "image_id", bytes_col: str = "bytes",
                      fmt_col: str = "fmt",
                      min_psnr_db: float = PSNR_GATE_DB) -> DataFrame:
    """T33 — pixel-level verification of image near-dup CANDIDATES: the
    image-axis analog of the T3 Jaccard verify. ``pairs`` is a bounded
    candidate set (id_a, id_b) from phash banding (dedup.phash_neardup_pairs);
    each side's payload joins in, both decode inside ONE Arrow batch pass,
    and the pair survives iff decoded-pixel PSNR ≥ ``min_psnr_db`` (the
    input_hint's lossy-equality bar; exact pixels → psnr_db = +inf, reported
    as NULL with is_dup = true so the column stays finite-double friendly).

    Scale shape: payloads join INTO the LSH-bounded candidate set (never a
    corpus cross), one shuffle per side keyed on the image id; the bytes are
    consumed and projected away inside the mapInPandas verify, so payloads
    never shuffle past this stage. Dimension-mismatched candidates verify to
    is_dup = false with NULL psnr (different sizes cannot be pixel dups).
    """
    payload = images.select(
        F.col(id_col).alias("_pid"),
        F.col(bytes_col).alias("_pbytes"),
        F.col(fmt_col).alias("_pfmt"),
    )
    joined = (
        pairs.select("id_a", "id_b")
        .join(payload.withColumnRenamed("_pid", "id_a")
                     .withColumnRenamed("_pbytes", "bytes_a")
                     .withColumnRenamed("_pfmt", "fmt_a"), "id_a")
        .join(payload.withColumnRenamed("_pid", "id_b")
                     .withColumnRenamed("_pbytes", "bytes_b")
                     .withColumnRenamed("_pfmt", "fmt_b"), "id_b")
    )

    def verify(batches):
        import pandas as pd

        for pdf in batches:
            out = {"id_a": [], "id_b": [], "psnr_db": [], "is_dup": []}
            for r in pdf.itertuples():
                out["id_a"].append(r.id_a)
                out["id_b"].append(r.id_b)
                try:
                    pa = decode_image(bytes(r.bytes_a), r.fmt_a)
                    pb = decode_image(bytes(r.bytes_b), r.fmt_b)
                except ValueError:
                    out["psnr_db"].append(None)
                    out["is_dup"].append(False)
                    continue
                if pa.shape != pb.shape:
                    out["psnr_db"].append(None)
                    out["is_dup"].append(False)
                    continue
                db = psnr(pa, pb)
                exact = db == float("inf")
                out["psnr_db"].append(None if exact else round(db, 6))
                out["is_dup"].append(bool(exact or db >= min_psnr_db))
            yield pd.DataFrame(out)

    id_type = dict(images.dtypes)[id_col]
    return joined.mapInPandas(
        verify,
        schema=f"id_a {id_type}, id_b {id_type}, psnr_db double, is_dup boolean",
    )
