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
