"""Serial per-stage time of the image near-dup kernels over the 120
fixture images that the image queries synthesize (doc_id 0..119).

    python tools/image_kernel_profile.py [--root CHECKOUT] [--reps N]

Runs in one process, outside Spark: fixture pixels, encode and decode per
codec (PNG, BMP, WebP-lossless), then pHash + dHash. Prints the mean
seconds per stage over ``--reps`` passes, their total, and the md5 over
every payload, decoded row set and hash pair (the value
``tests/test_image_kernels.py`` pins). ``--root`` imports the package
from another checkout, so two commits can be timed by the same script.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from pmp_analytics_spark.multimodal import _bmp_encode, _png_encode
    from pmp_analytics_spark.operators.phash import decode_pixels_bgr, dhash63_bgr, phash64_bgr
    from pmp_analytics_spark.queries.analytic import _phash_fixture_pixels
    from pmp_analytics_spark.webp import webp_encode

    encoders = {
        "png": lambda n, bgr, rgb: _png_encode(n, n, bgr),
        "bmp": lambda n, bgr, rgb: _bmp_encode(n, n, bgr),
        "webp": lambda n, bgr, rgb: webp_encode(n, n, rgb),
    }
    codecs = ("png", "bmp", "webp", "png")  # by doc_id % 4, as the queries do
    stages = ["pixels"] + [f"{k}_{c}" for c in encoders for k in ("enc", "dec")] + ["hash"]
    spent = dict.fromkeys(stages, 0.0)
    md5 = hashlib.md5()
    for rep in range(args.reps):
        for d in range(120):
            codec = codecs[d % 4]
            t0 = time.perf_counter()
            n, bgr, rgb = _phash_fixture_pixels(d)
            t1 = time.perf_counter()
            payload = encoders[codec](n, bgr, rgb)
            t2 = time.perf_counter()
            w, h, rows = decode_pixels_bgr(payload)
            t3 = time.perf_counter()
            hashes = (phash64_bgr(w, h, rows), dhash63_bgr(w, h, rows))
            t4 = time.perf_counter()
            spent["pixels"] += t1 - t0
            spent[f"enc_{codec}"] += t2 - t1
            spent[f"dec_{codec}"] += t3 - t2
            spent["hash"] += t4 - t3
            if rep == 0:
                md5.update(payload)
                md5.update(b"".join(rows))
                for v in hashes:
                    md5.update(v.to_bytes(8, "little"))
    for k in stages:
        print(f"{k:10s} {spent[k] / args.reps:8.3f} s")
    print(f"{'total':10s} {sum(spent.values()) / args.reps:8.3f} s")
    print(f"digest     {md5.hexdigest()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
