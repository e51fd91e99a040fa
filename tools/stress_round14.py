#!/usr/bin/env python
"""Round-14 scale-stress probes (BASELINE.md §C rows; the
assert-then-time protocol of tools/stress_round4-13.py — each probe
asserts the operator's correctness invariant on every row, then
prints one JSON line).

jbig2huff  JBIG2 HUFFMAN symbol-dictionary + text-region decode
           throughput (the r14 second-encoder-family tier): N
           single-page stripe scan PDFs whose raster rides the
           SDHUFF/SBHUFF path (custom FS/DS/DT table segments,
           standard tables B.1-B.5, MMR collective bitmaps)
           through pdf_image_features. Asserts every page's
           pixel_milli equals its closed form and reports pages/s
           (table-read decoding — recorded next to the arithmetic
           jbig2 row's 581 pages/s).

jpxopt     JPEG 2000 decode throughput with the r14 CODER OPTIONS
           on (bypass + reset + per-pass termination + segmark,
           2 quality layers — the q64 id%6==4 form): same protocol
           as the r13 jpx row (171 pages/s plain) so the option
           overhead is visible as a rate delta, not a guess.

Usage: python tools/stress_round14.py [jbig2huff|jpxopt]
Env: STRESS_JB2H_N (default 2000), STRESS_JPXOPT_N (default 1000).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import numpy as np  # noqa: E402

from timeseries_data_provider_spark.operators.pdf import (  # noqa: E402
    scan_stripe_page,
)
from timeseries_data_provider_spark.session import get_spark  # noqa: E402


def _emit(probe: str, **kw) -> None:
    print(json.dumps({"probe": probe, **kw}))


def probe_jbig2huff() -> None:
    import pandas as pd

    from timeseries_data_provider_spark.operators import pdf as pdfmod

    n = int(os.environ.get("STRESS_JB2H_N", "2000"))
    spark = get_spark("stress-jbig2huff")
    w, h = 128, 96
    rows = []
    t_build = time.time()
    for i in range(n):
        page = scan_stripe_page(i, w, h)
        blob = pdfmod.encode_scan_pdf([("jbig2-text-huff", page)])
        rows.append((i, blob))
    t_build = time.time() - t_build
    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "payload"])
    ).repartition(32).localCheckpoint()
    t0 = time.time()
    out = pdfmod.pdf_image_features(sdf).select(
        "doc_id", "pixel_milli"
    ).collect()
    dt = time.time() - t0
    for r in out:
        i = r["doc_id"]
        want = (1000 * int(scan_stripe_page(i, w, h).sum())) // (w * h)
        assert r["pixel_milli"] == want, i
    _emit(
        "jbig2huff",
        n=n,
        sec=round(dt, 2),
        pages_per_s=round(n / dt, 1),
        kpx_per_s=round(n * w * h / dt / 1000, 1),
        build_sec=round(t_build, 2),
    )
    spark.stop()


def probe_jpxopt() -> None:
    import pandas as pd

    from timeseries_data_provider_spark.operators import pdf as pdfmod

    n = int(os.environ.get("STRESS_JPXOPT_N", "1000"))
    spark = get_spark("stress-jpxopt")
    w, h = 64, 48
    ys, xs = np.mgrid[0:h, 0:w]
    rows = []
    t_build = time.time()
    for i in range(n):
        page = ((i + xs + 2 * ys) % 256).astype(np.uint8)
        blob = pdfmod.encode_scan_pdf([("jpx-opt", page)])
        rows.append((i, blob))
    t_build = time.time() - t_build
    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "payload"])
    ).repartition(32).localCheckpoint()
    t0 = time.time()
    out = pdfmod.pdf_image_features(sdf).select(
        "doc_id", "pixel_milli"
    ).collect()
    dt = time.time() - t0
    for r in out:
        i = r["doc_id"]
        want = (
            1000 * int(((i + xs + 2 * ys) % 256).sum())
        ) // (w * h)
        assert r["pixel_milli"] == want, i
    _emit(
        "jpxopt",
        n=n,
        sec=round(dt, 2),
        pages_per_s=round(n / dt, 1),
        kpx_per_s=round(n * w * h / dt / 1000, 1),
        build_sec=round(t_build, 2),
    )
    spark.stop()


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which in ("jbig2huff", "all"):
        probe_jbig2huff()
    if which in ("jpxopt", "all"):
        probe_jpxopt()


if __name__ == "__main__":
    main()
