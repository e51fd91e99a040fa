#!/usr/bin/env python
"""Round-15 scale-stress probes (BASELINE.md §C rows; the
assert-then-time protocol of tools/stress_round4-14.py).

jbig2ref   JBIG2 REFINEMENT decode throughput (the r15 tier, the
           q64 scan_px1 id%6==5 form): N single-page stripe scan
           PDFs whose page is painted as a coarse generic region
           and RESTORED by an immediate refinement region with
           TPGRON, through pdf_image_features. Asserts every
           page's pixel_milli equals its closed form — recorded
           next to the arithmetic jbig2 row (581 pages/s) since a
           refined page decodes the area roughly twice.

jpxprec    JPEG 2000 decode throughput with EXPLICIT PRECINCTS
           (4,4) + 2 quality layers (the r15 tier, the q64
           scan_px2 id%8==7 form): same protocol as the r13/r14
           jpx rows so the precinct packet-walk overhead is
           visible as a rate delta.

Usage: python tools/stress_round15.py [jbig2ref|jpxprec|all]
Env: STRESS_JB2REF_N (default 2000), STRESS_JPXPREC_N (1000).
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


def _run(probe, n, page_of, kind, w, h):
    import pandas as pd

    from timeseries_data_provider_spark.operators import pdf as pdfmod

    spark = get_spark(f"stress-{probe}")
    rows = []
    t_build = time.time()
    for i in range(n):
        rows.append(
            (i, pdfmod.encode_scan_pdf([(kind, page_of(i))]))
        )
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
        want = (1000 * int(page_of(i).sum())) // (w * h)
        assert r["pixel_milli"] == want, i
    _emit(
        probe,
        n=n,
        sec=round(dt, 2),
        pages_per_s=round(n / dt, 1),
        kpx_per_s=round(n * w * h / dt / 1000, 1),
        build_sec=round(t_build, 2),
    )
    spark.stop()


def probe_jbig2ref() -> None:
    n = int(os.environ.get("STRESS_JB2REF_N", "2000"))
    w, h = 128, 96
    _run("jbig2ref", n, lambda i: scan_stripe_page(i, w, h),
         "jbig2-ref", w, h)


def probe_jpxprec() -> None:
    n = int(os.environ.get("STRESS_JPXPREC_N", "1000"))
    w, h = 64, 48
    ys, xs = np.mgrid[0:h, 0:w]

    def page_of(i):
        return ((i + xs + 2 * ys) % 256).astype(np.uint8)

    _run("jpxprec", n, page_of, "jpx-prec", w, h)


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which in ("jbig2ref", "all"):
        probe_jbig2ref()
    if which in ("jpxprec", "all"):
        probe_jpxprec()


if __name__ == "__main__":
    main()
