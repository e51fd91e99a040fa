"""tools/stress.py: the probe registry (no Spark) and one cheap probe
run through the same ``run`` entry that ``main`` uses."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import stress  # noqa: E402

PROBE_NAMES = {
    "anchorsc", "anchortext", "aqeskew", "batch", "bm25hot", "bpe",
    "bytebpe", "cavnar", "cc", "ccittfax", "cdcchunk", "clfscore", "crawl",
    "curation", "dsir", "exifmeta", "flacdecode", "frontier", "gifdecode",
    "hotbucket", "hotshingle", "imagededup", "incr", "incrhot", "ivf",
    "ivfappend", "ivfsq8", "jbig2", "jbig2huff", "jbig2ref", "jpegdecode",
    "jpx", "jpxopt", "jpxprec", "knlm", "linededup", "lm", "lzfu",
    "mdconvert", "mkvmeta", "mp3meta", "offcrypto", "officertf",
    "pagerank", "pdfextract", "phash", "pii", "pq", "quarantine", "rp",
    "scandedup", "shards", "sq8", "streamingest", "substr", "substrincr",
    "substrpartner", "tiedbudget", "tiffdecode", "urlnorm", "vp8",
    "vp8ldecode", "wsample", "zorder", "zratio",
}


def test_registry_holds_every_probe():
    assert set(stress.PROBES) == PROBE_NAMES
    assert len(PROBE_NAMES) == 65


def test_unknown_probe_exits_nonzero():
    with pytest.raises(SystemExit) as exc:
        stress.main(["ivf", "no-such-probe"])
    assert exc.value.code != 0


def test_probe_runs_at_small_scale(spark, capsys, tmp_path, monkeypatch):
    monkeypatch.setattr(stress, "WORK", str(tmp_path))
    stress.run(spark, ["urlnorm"], scale=1e-4)
    out = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [(o["probe"], o["n_urls"]) for o in out] == [("urlnorm", 640)]
    assert out[0]["secs"] > 0
