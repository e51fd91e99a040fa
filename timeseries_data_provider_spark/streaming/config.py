"""Source ("proxy") configuration — the reference's config.js.dist
model (/root/reference/config.js.dist:13-38): name, active flag, poll
interval, auto-remove cadence/age, and the HTTP request + scalar
extraction recipe. The reference's per-source ``transformResponse``
function (config.js.dist:25-35) becomes a JSON path (declarative, runs
as get_json_object) with an optional Python callable escape hatch.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

@dataclass
class SourceConfig:
    """One collected source (reference config.js.dist:14-37)."""

    name: str
    active: bool = True
    interval: int = 10  # seconds between polls (config.js.dist:17)
    remove_interval: int | None = None  # autoRemove.interval (:19)
    remove_age: int | None = None  # autoRemove.age (:20)
    method: str = "GET"
    url: str = ""
    # JSON path extracting the scalar from the response body
    # (config.js.dist:28-30 extracted responseData["count"]).
    json_path: str = "$.count"
    # Escape hatch mirroring arbitrary transformResponse functions:
    # body -> float | None (None == extraction failure, sample dropped
    # per index.js:246).
    transform: Callable[[str], float | None] | None = None

    def extract(self, body: str) -> float | None:
        if self.transform is not None:
            return self.transform(body)
        try:
            node = json.loads(body)
            for step in _json_path_steps(self.json_path):
                node = node[step]
            return float(node)
        except (ValueError, KeyError, TypeError, IndexError):
            return None  # error-object path, config.js.dist:31-34


def _json_path_steps(path: str) -> list:
    """Tokenize the get_json_object subset this config promises
    ($.a.b[0].c — dotted keys + numeric brackets): dict keys as
    strings, list indexes as ints. The previous dict-only
    ``lstrip("$.").split(".")`` walk (review finding) turned any
    array-indexed path into a KeyError → every sample silently dropped
    by the null guard, while the batch path (operators/core
    json_scalar, real get_json_object) served the same config fine.
    Quoted/bracketed STRING keys remain unsupported in both consumers.
    """
    import re

    p = path[2:] if path.startswith("$.") else path.lstrip("$")
    steps: list = []
    for part in p.split("."):
        if not part:
            continue
        m = re.match(r"^([^\[\]]*)((?:\[\d+\])*)$", part)
        if m is None:
            raise ValueError(f"unsupported json_path segment: {part!r}")
        name, idxs = m.group(1), m.group(2)
        if name:
            steps.append(name)
        for i in re.findall(r"\[(\d+)\]", idxs):
            steps.append(int(i))
    return steps

