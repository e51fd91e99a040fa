"""The declared queries' construction-artifact memo (no Spark)."""

from __future__ import annotations

from types import SimpleNamespace

import __spark_entry__ as entry


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_builds_once_per_application():
    builds = []

    def build():
        builds.append(1)
        return object()

    first = entry._memo(_session("app-memo-1"), ("probe", "sf"), build)
    assert entry._memo(_session("app-memo-1"), ("probe", "sf"), build) is first
    assert len(builds) == 1
    other = entry._memo(_session("app-memo-2"), ("probe", "sf"), build)
    assert other is not first and len(builds) == 2
    # a different key on the same application builds its own artifact
    entry._memo(_session("app-memo-1"), ("probe", "other-sf"), build)
    assert len(builds) == 3
