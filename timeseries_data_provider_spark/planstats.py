"""Executed-plan introspection: per-scan pruning evidence.

Wall-clock comparisons on a warm local page cache systematically
understate layout wins (BASELINE.md §C records several rows where the
honest sentence is "the lever is bytes READ, not local seconds").
``scan_stats`` turns that sentence into a measured number: after an
action has run, it walks the ADAPTIVE executed plan (through
QueryStage wrappers) and returns each parquet scan's post-pruning
``numFiles`` / ``filesSize`` plus its output-row count — i.e. how much
of the table the scan was actually ALLOWED to touch after partition
pruning and pushed filters, independent of cache state.

Used by the stress probes (tools/stress.py) and available to
callers auditing their own layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _metrics(node) -> dict:
    try:
        it = node.metrics().iterator()
    except Exception:
        return {}
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _walk(node, acc: list) -> None:
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        # the adaptive root re-plans at runtime; executedPlan() is the
        # final physical tree with live metrics
        _walk(node.executedPlan(), acc)
        return
    if name.endswith("QueryStage"):
        _walk(node.plan(), acc)
        return
    if name.startswith("Scan "):
        m = _metrics(node)
        acc.append(
            {
                "node": name.strip(),
                "num_files": int(m.get("numFiles", 0)),
                "files_size": int(m.get("filesSize", 0)),
                # rows DECODED by the reader — parquet row-group
                # skipping (pushed filters vs row-group min/max stats)
                # shows up here even when wall time does not
                "output_rows": int(m.get("numOutputRows", 0)),
            }
        )
    ch = node.children().iterator()
    while ch.hasNext():
        _walk(ch.next(), acc)


def scan_stats(df: DataFrame) -> list[dict]:
    """Post-execution scan summary for ``df``'s LAST execution: one
    dict per parquet scan node with post-pruning num_files /
    files_size and output_rows. Call AFTER an action (collect/count)
    on the same DataFrame, or the metrics are zero."""
    acc: list[dict] = []
    _walk(df._jdf.queryExecution().executedPlan(), acc)
    return acc
