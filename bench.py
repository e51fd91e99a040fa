#!/usr/bin/env python
"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on a tuned local[$SPARK_GRAFT_CPUS]
session and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

The stdout line is kept COMPACT (<2 KB) because the driver records
only the tail of stdout and json-parses the last line — the full
artifact (per-query spread, per-branch timings, vs_prev diff) goes to
BENCH_local_detail.json next to this script and to stderr.

Each query is timed end-to-end (plan + execute + collect to driver),
after a one-query JVM warm-up. The full query set runs
$SPARK_GRAFT_REPEAT times (default 2) ROUND-ROBIN — pass 1 runs every
query once, then pass 2 re-runs every query — and the per-query
MINIMUM across passes is reported. Interleaving matters: this
container's host-level CPU contention arrives in multi-second windows
(BASELINE.md §B, ±50%), and back-to-back repeats of one query can land
every sample inside a single window (BENCH_r03 recorded a 5.6x phantom
spike on q15 exactly that way). Round-robin puts each query's samples
minutes apart so one window can poison at most one pass.
Run with --explain to dump formatted physical plans instead of timing.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Per-query composition notes, keyed by the ROUND whose declared form
# gained the work: {"round": N, "note": ...}. A note only explains a
# move when diffing against an artifact OLDER than its round — once
# BENCH_r{N} exists, the move is inside the baseline and the entry
# auto-expires, so a stale note can never launder a genuine later
# regression (VERDICT r12 finding #2: the r10 BM25 note "explained"
# an r12 contention spike in q55). Add an entry ONLY in the round
# that changes a query's composition; delete entries whose round is
# more than one behind the newest committed artifact (kept history
# lives in git).
EXPLAINED_MOVES: dict[str, dict] = {
    "q64_corpus_signals": {
        "round": 15,
        "note": "r15: the scored rotations widen again — scan_px1 "
        "id%5 -> id%6 (a coarse generic region RESTORED by a "
        "TPGRON refinement region: two pure-Python per-pixel MQ "
        "walks per page, §C jbig2ref 157 pages/s vs plain 581), "
        "scan_px2 id%6 -> id%8 (grid-offset and explicit-precinct "
        "JPX forms), scan_px3 alternates Indexed vs Separation-"
        "over-sampled-tint, and the font plant rotation widens to "
        "9 arms (embedded-CMap /Encoding and UniJIS-UCS2-H); "
        "net-of-noise the r15 local run still landed FASTER than "
        "r14's (BENCH_r15_local.json 16.1 s vs 23.1 s — r14's "
        "local number was window-inflated; the r14 driver artifact "
        "read 16.8 s)",
    },
}

# q63 is deliberately NOT branch-timed: its codec branches ride ONE
# media frame through ONE Arrow decode pass, and a `kind` filter
# cannot push below mapInPandas — a filtered run would still decode
# every payload, pricing the union, not the branch (the opposite of
# q31's literal-tag children, which Catalyst prunes). The per-codec
# signal lives in the §C throughput rows instead (BASELINE.md).
#
# Per-branch timing for union-composed queries (VERDICT r8 item 8):
# a composed row's headline number is insensitive to a regression in
# any one branch, so each branch is ALSO timed as the full query
# filtered to its tag predicate — Catalyst constant-folds the literal
# tags of the other union children and prunes their subtrees (checked:
# q31 filtered to 'brute' drops from 20 parquet scans to 4), so the
# filtered run prices that branch's plan, not the union. Branch
# timings ride in "branches" and diff per-branch in vs_prev.
BRANCHES = {
    "q31_ann_topk": {
        "brute": "algo = 'brute'",
        "ivf": "algo = 'ivf'",
        "batch": "algo like 'batch%'",
        "sq8": "algo = 'sq8'",
        "rp": "algo = 'rp'",
        "ivf_layout": "algo = 'ivf_layout'",
        "ivf_append": "algo = 'ivf_append'",
        "pq": "algo = 'pq'",
    },
    "q34_multimodal_frames": {
        "frames": "src = 'frames'",
        "mp4": "src = 'mp4'",
        "fmp4": "src = 'fmp4'",
        "sample": "src = 'sample'",
        "mkv": "src = 'mkv'",
    },
    "q51_chunk_pack": {
        "pack": "src = 'pack'",
        "bpe": "src = 'bpe'",
        "bpeb": "src = 'bpeb'",
    },
    "q29_minhash_lsh": {
        "batch": "mode = 'batch'",
        "incr": "mode like 'incr_%'",
    },
    "q32_embedding_neardup": {
        "pairs": "src = 'pairs'",
        "semdedup": "src = 'semdedup'",
    },
    "q18_lang_stats": {
        "actual": "src = 'actual'",
        "guess": "src = 'guess'",
        "cavnar": "src = 'cavnar'",
    },
    "q55_vocab_idf": {
        "vocab": "src = 'vocab'",
        "bm25": "src = 'bm25'",
    },
}

# Branch-level composition notes, keyed "query::branch" — same
# round-expiring contract as EXPLAINED_MOVES at branch granularity.
EXPLAINED_BRANCH_MOVES: dict[str, dict] = {}


def _explained(table: dict, key: str, prev_round):
    """The note for `key`, but only while diffing against an artifact
    OLDER than the round that introduced the move — after that the
    move is part of the baseline and the note must not mask a real
    regression."""
    e = table.get(key)
    if not e:
        return None
    if prev_round is not None and e["round"] <= prev_round:
        return None
    return e["note"]


def _load_bench(path: str):
    """Read a bench artifact in either shape: the raw one-line JSON
    this script prints (and the committed *_local.json snapshots), or
    the driver's wrapper {n, rc, sf, tail, parsed} — whose ``parsed``
    holds the same object when the driver managed to parse stdout."""
    try:
        with open(path) as f:
            text = f.read().strip()
        try:
            d = json.loads(text)
        except ValueError:
            d = json.loads(text.splitlines()[-1])
    except (OSError, ValueError, IndexError):
        return None
    if isinstance(d.get("queries"), dict):
        return d
    parsed = d.get("parsed")
    if isinstance(parsed, dict) and isinstance(
        parsed.get("queries"), dict
    ):
        # the wrapper records the run's core count next to ``parsed``
        if "cpus" in d and "cpus" not in parsed:
            return {**parsed, "cpus": d["cpus"]}
        return parsed
    return None


def _prev_artifact(repo_dir: str):
    """(path, loaded artifact) of the newest readable committed bench
    result — BENCH_r{N}.json or BENCH_r{N}_local.json, highest round
    first, the local snapshot preferred within a round (the driver
    wrapper truncates long stdout and then carries parsed=null).
    Override with $SPARK_GRAFT_PREV_BENCH to diff a specific file."""
    override = os.environ.get("SPARK_GRAFT_PREV_BENCH")
    if override:
        return override, _load_bench(override)
    cands = []
    for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.match(
            r"BENCH_r(\d+)(_local)?\.json$", os.path.basename(p)
        )
        if m:
            cands.append((int(m.group(1)), m.group(2) is not None, p))
    for _n, _loc, p in sorted(cands, reverse=True):
        loaded = _load_bench(p)
        if loaded is not None:
            return p, loaded
    return None, None


def _vs_prev(prev_path, prev, timings, spread, sf_num, branches, cpus):
    """Machine-separate composition cost from regression (VERDICT r6
    item 7): ratio each query against the previous artifact and flag
    unexplained >1.5x moves. A flag requires BOTH the min and the p50
    to exceed 1.5x — host contention only ever ADDS time, so a clean
    min with a noisy p50 is a poisoned sample, not a regression.
    Branch timings (VERDICT r8 item 8) diff the same way under
    "query::branch" keys when the previous artifact carries them —
    a regression inside one union branch flags even when the composed
    row's total hides it. Wall times taken at another scale factor or
    on another core count do not compare, so those diffs are skipped
    (an artifact that does not record its cores is still diffed)."""
    if prev.get("sf") != sf_num:
        return {
            "prev": os.path.basename(prev_path),
            "skipped": f"prev sf={prev.get('sf')} != {sf_num}",
        }
    if prev.get("cpus") is not None and prev["cpus"] != cpus:
        return {
            "prev": os.path.basename(prev_path),
            "skipped": f"prev cpus={prev['cpus']} != {cpus}",
        }
    m = re.match(
        r"BENCH_r(\d+)", os.path.basename(prev_path or "")
    )
    prev_round = int(m.group(1)) if m else None
    pq = prev.get("queries") or {}
    pspread = prev.get("query_spread") or {}
    flagged = {}
    explained = {}

    def diff(key, now_min, now_p50, prev_min, prev_p50, note):
        if not isinstance(prev_min, (int, float)) or prev_min <= 0:
            return
        r_min = now_min / prev_min
        r_p50 = now_p50 / prev_p50 if prev_p50 > 0 else r_min
        if r_min > 1.5 and r_p50 > 1.5:
            entry = {"min_ratio": round(r_min, 2),
                     "p50_ratio": round(r_p50, 2)}
            if note is not None:
                explained[key] = {**entry, "note": note}
            else:
                flagged[key] = entry

    for name, now_min in timings.items():
        prev_min = pq.get(name)
        prev_p50 = (pspread.get(name) or {}).get("p50", prev_min)
        diff(name, now_min, spread[name]["p50"], prev_min, prev_p50,
             _explained(EXPLAINED_MOVES, name, prev_round))
    pbranches = prev.get("branches") or {}
    for name, per in branches.items():
        for b, s in per.items():
            prev_b = (pbranches.get(name) or {}).get(b) or {}
            key = f"{name}::{b}"
            diff(key, s["min"], s["p50"], prev_b.get("min"),
                 prev_b.get("p50", prev_b.get("min")),
                 _explained(EXPLAINED_BRANCH_MOVES, key, prev_round)
                 or _explained(EXPLAINED_MOVES, name, prev_round))
    return {
        "prev": os.path.basename(prev_path),
        "flagged": flagged,
        "explained": explained,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    explain = "--explain" in sys.argv
    only = [a for a in sys.argv[1:] if not a.startswith("-")]

    from timeseries_data_provider_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("tdps-bench")
    qs = entry.queries()
    non_bench = set(getattr(entry, "NON_BENCH", ()))
    if only:
        # substring name filter; NON_BENCH queries (correctness
        # harnesses whose runtime is driver orchestration, not query
        # cost) are included only when named EXACTLY — a loose
        # substring like "6" must not sweep the collector replay into
        # a timed run
        qs = {
            k: v
            for k, v in qs.items()
            if any(o in k for o in only)
            and (k not in non_bench or k in only)
        }
        if not qs:
            print(f"no queries match {only}", file=sys.stderr)
            sys.exit(1)
    else:
        for skip in non_bench:
            qs.pop(skip, None)

    # warm-up (not counted): JVM JIT + parquet footer caches + Python
    # UDF worker pool (a long-running service reuses workers; paying the
    # spawn inside one arbitrary query would misattribute it). Skipped
    # under --explain, which runs no timed collects (review finding:
    # explain mode used to pay a full query collect for nothing).
    # Caveat: a few declared queries have DOCUMENTED construction-time
    # side effects (q59's histogram cut, q31's once-per-process layout
    # build, q65's trace replay — each named in its docstring), so
    # --explain still pays those one-time jobs; it never runs the
    # queries themselves.
    if not explain:
        qs[next(iter(qs))](spark, sf_dir).collect()
        spark.range(256).repartition(32).mapInPandas(
            lambda it: it, "id long"
        ).count()

    repeat = max(1, int(os.environ.get("SPARK_GRAFT_REPEAT", "2")))
    names = sorted(qs)
    if explain:
        for name in names:
            print(f"===== {name}")
            qs[name](spark, sf_dir).explain("formatted")
    samples: dict[str, list[float]] = {name: [] for name in names}
    # ONE explain guard around everything that times or reports — a
    # seam between separate guards is where the --explain min([])
    # crash slipped in (review finding)
    if not explain:
        import statistics

        # Host-load bookends: a contended window then shows up IN the
        # artifact instead of only in BASELINE.md prose (VERDICT r12
        # finding #2 — this container's neighbors add ±50%).
        load_start = [round(x, 2) for x in os.getloadavg()]

        # Round-robin passes: one host-contention window can poison at
        # most one of each query's samples (see module docstring).
        branch_samples: dict[str, dict[str, list[float]]] = {
            name: {b: [] for b in BRANCHES[name]}
            for name in names
            if name in BRANCHES
        }
        for _ in range(repeat):
            for name in names:
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).collect()
                samples[name].append(time.perf_counter() - t0)
                for b, pred in BRANCHES.get(name, {}).items():
                    t0 = time.perf_counter()
                    qs[name](spark, sf_dir).filter(pred).collect()
                    branch_samples[name][b].append(
                        time.perf_counter() - t0
                    )

        # Headline per-query number stays the MIN (host contention only
        # ever ADDS time); p50/max ride along so a reader can separate
        # composition cost from noise without re-deriving it from
        # cross-round deltas (VERDICT r5 item 8). p50 is the true
        # median (mean of the middle two at even repeat counts — the
        # upper-middle sample would equal max at the default repeat=2).
        timings = {
            name: round(min(s), 4) for name, s in samples.items()
        }
        spread = {
            name: {
                "min": round(min(s), 4),
                "p50": round(statistics.median(s), 4),
                "max": round(max(s), 4),
            }
            for name, s in samples.items()
        }
        cpus = spark.sparkContext.defaultParallelism
        sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
        try:
            sf_num = float(sf)
        except ValueError:
            sf_num = sf
        branches = {
            name: {
                b: {
                    "min": round(min(s), 4),
                    "p50": round(statistics.median(s), 4),
                }
                for b, s in per.items()
                if s
            }
            for name, per in branch_samples.items()
        }
        out = {
            "metric": "total_query_sec",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": timings,
            "query_spread": spread,
            "branches": branches,
            "repeat": repeat,
            "sf": sf_num,
            "cpus": cpus,
            "loadavg": {
                "start": load_start,
                "end": [round(x, 2) for x in os.getloadavg()],
            },
        }
        flagged = {}
        if not only:  # partial runs have nothing meaningful to diff
            prev_path, prev = _prev_artifact(
                os.path.dirname(os.path.abspath(__file__))
            )
            if prev is not None:
                out["vs_prev"] = _vs_prev(
                    prev_path, prev, timings, spread, sf_num, branches,
                    cpus,
                )
                flagged = out["vs_prev"].get("flagged") or {}
        # The driver records only the LAST ~2000 chars of stdout and
        # json-parses the final line; the full artifact outgrew that
        # window in round 7 (BENCH_r07..r09 all carry parsed=null).
        # So: the full detail goes to a sidecar file + stderr, and
        # stdout's final line is the COMPACT contract shape from the
        # brief — metric/value/unit/queries/sf with per-query minima
        # at 3 dp (~1.7 KB at 49 queries, inside the window).
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_local_detail.json",
        )
        try:
            with open(detail_path, "w") as f:
                json.dump(out, f)
        except OSError:
            pass
        print(json.dumps(out), file=sys.stderr)
        compact = {
            "metric": "total_query_sec",
            "value": round(out["value"], 3),
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in timings.items()},
            "sf": sf_num,
            "cpus": cpus,
            "loadavg": out["loadavg"],
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1900:  # stay inside the driver's tail window
            compact.pop("queries")
            line = json.dumps(compact, separators=(",", ":"))
        print(line)
        if flagged:
            print(
                "bench: UNEXPLAINED >1.5x regressions vs "
                f"{out['vs_prev']['prev']}: {sorted(flagged)} "
                "(add a reason to EXPLAINED_MOVES only if the query's "
                "declared form really gained work)",
                file=sys.stderr,
            )
            spark.stop()
            sys.exit(2)
    spark.stop()


if __name__ == "__main__":
    main()
