#!/usr/bin/env python
"""Capture explain('formatted') output of the declared queries.

With no arguments, regenerate PLANS.md: the annotated headline queries
at sf0.01 (see PLANS.md header).

With ``--out-dir DIR``, dump the raw plan of every declared query
(``NON_BENCH`` excluded) to ``DIR/<query>_<suffix>.txt`` instead, read
at ``--sf`` (default ``$SPARK_GRAFT_SF_DIR``, the data bench.py times).
Positional FILTERs keep only queries whose name contains one of them.
A before/after pair around a change:

    python tools/gen_plans.py --out-dir plans/q02 --suffix before q02
    python tools/gen_plans.py --out-dir plans/q02 --suffix after q02
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NOTES = {
    "q02_range_scan_ms": "Range scan: predicates on the raw int64-nanos column reach the parquet scan (PushedFilters), series filter prunes; only (value, ts) read.",
    "q08_lookup_join": "Dimension lookup: BroadcastHashJoin — the fact side never shuffles.",
    "q09_time_bucket": "Time-bucket rollup: two-phase HashAggregate (map-side partial combine), one exchange on the group key.",
    "q12_join_revenue": "Big-big equi join: SortMergeJoin under AQE; DECIMAL-exact revenue sum.",
    "q21_asof_join": "As-of join: union + running-last — ONE exchange on user_id; no range probe.",
    "q28_ngram_jaccard": "Inverted-index Jaccard: equi-joins/hash-aggs only; no NestedLoop/Cartesian.",
    "q30_simhash_pairs": "SimHash blocking: quarter-band equi-join candidates, JVM popcount verify — no all-pairs stage anywhere.",
    "q31_ann_topk": "Brute + IVF + batch + sq8 + rp + materialized-layout + append-lifecycle top-k: TakeOrderedAndProject (distributed partial top-k); IVF probes only nprobe broadcast-pruned buckets; the batch branch plans WindowGroupLimit (partial per-query top-k before the exchange); sq8 ranks integer dots over 4x-smaller codes and re-ranks only k*refine candidates; rp ranks 16-dim JL projections and exact-re-ranks only k*refine candidates; the ivf_layout branch reads the centroid-partitioned parquet layout through PartitionFilters (centroid_id IN the 2 probed ids) — a static partition-pruned scan of nprobe/8 of the table; the ivf_append branch probes its appended layout the same pruned way (nprobe/4); the pq branch ranks m table-lookups over 8-byte PQ codes (books baked in as literals, no per-candidate vector math) and exact-re-ranks only k*refine candidates.",
    "q36_sketch_verdicts": "HLL++ and GK sketches + exact forms: ONE two-phase HashAggregate pass; the sketch registers ride the same exchange as the exact accumulators.",
    "q59_curate": "Curation + token-budget cut + corpus version diff: filters fused into the scan; the budget branch is the TWO-PHASE plan — score-histogram hash-agg (driver cutoff) + a bucketed prefix cut of the marginal class (quantile buckets, driver prefix of per-bucket sums, PARTITION-LOCAL windows — no single-partition window anywhere) — never a global sort of the corpus; the diff branch is one narrow (id, sha256) full-outer SortMergeJoin, bodies never shuffled.",
    "q62_srp_lsh_neardup": "SRP-LSH near-dup scale path: per-table bucket equi-joins; the candidate-dedup exchange carries bare id pairs only (vectors re-enter via equi-joins keyed by id).",
    "q55_vocab_idf": "Vocab heavy hitters + BM25 retrieval (r10): ONE explode feeds the tf hash-aggregate; the tiny query-term frame BROADCASTS into tf (pruning the corpus to query terms before the dl/df joins); an OPT-IN left-semi prune (r11 `prune_dl=True`) computes dl only for MATCHED docs — matched-sized on selective queries over a large pool, default-off because the extra tf consumer measured slower on corpus-common queries; stop-word exchanges stay bounded by WindowGroupLimit either way (§C bm25hot); corpus scalars ride broadcast one-row cross joins; the per-query top-k is a window over only the matched docs — no global sort, no second corpus scan.",
}


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write_plans_md(spark, qs) -> None:
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Generated by `python tools/gen_plans.py` (explain('formatted') at sf0.01",
        "on the tuned session). Each plan is annotated with the property the",
        "100 TB design depends on; tests/test_plans.py pins these properties as",
        "regression guards.",
        "",
    ]
    for name, note in NOTES.items():
        keep = [
            (l[:197] + "...") if len(l) > 200 else l
            for l in explain(qs[name](spark, sf)).splitlines()
        ]
        out.append(
            f"## {name}\n\n{note}\n\n```\n" + "\n".join(keep[:80]) + "\n```\n"
        )
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))


def dump_plans(spark, qs, skip, out_dir, suffix, sf, filters) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(qs):
        if name in skip or (filters and not any(f in name for f in filters)):
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain(qs[name](spark, sf)))
        print(f"wrote {path}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out-dir", help="dump raw plans here instead of PLANS.md")
    ap.add_argument("--suffix", default="before", help="plan file name suffix")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="data directory for --out-dir dumps",
    )
    ap.add_argument("filters", nargs="*", help="query name substrings")
    args = ap.parse_args(argv)
    if args.filters and not args.out_dir:
        ap.error("query filters apply only with --out-dir")
    if args.out_dir and not args.sf:
        ap.error("--out-dir needs --sf or $SPARK_GRAFT_SF_DIR")

    from timeseries_data_provider_spark.session import get_spark

    import __spark_entry__ as entry

    qs = entry.queries()
    if args.out_dir:
        spark = get_spark("plans")
        dump_plans(
            spark,
            qs,
            set(getattr(entry, "NON_BENCH", ())),
            args.out_dir,
            args.suffix,
            args.sf,
            args.filters,
        )
    else:
        spark = get_spark("plans", cpus=8, shuffle_partitions=8)
        write_plans_md(spark, qs)
    spark.stop()


if __name__ == "__main__":
    main()
