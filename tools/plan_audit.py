"""Repo-wide physical-plan audit over every ``queries()`` relation.

The round-8 defect class — a lazily-reused subplan silently re-executing
(DSIR totals, CCNet LM branches, pretrain_curate stage chain) — is visible
in exactly one place: the composed relation's physical plan. This tool
formats every gate's plan at a small sf and reports, per query:

* ``scans``    — ``Scan parquet`` occurrences (re-execution shows up here)
* ``exch``     — ``Exchange`` occurrences (shuffle count incl. reuse)
* ``smj/bhj``  — SortMergeJoin / BroadcastHashJoin occurrences
* ``pyeval``   — Python-executed nodes (ArrowEvalPython, and the Pandas
  and Arrow forms of MapIn*, FlatMapGroupsIn* and FlatMapCoGroupsIn*) —
  the slow path; should exist only where the operator is genuinely
  non-relational
* ``rdd``      — ``Scan ExistingRDD`` (materialized snapshot boundaries)

With ``--check`` it exits non-zero if any query exceeds its scan budget
(default ``DEFAULT_SCAN_BUDGET``; per-query overrides below document WHY a
higher count is legitimate). Run:

    python tools/plan_audit.py [sf_dir] [--check] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# a plan with more parquet scans than this is presumed to be re-executing
# something it should have materialized or reused. NOTE: counts are
# formatted-plan OCCURRENCES — the formatted mode lists each node twice
# (tree line + details section), so physical scans ≈ count / 2.
DEFAULT_SCAN_BUDGET = 12

# documented legitimate exceedances — additions here need a sentence saying
# which DISTINCT relations the scans read (a variant-union gate running N
# independent pipelines over the same table is legitimate; ONE pipeline
# re-reading its own input N times is not — that is what this tool caught
# in ann_recall, round 8: the exact baseline re-ran once per variant, 68
# occurrences -> 28 after sharing one snapshot)
SCAN_BUDGET: dict[str, int] = {
    # 5 recall variants, each probing its own index (+ shared snapshotted
    # exact baseline, rdd-side)
    "ann_recall": 30,
    # 5 independent ANN pipelines (ivf/lsh/pq/lsh_mp/ivfpq), 2-3 scans each
    "ann_approx_topk": 30,
    # 9 sampler variants, each an independent pass over documents
    # (round 9: +ccnet_gk — LocalRelation, no scans, its calibration is
    # memoized driver-side — and +ccnet_apply, a fresh frozen-artifact
    # scoring pass reading documents twice: the token-pair explode and
    # the lang join-back; round 10: +strat_k, one scan)
    "corpus_samples": 52,
    # round 9: full + incremental variants — the full pass reads the
    # corpus for lines/counts/totals; the incr variant independently
    # reads the quarter-batch (lines/counts/totals) and the 3/4 slice
    # once to build line_count_index
    "line_dedup": 18,
    # full + lsh + incr + incr_mp variants; the two incrementals each build
    # a fresh index over the 3/4 slice and probe with the 1/4 batch
    "embedding_neardup": 26,
    # full + incr simhash variants over documents slices
    "dedup_simhash": 20,
    # round 10: six independent variants over documents (ngram_exact,
    # minhash_lsh, minhash_incr, ngram_incr, containment a+b off one
    # shared chain) — ngram_incr adds its own batch-shingle read plus the
    # 3/4-slice shingle_index build; no single pipeline re-reads its own
    # input
    "dedup_jaccard_pairs": 18,
    # round 10: profile + skew (events) + ndv and ndv_grp (each: exact
    # anchor, one-shot sketch, 3 shard sketches) — twelve independent
    # single-scan aggregates across two tables (the incr/fold shard
    # partials are snapshotted once and show as rdd, not scans); no
    # pipeline re-reads its own input
    "table_profile": 28,
}

PY_NODES = re.compile(
    r"ArrowEvalPython|MapIn(?:Pandas|Arrow)|FlatMapGroupsIn(?:Pandas|Arrow)"
    r"|FlatMapCoGroupsIn(?:Pandas|Arrow)|BatchEvalPython"
)


def audit(sf_dir: str, only: list[str] | None = None) -> dict[str, dict]:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from spark_iforest_spark.plans import formatted_plan

    out: dict[str, dict] = {}
    try:
        for name, fn in entry.queries().items():
            if only and name not in only:
                continue
            try:
                plan = formatted_plan(fn(spark, sf_dir))
                out[name] = {
                    "scans": plan.count("Scan parquet"),
                    "exch": plan.count("Exchange"),
                    "smj": plan.count("SortMergeJoin"),
                    "bhj": plan.count("BroadcastHashJoin"),
                    "pyeval": len(PY_NODES.findall(plan)),
                    "rdd": plan.count("Scan ExistingRDD"),
                }
            except Exception as e:  # a gate that cannot build is a finding
                out[name] = {"error": f"{type(e).__name__}: {e}"}
    finally:
        spark.stop()
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    check = "--check" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = args[1:] or None
    rows = audit(sf_dir, only)
    if not rows:
        print(f"no queries matched {only!r}")
        return 1
    width = max(len(k) for k in rows)
    hdr = f"{'query':<{width}}  scans exch smj bhj pyeval rdd"
    print(hdr)
    print("-" * len(hdr))
    failures = []
    for name in sorted(rows, key=lambda k: -rows[k].get("scans", 0)):
        r = rows[name]
        if "error" in r:
            print(f"{name:<{width}}  ERROR {r['error']}")
            failures.append(name)
            continue
        budget = SCAN_BUDGET.get(name, DEFAULT_SCAN_BUDGET)
        flag = "  <-- over scan budget" if r["scans"] > budget else ""
        print(
            f"{name:<{width}}  {r['scans']:>5} {r['exch']:>4} {r['smj']:>3}"
            f" {r['bhj']:>3} {r['pyeval']:>6} {r['rdd']:>3}{flag}"
        )
        if flag:
            failures.append(name)
    print(json.dumps({"failures": failures, "n": len(rows)}))
    return 1 if (check and failures) else 0


if __name__ == "__main__":
    raise SystemExit(main())
