"""Scale ladder: bench the heaviest queries at sf0.1 vs synthesized sf1.

Runs the 15 most scale-critical non-streaming queries (the heaviest by
BENCHDETAIL plus the x2 dedup families whose 100 TB story matters most)
at sf0.1 and at the 10x re-keyed sf1 (tools/make_sf1.py), two runs
each, in ONE process (warm JVM for both tiers — the comparison is plan
growth, not session startup). Writes BENCHSCALE.json:

  {"data_ratio": 10, "queries": {name: {"sf0.1": s, "sf1": s,
   "ratio": r, "sf0.1_cold": s, "sf1_cold": s, "ratio_cold": r}}, ...}

"sf*" is the min of the two runs (warm — session artifact caches such
as the LSH pair table / SemDeDup flags are populated); "sf*_cold" is
run 1, which for cache-backed queries includes the full cold
derivation (banding + verify join, k x dim assignment, CC iteration) —
the number that carries the dedup-at-scale claim.

ratio ~ 10 = linear in data; well under 10 = fixed overhead dominates
at this size; well over 10 = superlinear term — the thing this ladder
exists to catch (candidates: HyperBall register joins, suffix-array
doubling rounds, all-pairs stages).

Usage: python tools/bench_scale.py [sf_small_dir] [sf_big_dir]

Incremental mode: SPARK_GRAFT_LADDER_ONLY=q1,q2 runs only those HEAVY
rows and MERGES them into the existing BENCHSCALE.json (other rows kept
verbatim) — how a single new query lands its ladder row without
re-measuring the whole set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "x11_hyperball",
    "x11_ktruss",  # round-8: now the 2nd-slowest; triangle mass scales
    "x1_suffix_array",
    "x10_training_corpus",
    "x11_closeness",  # round-8: per-seed BFS ball, edge-linear per round
    "x11_ppr",
    "x11_modularity",
    "x11_pagerank",
    "x3_pq_vs_rq_recall",
    "x11_label_prop",
    "x11_hits",
    "x11_triangle_count",
    # round-9 (VERDICT r8 #3): the x2 dedup families — cold run 1
    # includes the cached artifact's full derivation
    "x2_minhash_lsh_pairs",  # banded-LSH pair table, cold = band+verify
    "x2_semdedup",           # k x dim assignment + within-cell pairs
    "x2_dup_clusters",       # CC closure over the near-dup pair graph
    # round-10 (VERDICT r9 #2): exact PPJoin linkage — sf1's 10x
    # duplicate multiplicity is precisely the regime the signature
    # compression exists for
    "x2_record_linkage",
    # round-11 (VERDICT r10 #4): the streaming front door gets a measured
    # 10x point — cold run 1 includes the replay-layout derivation
    # (repartitionByRange by ts + mtime stamping), warm is the
    # micro-batch execution itself.
    "x7_stream_ingest",
    "x7_stream_hll",
    # round-11 standing rule: new queries at the ~2 s sf0.1 warm line land
    # with a ladder row — the block_running_sum cumsum is the scale claim.
    "x10_token_budget",
    # wedge-identity rectangle count; node space data-derived (_fc_n) so
    # wedge volume stays linear in data — the ladder row proves it.
    "x11_four_cycles",
    # round-12 standing rule: budget-boundary consumer at 2.3 s sf0.1
    # warm — same block_running_sum scale claim as x10_token_budget.
    "x10_budget_price",
    # round-12: r28's NEW plan (freq_quantile_cont_multi — value-frequency
    # histogram + block cumsum instead of percentile()'s per-group value
    # buffer) is >2 s warm; the ladder row prices the bounded-memory form.
    "r28_percentiles",
    # round-12: media reclaim sheet at 2.3 s warm — cost is the digest
    # pass + the bounded blockhash fixture; the ladder row proves the
    # digest pass (the only corpus-dimension term) is the growth.
    "x6_media_savings",
    # round-13 (VERDICT r12 #4): the perceptual pair-gen is now an exact
    # multi-index band-bucket equi-join (pigeonhole, PH_BANDS slices)
    # instead of all-pairs; the ladder row prices the banded path. The
    # MEDIA_DOC_MAX fixture bounds the asset count, so the expected
    # ratio is ~1 — the row exists so the banded plan has a measured
    # point the day a real decoder unbounds the fixture.
    "x6_blockhash_near_dup",
    # round-13 standing rule: the band-health sheet rides the same
    # signature pass (~2.5 s warm at sf0.1, fixture-bounded like its
    # siblings).
    "x6_band_health",
    # round-13: the HyperBall error sheet re-runs x11_hyperball's
    # register rounds (the dominant term — expect a ratio near
    # x11_hyperball's) plus a seeds x ball exact BFS; the ladder row
    # prices the instrument's claim that the exact side stays bounded
    # by the seed sample while the sketch side scales like hyperball.
    "x11_hyperball_error",
    # round-14: the walk builders were re-planned onto the CSR
    # adjacency-array artifact (vertex-sized joins + per-row array
    # arithmetic instead of the candidate-expansion window) — the
    # ladder rows price the claim that only vertex-sized frames move;
    # cold run 1 includes the walks-corpus build, the number VERDICT
    # r13 #1 regressed on.
    "x11_node2vec",
    "x11_random_walks",
    # round-14: the cleaned-corpus artifact itself (x10_training_corpus
    # above consumes it; this row prices the build+read path the
    # VERDICT r13 #4 list names).
    "x10_clean_corpus",
]


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        here, "spark-warehouse", "sf1"
    )
    if not os.path.isdir(big):
        raise SystemExit(f"{big} missing - run tools/make_sf1.py first")

    from diepy_spark.session import get_spark

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("diepy-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> tuple[float, float]:
        """(cold, warm): run 1 = cold (session caches derive), then
        warm = min of both runs."""
        fn = qs[name]
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return round(times[0], 3), round(min(times), 3)

    # warmup on both tiers so neither absorbs JVM/codegen startup
    qs["r9_distinct"](spark, small).write.format("noop").mode(
        "overwrite"
    ).save()
    qs["r9_distinct"](spark, big).write.format("noop").mode(
        "overwrite"
    ).save()

    path = os.path.join(here, "BENCHSCALE.json")
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_LADDER_ONLY", "").split(",")
        if q.strip()
    }
    # A typo'd name must not look like a successful re-measurement: the
    # old rows would be rewritten verbatim and 'wrote' printed.
    unknown = sorted(only - set(HEAVY))
    if unknown:
        raise SystemExit(
            "SPARK_GRAFT_LADDER_ONLY names not in HEAVY: "
            + ", ".join(unknown)
            + f" (valid: {', '.join(sorted(HEAVY))})"
        )
    todo = [n for n in HEAVY if not only or n in only]
    out: dict[str, dict[str, float]] = {}
    if only and os.path.exists(path):
        with open(path) as fh:
            out.update(json.load(fh).get("queries", {}))
    for name in todo:
        s_cold, s = run(name, small)
        b_cold, b = run(name, big)
        out[name] = {
            "sf0.1": s,
            "sf1": b,
            "ratio": round(b / s, 2) if s > 0 else None,
            "sf0.1_cold": s_cold,
            "sf1_cold": b_cold,
            "ratio_cold": round(b_cold / s_cold, 2) if s_cold > 0 else None,
        }
        print(
            f"{name:28s} sf0.1={s:7.2f}s sf1={b:7.2f}s "
            f"ratio={out[name]['ratio']} "
            f"cold={s_cold:.2f}/{b_cold:.2f} "
            f"ratio_cold={out[name]['ratio_cold']}"
        )

    payload = {
        "data_ratio": 10,
        "small_dir": small,
        "big_dir": big,
        "queries": out,
        "note": "sf* = min of 2 runs (warm), sf*_cold = run 1 (session "
        "artifact caches derive), one warm process; sf1 = 10x re-keyed "
        "replication of sf0.1 (tools/make_sf1.py)",
    }
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
