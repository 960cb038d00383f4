"""Replay ONE bench family exactly the way bench.py runs it (fresh session,
r9_distinct warmup, queries in sorted order, two timed noop runs each) and
print the per-query pairs plus warm/cold sums. For adjudicating family-level
effects (session memos, storage pressure) that per-query isolated probes
cannot see.

Usage: python tools/family_replay.py FAMILY [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diepy_spark.session import get_spark


def main() -> int:
    fam = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    os.environ.setdefault("SPARK_GRAFT_STREAM_MFPT", "2")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("diepy-spark-famreplay")
    spark.sparkContext.setLogLevel("ERROR")

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    mat(qs["r9_distinct"](spark, sf_dir))

    def family_of(name: str) -> str:
        m2 = re.match(r"(x\d+|[a-z]+)", name)
        return m2.group(1) if m2 else name

    runs: dict[str, list[float]] = {}
    for name in sorted(qs):
        if family_of(name) != fam:
            continue
        fn = qs[name]
        pair = []
        for _ in range(2):
            t0 = time.perf_counter()
            mat(fn(spark, sf_dir))
            pair.append(round(time.perf_counter() - t0, 3))
        runs[name] = pair
        print(f"{name:34s} {pair}", flush=True)
    warm = round(sum(min(p) for p in runs.values()), 3)
    cold = round(sum(p[0] for p in runs.values()), 3)
    print(json.dumps({"family": fam, "warm": warm, "cold": cold, "runs": runs}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
