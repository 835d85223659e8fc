"""Jobs-per-query probe (VERDICT r11 target #5): for each named query,
materialize it via the noop sink and report wall seconds plus how many
Spark JOBS it launched (statusTracker job-id delta) — the mid-band at
sf0.1 is dominated by fixed per-job overhead, so job count is the
ranking signal for where collapsing collect-rounds / fusing probe jobs
pays.

Usage: python tools/jobs_probe.py [query ...]      (default: all)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from manipula_o_de_dataframes_spark.queries import QUERIES  # noqa: E402
from manipula_o_de_dataframes_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or sorted(QUERIES)
    spark = get_spark("jobs_probe")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    # untimed warm-up on the measured directory pays JVM/codegen once; a
    # missing sf_dir fails here instead of warming up on another fixture
    QUERIES[names[0]](spark, sf_dir).write.mode("overwrite").format("noop").save()

    rows = []
    for name in names:
        before = tracker.getJobIdsForGroup(None)
        hi0 = max(before) if before else -1
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        after = tracker.getJobIdsForGroup(None)
        njobs = len([j for j in after if j > hi0])
        rows.append((name, round(dt, 3), njobs))
        print(f"{name}\t{dt:.3f}s\t{njobs} jobs", flush=True)

    rows.sort(key=lambda r: -r[2])
    print("\n== ranked by job count ==")
    for name, dt, nj in rows[:25]:
        print(f"{nj:3d} jobs  {dt:7.3f}s  {name}")


if __name__ == "__main__":
    main()
