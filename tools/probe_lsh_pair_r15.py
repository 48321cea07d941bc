"""Isolated fresh-session probe for lsh_pair_build (r15, VERDICT r14
item 3): the banded-LSH pair build drifted 4.27 -> 6.18 s between the
r13 and r14 freezes with NO code or plan change to the path.  The
SCALE.md attribution treatment: N fresh-session runs on HEAD, memo
cleared per run, noop sink, so the isolated floor/median either
reproduces the old line (ambient) or confirms a real plan move.

Usage: python tools/probe_lsh_pair_r15.py [runs=6]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from distributed_graph_coloring_with_pyspark_spark.cache import release  # noqa: E402
from distributed_graph_coloring_with_pyspark_spark.operators.similarity import (  # noqa: E402
    neardup_pair_frame_cached,
)
from distributed_graph_coloring_with_pyspark_spark.session import get_spark  # noqa: E402


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    times = []
    for i in range(runs):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = get_spark(app_name=f"probe-lsh-pair-{i}", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        release(spark, "neardup_pairs", "lsh")
        spark.sparkContext.setJobDescription(f"lsh_pair_build probe run {i}")
        t0 = time.monotonic()
        df = neardup_pair_frame_cached(spark, sf_dir, "lsh")
        df.write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        times.append(dt)
        print(f"run {i}: {dt:.2f}s  (loadavg {os.getloadavg()[0]:.1f})", flush=True)
    print(
        f"--- floor {min(times):.2f}s  median {statistics.median(times):.2f}s  "
        f"runs [{', '.join(f'{t:.2f}' for t in times)}]"
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


if __name__ == "__main__":
    main()
