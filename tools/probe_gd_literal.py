"""A/B probe: per-GD-step cost with the 257-node F.array(*lits) weight
literal vs one F.lit(list) array literal (the _cell_scores lesson).
Run: python tools/probe_gd_literal.py [sf_dir]

HISTORICAL NOTE (r14 opt): this probe produced the first evidence
(identical weights/losses, ~20-35% off the build) that led to
litutil.py.  Since then _train_dual builds its per-step projections as
SQL strings and no longer calls _weight_array at all, so the two arms
below now measure the SAME code path; the probe is kept only to
document the measurement that motivated the change (cProfile then
showed even F.lit(list) is per-element py4j — see litutil's module
docstring for the final numbers).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from distributed_graph_coloring_with_pyspark_spark.cache import release
from distributed_graph_coloring_with_pyspark_spark.session import get_spark
from distributed_graph_coloring_with_pyspark_spark.operators import classifier as C


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="probe-gd")
    spark.sparkContext.setLogLevel("ERROR")

    old_weight_array = C._weight_array

    def lit_weight_array(weights):
        return F.lit([float(weights[b]) for b in range(-1, C._CLS_BUCKETS)])

    for tag, wa in (("old-array", old_weight_array), ("new-lit", lit_weight_array),
                    ("old-array2", old_weight_array), ("new-lit2", lit_weight_array)):
        C._weight_array = wa
        release(spark, "classifier")
        t0 = time.monotonic()
        w_full, losses, n = C.trained_weights_cached(spark, sf_dir, "full")
        t1 = time.monotonic()
        print(f"{tag}: train_dual {t1-t0:.2f}s  loss[-1]={losses[-1]:.10f} "
              f"w[-1]={w_full[-1]:.12f} w[0]={w_full[0]:.12f} n={n}")
    C._weight_array = old_weight_array


if __name__ == "__main__":
    main()
