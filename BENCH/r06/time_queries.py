#!/usr/bin/env python
"""Targeted query timing with the noop sink (guide section 1.4/1.5).

Usage: python BENCH/r06/time_queries.py <sf_dir> q_a,q_b,... [reps=3]
Times the checkout this copy of the script lives in.  Prints one line per
query (name, min wall, every rep's wall), then all reps as one JSON object.
"""
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

SF = sys.argv[1]
NAMES = sys.argv[2].split(",")
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

from tsdownsample_spark.plans.session import get_spark
import __spark_entry__ as E

spark = get_spark(
    app_name="tsds-r06-probe",
    master=f"local[{CPUS}]",
    shuffle_partitions=2 * CPUS,
    extra_conf={"spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024)},
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

qs = E.queries()
out = {}
for name in NAMES:
    fn = qs[name]
    reps = []
    for i in range(REPS):
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        t0 = time.time()
        fn(spark, SF).write.format("noop").mode("overwrite").save()
        reps.append(round(time.time() - t0, 3))
    out[name] = reps
    print(name, "min", min(reps), "all", reps, flush=True)
spark.stop()
print(json.dumps(out))
