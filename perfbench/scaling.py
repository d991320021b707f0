"""One warmed build on a given master, in its own JVM, for the scaling
diagnostic of the traced kg_build run.

    python3 perfbench/scaling.py --master local[1] --work DIR \\
        --pages P.parquet --gazetteer G.parquet

Warms the JVM with as many builds as kg_build's set-up does, then prints
``{"build_s": ...}`` for one more build of the same pages.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from run import prepare_env, session_conf, stop_spark


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    for a in ("--master", "--work", "--pages", "--gazetteer"):
        p.add_argument(a, required=True)
    args = p.parse_args()
    prepare_env(args.work)
    from augmented_codebase_indexer_spark.plans.pipeline import build_graph
    from augmented_codebase_indexer_spark.session import get_spark
    from workloads import WARMUP_BUILDS

    spark = get_spark(app_name="perfbench-scaling", master=args.master,
                      extra_conf=session_conf(args.work, trace=False))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        gaz = spark.read.parquet(args.gazetteer)
        pages = spark.read.parquet(args.pages)
        for i in range(WARMUP_BUILDS):
            build_graph(spark, pages, gaz, os.path.join(args.work, f"warm{i}"), run_id="warm")
        t = time.perf_counter()
        build_graph(spark, spark.read.parquet(args.pages), gaz,
                    os.path.join(args.work, "timed"), run_id="timed")
        build_s = time.perf_counter() - t
    finally:
        stop_spark(spark)
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps({"build_s": build_s}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
