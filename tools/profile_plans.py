"""Optimization profiler: per-query noop-sink floors + formatted plans.

Usage:
    python tools/profile_plans.py <outdir> <tag> <query> [query ...]
                                  [--sf DIR] [--runs N]

For each named catalog query: clears the shared cuts, times the noop
sink N times (guide §1.4), records the floor, and writes the
pre-execution ``explain("formatted")`` plus the AQE-final executed plan
to ``<outdir>/<query>_<tag>.txt`` (e.g. ``plans/r13``, tag = before /
after). Prints one JSON line per query so A/B runs diff cleanly; besides
the floor it carries the builder call's own cost, fastest of the N runs:
``build_s`` (its wall time, eager cuts included) and ``py4j_calls`` (its
Py4J round trips, the driver-side cost of building the plan).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_ender_turing_spark.plans import CATALOG, llm_catalog
from etl_ender_turing_spark.session import count_py4j_calls, get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("outdir")
    ap.add_argument("tag")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    sf_dir, outdir = args.sf, args.outdir
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark("profile-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: JVM + parquet footer caches (same convention as bench.py)
    for t in ("lineitem", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    for name in args.queries:
        spec = CATALOG.get(name)
        if spec is None:
            print(json.dumps({"query": name, "err": "not in CATALOG"}))
            continue
        samples, builds, calls = [], [], []
        df = None
        for _ in range(args.runs):
            llm_catalog.clear_fixture_cache()
            spark.sparkContext.setJobDescription(f"profile {name}")
            t0 = time.perf_counter()
            with count_py4j_calls(spark) as n:
                df = spec.builder(spark, sf_dir)
            builds.append(time.perf_counter() - t0)
            calls.append(n.calls)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        # formatted pre-execution plan + the AQE-final executed plan of
        # the LAST sample (already executed, so executedPlan is final)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        executed = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf_dir}  noop-sink samples: {samples}\n")
            f.write("\n== explain(formatted) ==\n")
            f.write(formatted)
            f.write("\n\n== AQE-final executed plan (last sample) ==\n")
            f.write(executed)
        print(json.dumps({"query": name, "floor": min(samples),
                          "samples": samples,
                          "build_s": round(min(builds), 3),
                          "py4j_calls": min(calls), "plan": path}))
    spark.stop()


if __name__ == "__main__":
    main()
