"""Per-entry profiling harness for optimization rounds.

Usage:
    python tools/profile_entries.py [--plans-dir plans/r13] [--suffix before] \
        [--runs 3] name1 name2 ...

For each named catalog entry (at least one name is required), this
  1. captures ``df.explain("formatted")`` to <plans-dir>/<name>_<suffix>.txt
  2. times the noop-sink force (N runs, min + median, unpersist-all
     between runs)
and prints one JSON line with the per-entry numbers, so before/after
comparisons of single entries come from one reproducible command.

Not part of the driver contract; ``perfbench/run.py`` is the benchmark of
record.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-dir", default=None, help="directory for explain dumps")
    ap.add_argument("--suffix", default=None, help="file suffix, e.g. before/after")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = args.names

    from markt_database_analyzer_spark.catalog import REGISTRY
    from markt_database_analyzer_spark.session import get_spark

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")

    spark = get_spark(app_name="mda-profile", extra_conf={"spark.ui.enabled": "false"})

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def release_blocks():
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass
        spark.catalog.clearCache()

    # warm JVM + parquet footers + python workers
    force(REGISTRY["j1_revenue_by_priority"].fn(spark, args.sf_dir))
    import pandas as pd  # noqa: F401

    def _identity(it):
        yield from it

    force(spark.range(0, 32, 1, 32).mapInPandas(_identity, schema="id long"))
    release_blocks()

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        if args.plans_dir and args.suffix:
            df = spec.fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
            release_blocks()
        if args.runs == 0:  # plans-only mode
            continue
        samples = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            force(spec.fn(spark, args.sf_dir))
            samples.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
            release_blocks()
        samples.sort()
        mid = len(samples) // 2
        med = samples[mid] if len(samples) % 2 else (samples[mid - 1] + samples[mid]) / 2
        out[name] = {"min": round(samples[0], 3), "median": round(med, 3)}
        print(f"  {name}: min={samples[0]:.3f} med={med:.3f}", file=sys.stderr)

    print(json.dumps({"sf_dir": args.sf_dir, "runs": args.runs, "entries": out}))


if __name__ == "__main__":
    main()
