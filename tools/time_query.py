"""Per-query optimization harness (optimization round r12): time named
registry queries against the noop sink (guide §1.4) in ONE JVM with
best/median over N iters, and optionally run each once and dump the
final (executed) `.explain("formatted")` to plans/<tag>/<name>_<suffix>.txt
so plan claims are reproducible.

Usage:
  python tools/time_query.py name1,name2 [--iters 6] [--sf-dir DIR]
      [--explain plans/r12 --suffix before]

Interleaved same-JVM timing is the established methodology (memory
note r6: per-query fresh-JVM best-of-N overstates codegen-heavy
plans). Jobs are labeled per query (guide §1.5).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_ipl_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from aws_ipl_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--iters", type=int, default=6)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--explain", default=None, help="directory for plan dumps")
    ap.add_argument("--suffix", default="plan", help="plan file suffix")
    args = ap.parse_args()

    names = [n.strip() for n in args.names.split(",")]
    missing = [n for n in names if n not in REGISTRY]
    if missing:
        print(f"unknown queries: {missing}")
        return 2

    spark = get_spark(app_name="time-query")
    spark.sparkContext.setLogLevel("ERROR")
    # warm parquet footers + JIT on a trivial action (same as bench.py)
    spark.read.parquet(f"{args.sf_dir}/region.parquet").count()

    for name in names:
        fn = REGISTRY[name].fn
        if args.explain:
            import contextlib
            import io

            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf_dir)
            # run it once first, so the dump is AQE's final plan (the
            # one that ran), not the isFinalPlan=false initial plan
            df._jdf.queryExecution().toRdd().count()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.explain, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"  plan -> {path}", file=sys.stderr)
        if args.iters <= 0:  # plan-dump-only mode
            continue
        runs: list[float] = []
        spark.sparkContext.setJobDescription(name)
        for _ in range(args.iters):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        best = round(min(runs), 3)
        med = round(statistics.median(runs), 3)
        print(f"{name}: best {best}s median {med}s runs={[round(r, 3) for r in runs]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
