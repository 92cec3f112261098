"""Per-query isolation bench (guide §1.4): noop-sink timing + plan capture.

NOT the driver contract — ``bench.py`` stays frozen.  This harness exists
for the optimization loop: time any subset of declared queries in one warm
session with the noop sink, optionally capture ``explain("formatted")``
per query into a directory (a scratch one: the dumps are not kept in the
repository), repeat runs for noise.

Usage::

    python bench_extra.py --sf-dir /root/testdata/sf1.0 \
        --queries q33d_dsir_weights,q18b_quantized_ann --repeats 3 \
        --explain-dir /tmp/plans --explain-suffix _before

    python bench_extra.py --all --repeats 1          # full sweep, timings only
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path

os.environ.setdefault("OMP_NUM_THREADS", "1")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--queries", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--explain-suffix", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--warmup", action="store_true",
                    help="run each query once untimed before the timed "
                         "repeats (removes first-run JIT/codegen skew)")
    args = ap.parse_args()

    from red_seal_ocr_spark.plans.queries import SPARK_QUERIES
    from red_seal_ocr_spark.session import get_spark

    if args.all:
        names = sorted(SPARK_QUERIES)
    else:
        names = [n for n in args.queries.split(",") if n]
        unknown = [n for n in names if n not in SPARK_QUERIES]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("bench-extra", master=f"local[{CPUS}]")
    times: dict[str, list[float]] = {}
    try:
        for name in names:
            fn = SPARK_QUERIES[name]
            if args.explain_dir:
                Path(args.explain_dir).mkdir(parents=True, exist_ok=True)
                df = fn(spark, args.sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                Path(args.explain_dir, f"{name}{args.explain_suffix}.txt").write_text(plan)
            if args.warmup:
                fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite").save()
            samples = []
            for _ in range(args.repeats):
                spark.sparkContext.setJobDescription(name)
                t0 = time.time()
                df = fn(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            times[name] = samples
            print(f"{name}: {samples}", flush=True)
    finally:
        spark.stop()
    result = {"sf_dir": args.sf_dir, "cpus": CPUS,
              "queries_min": {n: min(s) for n, s in times.items() if s},
              "queries_samples": times}
    line = json.dumps(result)
    if args.out:
        Path(args.out).write_text(line)
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
