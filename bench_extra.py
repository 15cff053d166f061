#!/usr/bin/env python
"""Round-6 measurement harness (spark_optimization_guide §1).

Separate from the FROZEN bench.py: isolates each declared query with
the noop sink (§1.4 — times the computation, not the collect/driver
transfer), labels jobs (§1.5), and captures .explain("formatted") for
the plan-shape record (plans/r06/<query>_{before,after}.txt).

Usage:
  python bench_extra.py [--sf-dir /root/testdata/sf0.1] [--queries a,b]
                        [--samples 3] [--plans-suffix before|after|'']
                        [--out BENCH/r06_extra_<tag>.json]

Prints one JSON line {query: best_sec, ...} and writes the full sample
record to --out.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

repo_dir = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, repo_dir)


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--plans-suffix", default="")
    ap.add_argument("--plans-dir", default=os.path.join(repo_dir, "plans", "r06"))
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from wtq.queries import QUERIES
    from wtq.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("wtq-bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    names = [n for n in args.queries.split(",") if n] or list(QUERIES)
    results: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        if args.plans_suffix:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(os.path.join(args.plans_dir, f"{name}_{args.plans_suffix}.txt"), "w") as f:
                f.write(explain_str(fn(spark, args.sf_dir)))
        ss = []
        for i in range(args.samples):
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            ss.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = min(ss)
        samples[name] = ss
        print(f"{name}: best {results[name]}s samples={ss}", file=sys.stderr, flush=True)

    if args.out:
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "cpus": cpus, "best": results, "samples": samples}, f, indent=1)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
