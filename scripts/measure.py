"""Query measurement harness: formatted plans and steady-state timings.

Usage:
  python scripts/measure.py plans --out DIR [--tag before|after] [query ...]
      Write .explain("formatted") for each query to DIR/<q>_<tag>.txt
      (e.g. --out plans/r16 for a round's before/after plan pairs).
  python scripts/measure.py time [--sink noop|collect] [--runs 3] [query ...]
      Per-query steady-state timing: 2 warm-ups then median of N, using the
      noop sink by default so the computation (not result pickling) is timed.

Defaults to the bench.py query set at $SPARK_GRAFT_SF_DIR (sf0.1). Jobs are
labelled via setJobDescription so the UI/event log is legible (guide §1.5).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from pkg2_spark.catalog import load_tables  # noqa: E402
from pkg2_spark.registry import all_queries  # noqa: E402
from pkg2_spark.session import get_session  # noqa: E402

BENCH_SET = bench.HEADLINE + bench.TIER2 + bench.TPCH


def main() -> int:
    args = sys.argv[1:]
    mode = args.pop(0) if args else "time"
    tag = "before"
    outdir = None
    sink = "noop"
    runs = 3
    while args and args[0].startswith("--"):
        flag = args.pop(0)
        if flag == "--out":
            outdir = Path(args.pop(0))
        elif flag == "--tag":
            tag = args.pop(0)
        elif flag == "--sink":
            sink = args.pop(0)
        elif flag == "--runs":
            runs = int(args.pop(0))
    names = args or BENCH_SET
    if mode == "plans" and outdir is None:
        print("plans mode needs --out DIR", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(app_name="pkg2_measure", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)
    queries = all_queries()

    if mode == "plans":
        outdir.mkdir(parents=True, exist_ok=True)
        import contextlib
        import io

        for name in names:
            spark.sparkContext.setJobDescription(f"plan:{name}")
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            (outdir / f"{name}_{tag}.txt").write_text(plan)
            print(f"wrote {name}_{tag}.txt ({plan.count(chr(10))} lines)")
        return 0

    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time:{name}")
        df = queries[name](spark, sf_dir)

        if sink == "noop":
            def run_once(d=df):
                d.write.format("noop").mode("overwrite").save()
        else:
            def run_once(d=df):
                d.collect()

        build_inclusive = name in bench.TIER2
        if build_inclusive:
            # Same posture as bench.py TIER2: re-invoke the query function so
            # streaming replay / fixpoint build cost is included.
            if sink == "noop":
                def run_once(n=name):  # noqa: F811
                    queries[n](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
            else:
                def run_once(n=name):
                    queries[n](spark, sf_dir).collect()
            run_once()
        else:
            run_once()
            run_once()
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            run_once()
            samples.append(time.perf_counter() - t0)
        med = sorted(samples)[len(samples) // 2]
        timings[name] = round(med, 4)
        print(f"{name}: med={med:.4f}s min={min(samples):.4f}s "
              f"spread={max(samples)/min(samples):.2f}")
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = []
    print(json.dumps({"sink": sink, "timings": timings,
                      "total": round(sum(timings.values()), 4),
                      "loadavg": load}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
