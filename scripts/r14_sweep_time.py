"""Round-14 whole-registry timing sweep (guide §1: measure first).

One line per registered query: two full build-inclusive invocations to the
noop sink (plan construction + every job the operator submits — the honest
latency for iterative/streaming shapes), keeping the MIN of the two so a
first-invocation fixture build or JIT warm-up does not read as query cost.
Purpose is ranking, not benchmarking: anything slow here gets the full
scripts/measure.py treatment before/after a change.

Usage: python scripts/r14_sweep_time.py [--out tmp_io/sweep_time_r14.json]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pkg2_spark.catalog import load_tables  # noqa: E402
from pkg2_spark.registry import all_queries  # noqa: E402
from pkg2_spark.session import get_session  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    out = "tmp_io/sweep_time_r14.json"
    if args and args[0] == "--out":
        out = args[1]
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(app_name="pkg2_r14_sweep", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)
    queries = all_queries()
    names = args or sorted(queries)

    results: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        best = None
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            results[name] = round(best, 4)
            print(f"[{i + 1}/{len(names)}] {name}: {best:.3f}s", flush=True)
        except Exception:
            errors[name] = traceback.format_exc(limit=3)
            print(f"[{i + 1}/{len(names)}] {name}: ERROR", flush=True)
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = []
    Path(out).write_text(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "loadavg_end": load,
                "timings": results,
                "errors": errors,
            },
            indent=2,
        )
        + "\n"
    )
    slow = sorted(results.items(), key=lambda kv: -kv[1])[:40]
    print("\nslowest 40:")
    for n, t in slow:
        print(f"  {n:32s} {t:7.3f}")
    print(f"\ntotal {sum(results.values()):.1f}s over {len(results)} queries; "
          f"{len(errors)} errors -> {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
