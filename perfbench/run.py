"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload olap_adhoc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs under
``.perfbench/`` (corpus tables, package index, oracle cache), clears the
program's on-disk state, sets up the engine, measures one window and checks
every op. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A run record (seed, cpus, load, versions) is printed on the
line before it and kept under ``.perfbench/runs/``.

Exits non-zero without a result when the program is not in the checkout or
the run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

from tracing import TraceSession, p50, pct
from workloads import WORKLOADS, nproc

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Corpus scale (1.0 = sf1 row counts). Engine start and load_tables alone
# cost 16-19 s from sf0.01 to sf0.1, and every workload must fit its runs in
# the benchmark's time budget, which sf0.1 windows do not.
SCALE = 0.01
# Directory basename of the corpus: the program keys its fixtures by it
# (tmp_io/<tag>/...), so it must not collide with the testdata tags.
CORPUS = f"bench-sf{SCALE:g}"
CORPUS_VERSION = "1"
RUN_LIMIT_S = 175
# The engine's default driver heap (8g) lets the JVM's heap sizing follow
# GC timing, which follows ambient load: peak memory then varied from 2.5 to
# 4.4 GB between identical runs. A heap sized for the corpus keeps it steady.
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env() -> None:
    """Pin the engine to the machine's cores and a driver heap sized for
    the corpus, and keep every scratch file Spark and the JVM write inside
    the checkout. Must run before pyspark starts the JVM."""
    tmp = os.path.join(STATE, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def reset_state() -> None:
    """Every run starts from the same on-disk program state: no fixtures,
    streaming checkpoints, warehouse tables or Spark scratch from an
    earlier run."""
    io_dir = os.path.join(ROOT, "tmp_io")
    for path in (
        os.path.join(io_dir, CORPUS),
        os.path.join(io_dir, "stream_src", CORPUS),
        os.path.join(io_dir, "checkpoints"),
        os.path.join(ROOT, "spark-warehouse"),
        os.path.join(STATE, "spark-local"),
        os.path.join(STATE, "tmp"),
    ):
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(STATE, "spark-local"))
    os.makedirs(os.path.join(STATE, "tmp"))


def ensure_corpus() -> str:
    from datagen import write_corpus

    sf_dir = os.path.join(STATE, "data", CORPUS)
    marker = os.path.join(sf_dir, f".complete-v{CORPUS_VERSION}")
    if not os.path.exists(marker):
        shutil.rmtree(sf_dir, ignore_errors=True)
        part = sf_dir + ".part"
        shutil.rmtree(part, ignore_errors=True)
        write_corpus(part, SCALE)
        os.rename(part, sf_dir)
        open(marker, "w").close()
    return sf_dir


def tree_pids() -> list[int]:
    """This process and all of its descendants (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_kb() -> int:
    """Proportional resident memory of the process tree: pages shared
    between forked workers count once in total, not once per worker."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Peak of the tree's resident memory, sampled twice a second on a
    daemon thread from start() to stop()."""

    def __init__(self, period_s: float = 0.5):
        self.period_s, self.peak_kb = period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb())
            self._stop.wait(self.period_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, tree_pss_kb())
        return self.peak_kb / 1024.0


class Context:
    """What a workload needs from the run: the session, the corpus, the
    seed and the window, the registry, and the trace session (or None)."""

    def __init__(self, seed: int, seconds: float, sf_dir: str, trace):
        self.seed, self.seconds, self.sf_dir, self.trace = seed, seconds, sf_dir, trace
        self.spark = None
        self.queries: dict = {}
        self.timings: dict = {}
        self._op = 0

    def next_op_id(self) -> int:
        self._op += 1
        return self._op

    @staticmethod
    def state_path(name: str) -> str:
        return os.path.join(STATE, name)


def window_metrics(ops, window_s: float) -> dict:
    lat = [op.latency_s * 1e3 for op in ops]
    return {
        "ops_per_s": len(ops) / window_s,
        "op_p50_ms": p50(lat),
        "op_p90_ms": pct(lat, 90),
    }


def run_record(args, load_start, spark) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": load_start, "loadavg_end": list(os.getloadavg()),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "corpus": CORPUS,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that hangs is killed
                proc.kill()
                proc.wait(timeout=30)


def _timeout(_sig, _frm):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pkg2_spark", "__init__.py")):
        print("perfbench: pkg2_spark/ is not in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    sys.path.insert(0, ROOT)
    load_start = list(os.getloadavg())
    os.makedirs(STATE, exist_ok=True)
    configure_env()

    # Inputs, oracle answers and the state reset are not set-up of the
    # program: they are timed apart and left out of setup_s. Importing the
    # program is set-up, so it is timed on its own before the oracle step
    # (which would import it otherwise) and stays in setup_s.
    t = time.perf_counter()
    sf_dir = ensure_corpus()
    reset_state()
    trace = None
    if args.trace:
        trace = TraceSession(os.path.join(ROOT, "tmp_io", CORPUS))
        trace.operators.install()
    untimed = time.perf_counter() - t
    t = time.perf_counter()
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.registry import all_queries
    from pkg2_spark.session import get_session

    imports_s = time.perf_counter() - t
    t = time.perf_counter()
    ctx = Context(args.seed, args.seconds, sf_dir, trace)
    workload = WORKLOADS[args.workload](ctx)
    workload.oracle()
    untimed += time.perf_counter() - t

    spark = None
    memory = MemorySampler().start()
    try:
        t = time.perf_counter()
        spark = ctx.spark = get_session(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        ctx.timings["session.start_s"] = time.perf_counter() - t + imports_s
        if trace:
            trace.attach(spark)
            jobs0 = trace.ungrouped_jobs()
        t = time.perf_counter()
        load_tables(spark, sf_dir)
        ctx.timings["catalog.load_s"] = time.perf_counter() - t
        ctx.queries = all_queries()
        if trace:
            ctx.timings["catalog.jobs"] = trace.ungrouped_jobs() - jobs0
            jobs0 = trace.ungrouped_jobs()
        t = time.perf_counter()
        workload.prepare()
        ctx.timings["prepare.s"] = time.perf_counter() - t
        if trace:
            ctx.timings["prepare.jobs"] = trace.ungrouped_jobs() - jobs0
        setup_s = time.perf_counter() - START - untimed

        if trace:
            trace.enabled = True
        t = time.perf_counter()
        ops = workload.run(args.seconds)
        window_s = max(op.end for op in ops) - t
        if trace:
            trace.enabled = False
        peak_mb = memory.stop()
        if trace:
            time.sleep(1.0)  # let the streaming listener bus drain
            values = trace.metrics(ops, ctx.timings)  # before check() drops results
        workload.check(ops)
        failed = [op for op in ops if not op.ok]
        if trace:
            values["error_ratio"] = len(failed) / len(ops)
            declared = spec["per_layer"]
        else:
            values = window_metrics(ops, window_s)
            values.update(setup_s=setup_s, peak_rss_mb=peak_mb)
            declared = spec["end_to_end"]
        record = run_record(args, load_start, spark)
        record["failed_ops"] = sorted({f"{op.name}: {op.detail}" for op in failed})
        ops_log = [[op.name, round(op.latency_s * 1e3, 3), op.ok] for op in ops]
        record["setup"] = {"setup_s": setup_s, "untimed_inputs_s": untimed, **ctx.timings}
    finally:
        memory.stop()
        workload.close()
        if spark is not None:
            stop_spark(spark)
        signal.alarm(0)

    missing = {m["name"] for m in declared} ^ set(values)
    if missing:
        raise RuntimeError(f"metrics out of step with BENCHMARK.json: {sorted(missing)}")
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    with open(os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"run": record, "metrics": values, "ops": ops_log,
                   "spans": trace.tracer.dump() if trace else []}, f)
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
