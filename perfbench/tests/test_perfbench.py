"""Self-tests of the benchmark harness.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

``test_traced_counts_repeat`` starts the engine twice (about two minutes);
the others need no Spark session.
"""

from __future__ import annotations

import hashlib
import http.server
import json
import os
import re
import subprocess
import sys
import threading
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
from tracing import MemoProbe, StateProbe, TraceSession  # noqa: E402
from workloads import WORKLOADS, PackageRequests, QueryLoop, nproc  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_is_well_formed():
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    names += [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in s["end_to_end"] + s["per_layer"])
    assert all(w["name"] in WORKLOADS for w in s["workloads"])
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_emitted_names_match_benchmark_json(tmp_path):
    s = spec()
    ops = [types.SimpleNamespace(latency_s=0.1 * i, start=0.0, end=1.0) for i in range(1, 4)]
    e2e = set(run.window_metrics(ops, 1.0)) | {"setup_s", "peak_rss_mb"}
    assert e2e == {m["name"] for m in s["end_to_end"]}

    trace = TraceSession(str(tmp_path))
    trace.state = StateProbe(str(tmp_path))
    trace.memo = MemoProbe()
    trace.jobs = types.SimpleNamespace(_lock=threading.Lock(), batches={})
    layers = set(trace.metrics([], {})) | {"error_ratio"}
    assert layers == {m["name"] for m in s["per_layer"]}


def test_inputs_follow_the_seed(tmp_path):
    def digest(path):
        with open(path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()

    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.write_apkindex(a, 5)
    datagen.write_apkindex(b, 5)
    datagen.write_apkindex(c, 6)
    assert digest(a) == digest(b) != digest(c)
    datagen.write_corpus(str(tmp_path / "x"), 0.001)
    datagen.write_corpus(str(tmp_path / "y"), 0.001)
    for t in ("lineitem", "documents", "embeddings"):
        assert digest(tmp_path / "x" / f"{t}.parquet") == digest(tmp_path / "y" / f"{t}.parquet")


def test_load_generator_stays_within_nproc():
    """The loop sends service requests from its own thread, one connection
    at a time, ends its window at a pass boundary, and every request
    completes."""
    lock, state = threading.Lock(), {"open": 0, "max": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_POST(self):  # noqa: N802
            with lock:
                state["open"] += 1
                state["max"] = max(state["max"], state["open"])
            self.rfile.read(int(self.headers["Content-Length"]))
            time.sleep(0.02)
            body = b'{"endpoint": "search", "columns": [], "rows": [], "row_count": 0}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            with lock:
                state["open"] -= 1

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        ctx = types.SimpleNamespace(seed=1, trace=None, state_path=run.Context.state_path)
        service = PackageRequests(ctx)
        service.port = server.server_address[1]
        service.requests = [("search", {"pattern": "x%"})] * 7
        loop = QueryLoop(ctx, [], shuffle_each_pass=True, service=service)
        before = threading.active_count()
        ops = loop.run(0.2)
        assert threading.active_count() <= before
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=10)
    assert 1 <= state["max"] <= nproc()
    assert len(ops) >= 7 and len(ops) % 7 == 0
    assert sorted(op.request for op in ops[:7]) == list(range(7))
    assert all(op.error is None and op.end >= op.sent >= op.start for op in ops)


COUNTS = ("catalog.jobs", "build.jobs_per_op", "execute.jobs_per_op",
          "execute.stages_per_op", "execute.tasks_per_op")


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, "pkg2_spark")),
                    reason="needs the program in the checkout")
def test_traced_counts_repeat():
    """Two traced runs with one seed see the same jobs, stages and tasks."""
    results = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "olap_adhoc",
             "--seed", "7", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    a, b = ({k: r["metrics"][k]["value"] for k in COUNTS} for r in results)
    assert a == b
    assert a["execute.jobs_per_op"] > 0
    assert all(r["correct"] for r in results)
