"""Traced runs: spans and counts recorded around the calls into each layer.

Everything here observes the program from outside: it wraps public
functions, reads Spark's status store and walks directories. Nothing under
``pkg2_spark/`` records anything itself. Spans stay in memory and are
summarised into per-layer metrics when the run ends.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

from workloads import ENDPOINTS

# Operator modules whose public functions get spans. They must be wrapped
# before ``pkg2_spark.queries`` is imported: the query modules bind these
# functions by name at import time (``from ... import tokenize``).
OPERATOR_MODULES = ("text", "lsh", "dedup", "dedup_index", "similarity", "hashing")

# Fixture directories (under tmp_io/<corpus tag>/) that hold dedup-index
# state.
DEDUP_STATE_DIRS = ("dedup_incr_state", "dedup_compact", "stream_dedup_index")


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: int):
    """Percentile ``q`` (1-99) of ``xs``, interpolated between the nearest
    samples; 0.0 when empty."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "children_s")

    def __init__(self, name, start, parent, op):
        self.name, self.start, self.end = name, start, start
        self.parent, self.op, self.children_s = parent, op, 0.0

    @property
    def self_s(self) -> float:
        return max(0.0, self.end - self.start - self.children_s)


class Tracer:
    """In-memory span recorder. Each thread keeps its own span stack; an
    op id ties the spans of one op (query invocation or request)
    together."""

    def __init__(self):
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()

    @property
    def op(self):
        return getattr(self._tls, "op", None)

    @op.setter
    def op(self, value):
        self._tls.op = value

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, name: str) -> Span:
        st = self._stack()
        sp = Span(name, time.perf_counter(), st[-1] if st else None, self.op)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> Span:
        sp.end = time.perf_counter()
        st = self._stack()
        st.pop()
        if sp.parent is not None:
            sp.parent.children_s += sp.end - sp.start
        with self._lock:
            self.spans.append(sp)
        return sp

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        """Every span in end order: name, start and end (seconds on the
        run's clock), the index of its parent span, and its op id."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": index.get(id(s.parent)) if s.parent else None, "op": s.op}
            for s in self.spans
        ]


# ------------------------------------------------------------ operators

class OperatorProbe:
    """Wraps every public function of the operator modules with a span and
    counts the Spark jobs fired inside each call."""

    def __init__(self, tracer: Tracer, jobs_fn, book, enabled):
        self.tracer, self.jobs_fn, self.book, self.enabled = tracer, jobs_fn, book, enabled
        self.jobs: dict[str, int] = defaultdict(int)

    def install(self) -> None:
        if "pkg2_spark.queries" in sys.modules:
            raise RuntimeError("operators must be wrapped before pkg2_spark.queries is imported")
        wrapped = {}
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"pkg2_spark.operators.{m}")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                wrapped[fn] = self._wrap(f"operators.{m}", fn)
                setattr(mod, attr, wrapped[fn])
        # Operator modules import each other by name too; rebind those
        # copies so nested operator calls become child spans.
        for name, mod in list(sys.modules.items()):
            if name.startswith("pkg2_spark") and mod is not None:
                for attr, v in list(vars(mod).items()):
                    if inspect.isfunction(v) and v in wrapped:
                        setattr(mod, attr, wrapped[v])

    def _wrap(self, layer: str, fn):
        tracer, jobs, book, enabled = self.tracer, self.jobs_fn, self.book, self.enabled

        def traced(*args, **kwargs):
            if not enabled():
                return fn(*args, **kwargs)
            with book(inline=True):
                before = jobs()
            sp = tracer.begin(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp)
                with book(inline=True):
                    self.jobs[layer] += max(0, jobs() - before)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        traced.__doc__ = fn.__doc__
        return traced

    def metrics(self) -> dict:
        out = {}
        for m in OPERATOR_MODULES:
            layer = f"operators.{m}"
            spans = self.tracer.by_name(layer)
            out[f"{layer}.calls"] = len(spans)
            out[f"{layer}.self_ms"] = sum(s.self_s for s in spans) * 1e3
            out[f"{layer}.jobs"] = self.jobs[layer]
        return out


# ------------------------------------------------------------ spark jobs

class JobProbe:
    """Per-op job accounting from Spark's status tracker and status store.

    Every op runs under its own job group. Streaming queries started by an
    op run their micro-batch jobs under the query's run id as job group, so
    the streaming listener maps run ids back to the op that started them."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracer = tracer
        self.current: str | None = None
        self.stream_runs: dict[str, str] = {}
        self.batches: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._register_listener(spark)

    def _register_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # runs before start() returns
                with probe._lock:
                    probe.stream_runs[str(event.runId)] = probe.current

            def onQueryProgress(self, event):
                p = event.progress
                with probe._lock:
                    op = probe.stream_runs.get(str(p.runId))
                    probe.batches[op].append(float(p.durationMs.get("triggerExecution", 0)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def begin_op(self, op: str) -> None:
        self.tracer.op = self.current = op
        self.sc.setJobGroup(op, op)

    def end_op(self) -> None:
        self.current = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.tracer.op = None

    def groups(self, op: str) -> list[str]:
        with self._lock:
            return [op] + [r for r, o in self.stream_runs.items() if o == op]

    def job_ids(self, op: str) -> list[int]:
        st = self.sc.statusTracker()
        return sorted(j for g in self.groups(op) for j in st.getJobIdsForGroup(g))

    def stats(self, job_ids, since_ms: float) -> dict:
        """Stages, tasks, shuffle, spill and executor time over ``job_ids``;
        plus the first submission and last completion (epoch ms) of the jobs
        submitted at or after ``since_ms``."""
        out = dict(jobs=len(job_ids), stages=0, tasks=0, shuffle_read=0, shuffle_write=0,
                   spill=0, run_ms=0, cpu_ms=0.0, first_submit=None, last_done=None)
        seen = set()
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            jd = self.store.job(jid)
            sub = jd.submissionTime()
            done = jd.completionTime()
            sub_ms = sub.get().getTime() if sub.isDefined() else None
            done_ms = done.get().getTime() if done.isDefined() else None
            if sub_ms is not None and sub_ms >= since_ms:
                out["first_submit"] = min(out["first_submit"] or sub_ms, sub_ms)
                if done_ms is not None:
                    out["last_done"] = max(out["last_done"] or done_ms, done_ms)
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if str(sd.status()) not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of a DataFrame's query
    execution, from Catalyst's own phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


# ------------------------------------------------------------ disk state

def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} for every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _is_commit(path: str) -> bool:
    d, f = os.path.split(path)
    return os.path.basename(d) == "_log" and f.endswith(".json") and f[:-5].isdigit()


class StateProbe:
    """Table-format commits and data files found by walking the program's
    fixture directory before and after each op."""

    def __init__(self, root: str):
        self.root = root
        self.commits = 0
        self.files_written = 0
        self.bytes_written = 0
        self.rows_written = 0
        self._before: dict = {}

    def begin_op(self) -> None:
        self._before = snapshot(self.root)

    def end_op(self) -> None:
        after = snapshot(self.root)
        for p, meta in after.items():
            if self._before.get(p) == meta:
                continue
            if _is_commit(p):
                self.commits += 1
                self.rows_written += sum(a.get("rows", 0) for a in _read_json(p).get("add", []))
            elif p.endswith(".parquet"):
                self.files_written += 1
                self.bytes_written += meta[0]

    def live_bytes_per_row(self) -> float:
        """Bytes of live data files per live row, over every table-format
        table under the root (live = the fold of each table's log)."""
        live_bytes = live_rows = 0
        for d, dirs, _files in os.walk(self.root):
            if "_log" not in dirs:
                continue
            log = os.path.join(d, "_log")
            files: dict[str, int] = {}
            for f in sorted(os.listdir(log)):
                if not _is_commit(os.path.join(log, f)):
                    continue
                c = _read_json(os.path.join(log, f))
                for r in c.get("remove", []):
                    files.pop(r.get("path") if isinstance(r, dict) else r, None)
                for a in c.get("add", []):
                    files[a["path"]] = a.get("rows", 0)
            for path, rows in files.items():
                try:
                    live_bytes += os.path.getsize(os.path.join(d, path))
                    live_rows += rows
                except OSError:
                    continue
        return live_bytes / live_rows if live_rows else 0.0

    def metrics(self) -> dict:
        state = 0
        for name in DEDUP_STATE_DIRS:
            state += sum(s for s, _ in snapshot(os.path.join(self.root, name)).values())
        return {
            "tableformat.commits": self.commits,
            "tableformat.files_written": self.files_written,
            "tableformat.bytes_written_per_row": (
                self.bytes_written / self.rows_written if self.rows_written else 0.0),
            "tableformat.bytes_stored_per_live_row": self.live_bytes_per_row(),
            "dedup_index.state_bytes": state,
        }


def _read_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


class MemoProbe:
    """Hits and misses of the IVF quantizer memo. An op that consults the
    memo (the benchmark wraps ``queries.llm._ivf_memo`` to notice) is a
    miss when the memo's key set grew during the op, a hit otherwise."""

    def __init__(self):
        from pkg2_spark.queries import llm

        self.memo = llm._IVF_MEMO
        self.hits = self.misses = 0
        self._before: set = set()
        self._used = False
        lookup = llm._ivf_memo

        def ivf_memo(e):
            self._used = True
            return lookup(e)

        llm._ivf_memo = ivf_memo

    def begin_op(self) -> None:
        self._before = set(self.memo)
        self._used = False

    def end_op(self) -> None:
        if not self._used:
            return
        if set(self.memo) - self._before:
            self.misses += 1
        else:
            self.hits += 1

    def metrics(self) -> dict:
        return {"memo.ivf.misses": self.misses, "memo.ivf.hits": self.hits}


# ------------------------------------------------------------ the session

class TraceSession:
    """All probes of one traced run, and the per-layer summary.

    ``operators.install()`` must run before ``pkg2_spark.queries`` is
    imported; ``attach`` runs once the session exists. ``enabled`` is on
    only during the timed window; outside it (set-up, warm-up) the wrappers
    are plain pass-through calls."""

    def __init__(self, fixture_root: str):
        self.tracer = Tracer()
        self.enabled = False
        self.fixture_root = fixture_root
        self.ops: list[dict] = []
        self.requests: dict[str, dict] = {}
        self.setup_jobs: dict[str, int] = {}
        self._built: dict[str, int] = {}
        self._tls = threading.local()
        self._lock = threading.Lock()
        # Time the probes themselves spend: inside an op's measured latency
        # (inline) or between ops (outside).
        self.inline_s = self.outside_s = 0.0
        self.operators = OperatorProbe(
            self.tracer, self._jobs_now, self.book, lambda: self.enabled)
        self.jobs = None

    def attach(self, spark) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        self.jobs = JobProbe(spark, self.tracer)
        self.state = StateProbe(self.fixture_root)
        self.memo = MemoProbe()
        orig, tls = DataFrame.collect, self._tls

        def collect(df):
            tls.last_df = df
            return orig(df)

        DataFrame.collect = collect

    @contextlib.contextmanager
    def book(self, inline: bool):
        t = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t
            with self._lock:
                if inline:
                    self.inline_s += dt
                else:
                    self.outside_s += dt

    def overhead_ratio(self, latencies_s) -> float:
        """Traced over untraced time per op: the ops' measured time plus
        the probes' work between ops, over the same minus all probe work."""
        total = sum(latencies_s) + self.outside_s
        return total / max(total - self.inline_s - self.outside_s, 1e-9)

    def _jobs_now(self) -> int:
        if self.tracer.op is None:
            return 0
        return len(self.jobs.job_ids(self.tracer.op))

    def ungrouped_jobs(self) -> int:
        return len(self.jobs.sc.statusTracker().getJobIdsForGroup(None))

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.tracer.begin(name)
        try:
            yield sp
        finally:
            self.tracer.end(sp)

    # --------------------------------------------------------- query ops
    def begin_op(self, op_id: str) -> None:
        with self.book(inline=False):
            self.state.begin_op()
            self.memo.begin_op()
            self.jobs.begin_op(op_id)

    def built(self, op_id: str) -> None:
        with self.book(inline=True):
            self._built[op_id] = len(self.jobs.job_ids(op_id))

    def end_op(self, op_id: str, op, df, collect_wall) -> None:
        with self.book(inline=False):
            self._end_op(op_id, op, df, collect_wall)

    def _end_op(self, op_id: str, op, df, collect_wall) -> None:
        end_wall = time.time()
        self.jobs.end_op()
        self.state.end_op()
        self.memo.end_op()
        rec = self._job_record(op_id, df, collect_wall, end_wall)
        build = [s for s in self.tracer.spans if s.op == op_id and s.name == "build"]
        rec.update(
            latency_ms=(op.end - op.start) * 1e3,
            build_ms=sum(s.end - s.start for s in build) * 1e3,
            build_jobs=self._built.pop(op_id, rec["jobs"]),
            rows=len(op.result) if op.result is not None else 0,
            bytes=int(op.result.memory_usage(index=False, deep=True).sum())
            if op.result is not None else 0,
        )
        self.ops.append(rec)

    def _job_record(self, op_id: str, df, collect_wall, end_wall) -> dict:
        since = collect_wall * 1e3 if collect_wall else end_wall * 1e3
        st = self.jobs.stats(self.jobs.job_ids(op_id), since_ms=since)
        first, last = st.pop("first_submit"), st.pop("last_done")
        st["execute_ms"] = (last - first) if first is not None and last is not None else 0.0
        st["fetch_ms"] = max(0.0, end_wall * 1e3 - (last if last is not None else since))
        try:
            st.update(catalyst_phases(df) if df is not None else {})
        except Exception:  # noqa: BLE001 - a plan that never executed has no phases
            pass
        return st

    # ----------------------------------------------------------- service
    def instrument_service(self, service) -> None:
        """Wrap this service instance's ``handle``: each traced request
        (one that carries a ``_rid``) runs under its own job group and
        leaves a record keyed by its request id."""
        orig = service.handle
        from pkg2_spark.service import ServiceError

        def handle(endpoint, params=None):
            params = dict(params or {})
            rid = params.pop("_rid", None)
            if rid is None or not self.enabled:
                return orig(endpoint, params)
            with self.book(inline=True):
                self._tls.last_df = None
                self.memo.begin_op()
                self.jobs.begin_op(rid)
            t0, wall0 = time.perf_counter(), time.time()
            status = 200
            sp = self.tracer.begin("service")
            try:
                return orig(endpoint, params)
            except ServiceError:
                status = 400
                raise
            except Exception:
                status = 500
                raise
            finally:
                self.tracer.end(sp)
                t1, wall1 = time.perf_counter(), time.time()
                with self.book(inline=True):
                    self.jobs.end_op()
                    self.memo.end_op()
                    rec = self._job_record(rid, getattr(self._tls, "last_df", None), wall0, wall1)
                    rec.update(endpoint=endpoint, handle_ms=(t1 - t0) * 1e3, status=status)
                    self.requests[rid] = rec

        service.handle = handle

    # ----------------------------------------------------------- summary
    def metrics(self, ops, timings: dict) -> dict:
        """Per-layer metrics of the traced window. ``ops`` are the traced
        window's ops; ``timings`` holds the set-up phase measurements."""
        recs = self.ops + list(self.requests.values())
        n = max(len(recs), 1)
        total_ms = sum(op.latency_s for op in ops) * 1e3 or 1.0

        def col(key, of=recs):
            return [r.get(key, 0.0) for r in of]

        cat = [r.get("analysis", 0) + r.get("optimization", 0) + r.get("planning", 0) for r in recs]
        m = {
            "session.start_s": timings.get("session.start_s", 0.0),
            "catalog.load_s": timings.get("catalog.load_s", 0.0),
            "catalog.jobs": timings.get("catalog.jobs", 0),
            "prepare.s": timings.get("prepare.s", 0.0),
            "prepare.jobs": timings.get("prepare.jobs", 0),
            "engine.ingest_s": timings.get("engine.ingest_s", 0.0),
            "build.ms_p50": p50(col("build_ms", self.ops)),
            "build.jobs_per_op": sum(col("build_jobs", self.ops)) / max(len(self.ops), 1),
            "build.share": sum(col("build_ms")) / total_ms,
            "catalyst.analysis_ms_p50": p50(col("analysis")),
            "catalyst.optimization_ms_p50": p50(col("optimization")),
            "catalyst.planning_ms_p50": p50(col("planning")),
            "catalyst.share": sum(cat) / total_ms,
            "execute.ms_p50": p50(col("execute_ms")),
            "execute.jobs_per_op": sum(col("jobs")) / n,
            "execute.stages_per_op": sum(col("stages")) / n,
            "execute.tasks_per_op": sum(col("tasks")) / n,
            "execute.shuffle_read_bytes": sum(col("shuffle_read")) / n,
            "execute.shuffle_write_bytes": sum(col("shuffle_write")) / n,
            "execute.spill_bytes": sum(col("spill")) / n,
            "execute.executor_run_ms": sum(col("run_ms")) / n,
            "execute.executor_cpu_ms": sum(col("cpu_ms")) / n,
            "execute.cpu_per_run": sum(col("cpu_ms")) / (sum(col("run_ms")) or 1.0),
            "fetch.ms_p50": p50(col("fetch_ms")),
        }
        m.update(self.operators.metrics())
        m.update(self.state.metrics())
        m.update(self.memo.metrics())
        with self.jobs._lock:
            batches = {op: list(v) for op, v in self.jobs.batches.items() if op is not None}
        all_batches = [b for v in batches.values() for b in v]
        m["streaming.microbatches_per_op"] = len(all_batches) / n
        m["streaming.batch_ms_p50"] = p50(all_batches)
        m.update(self._service_metrics(ops, n))
        m["trace.overhead_ratio"] = self.overhead_ratio([op.latency_s for op in ops])
        return m

    def _service_metrics(self, ops, n) -> dict:
        reqs = self.requests
        handle = [r["handle_ms"] for r in reqs.values()]
        m = {
            "service.handle_ms_p50": p50(handle),
            "service.handle_ms_p90": pct(handle, 90),
        }
        for ep in ENDPOINTS:
            m[f"service.{ep}.ms_p50"] = p50(
                [r["handle_ms"] for r in reqs.values() if r["endpoint"] == ep])
        sent = [op for op in ops if op.request is not None and op.result]
        m["service.errors_4xx"] = sum(1 for op in sent if 400 <= op.result[0] < 500)
        m["service.errors_5xx"] = sum(1 for op in sent if op.result[0] >= 500)
        sizes = [len(op.result[1]) for op in sent]
        m["service.response_bytes_p50"] = p50(sizes)
        m["transport.ms_p50"] = p50([(op.end - op.sent) * 1e3 - reqs[op.id]["handle_ms"]
                                     for op in sent if op.id in reqs])
        m["loadgen.client_ms_p50"] = p50([(op.sent - op.start) * 1e3 for op in sent])
        rows = sum(r["rows"] for r in self.ops)
        rows += sum(json.loads(op.result[1]).get("row_count", 0) for op in sent)
        m["fetch.rows_per_op"] = rows / n
        m["fetch.bytes_per_op"] = (sum(r["bytes"] for r in self.ops) + sum(sizes)) / n
        return m
