"""Shared pieces of the pipeline benchmark: run context, tracer,
percentiles and the streaming progress listener.

Nothing here imports the package at module load; ``Run.start_spark``
starts the session after ``Run`` has pointed every temporary directory
at the checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Layers are the package's top-level modules.
LAYERS = ("session", "sources", "streaming", "operators", "functions", "plans")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def package_digest() -> str:
    """md5 of the package's source files: names and contents."""
    h = hashlib.md5()
    pkg = os.path.join(ROOT, "event_streaming_toy_example_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(files):
            full = os.path.join(root, fn)
            h.update(os.path.relpath(full, pkg).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it.

    Returns ``(value, percentile, n)``.  Below 25 samples that
    percentile would sit under p60, so the maximum is returned with
    percentile 100 and the caller can see the tail is the worst case."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 25:
        return s[-1], 100.0, n
    return s[n - 11], round(100.0 * (n - 10) / n, 2), n


class Tracer:
    """Spans around the layer calls the benchmark makes.

    A span is ``(name, layer, start, end, parent, unit, phase)``, times
    in epoch seconds so JVM-side progress lines up with Python calls;
    ``unit`` is the batch, cycle or entry id the call belongs to and
    ``phase`` is "setup" or "measure".  Spans stay in memory until
    :meth:`dump`.  A disabled tracer records nothing and costs one
    attribute test per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        #: "setup" or "measure"; per-layer self times count measured spans
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._called: list[int] = []  # spans opened by span(), not add()

    @contextmanager
    def span(self, name: str, layer: str, unit=None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "unit": unit,
            "phase": self.phase,
        }
        self.spans.append(rec)
        self._called.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name, layer, start, end, parent=None, unit=None) -> int:
        """Record a span measured elsewhere (e.g. a trigger's phases
        from streaming progress); returns its index for children."""
        self.spans.append(
            {
                "name": name,
                "layer": layer,
                "start": start,
                "end": end,
                "parent": parent,
                "unit": unit,
                "phase": self.phase,
            }
        )
        return len(self.spans) - 1

    def enclosing(self, t: float):
        """Index of the innermost measured call span open at ``t``, so a
        trigger the JVM ran inside a call is booked as its child."""
        best = None
        for i in self._called:
            s = self.spans[i]
            if s["phase"] == self.phase and s["start"] <= t <= (s["end"] or t):
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = i
        return best

    def self_times(self, phase: str = "measure") -> tuple[dict, dict]:
        """Self time (span minus the part its children cover) summed per
        span name and per layer over one phase's spans, in seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        by_name: dict[str, float] = {}
        by_layer = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            if s["end"] is None or s["phase"] != phase:
                continue
            own = max(s["end"] - s["start"] - child[i], 0.0)
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + own
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + own
        return by_name, by_layer

    def dump(self, path: str, extra: dict) -> None:
        by_name, by_layer = self.self_times()
        setup_by_name, _ = self.self_times("setup")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.spans,
                    "self_s_by_name": by_name,
                    "self_s_by_layer": by_layer,
                    "setup_self_s_by_name": setup_by_name,
                    **extra,
                },
                f,
            )


class Run:
    """One benchmark invocation: arguments, work dir, session, tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(base, "results")
        self._spark = None
        cpus = str(cpu_count())
        # The temp dir is the run's own and goes with it, except for the
        # catalog's staged artifacts (the tables its table entries merge
        # and delete into): the package stages them under the temp dir,
        # and here that path leads to a store keyed by the package's
        # source, so they are built once per version of the code by that
        # code, and reused by its later runs.
        tmp = self.path("tmp")
        stage = os.path.join(base, "stage", package_digest())
        os.makedirs(tmp)
        os.makedirs(stage, exist_ok=True)
        os.symlink(stage, os.path.join(tmp, "spark_graft_stage"))
        os.makedirs(self.out_dir, exist_ok=True)
        # Everything the session and its Python workers write goes
        # under the checkout.
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.path('derby')}"
            " -XX:-UsePerfData"  # no hsperfdata file outside the checkout
        )
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from event_streaming_toy_example_spark.session import get_spark

        with self.tracer.span("session.get_spark", "session"):
            self._spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                },
            )
        return self._spark

    @property
    def spark(self):
        return self._spark

    def close(self) -> None:
        """Stop the session and wait for its JVM to exit, then remove
        the run's work dir."""
        if self._spark is not None:
            from pyspark import SparkContext

            for q in self._spark.streams.active:
                q.stop()
            gateway = SparkContext._gateway
            self._spark.stop()
            self._spark = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                gateway.shutdown()
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def progress_dict(p) -> dict:
    """The fields the benchmark reads from one ``StreamingQueryProgress``."""
    return {
        "run": str(p.runId),
        "batch": int(p.batchId),
        "timestamp": p.timestamp,
        "rows": int(p.numInputRows or 0),
        "durations": dict(p.durationMs or {}),
        "state": [
            {
                "commit_ms": int(op.commitTimeMs or 0),
                "rows": int(op.numRowsTotal or 0),
                "bytes": int(op.memoryUsedBytes or 0),
                "custom": dict(op.customMetrics or {}),
            }
            for op in p.stateOperators or []
        ],
    }


def make_progress_listener():
    """A listener that keeps the progress of every streaming query the
    caller does not hold (e.g. ones a catalog entry starts and stops).

    Built here so pyspark is imported after the run's environment is set.
    A query the benchmark holds is read through ``recentProgress``
    instead: a Python listener is called back over Py4J on every event,
    which tripled the open-loop stream's trigger time."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            self.progress.append(progress_dict(event.progress))

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return _Listener()


def parse_progress_ts(ts: str) -> float:
    """``2026-10-17T05:06:14.123Z`` -> epoch seconds."""
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def streaming_layer_metrics(progress: list[dict], window_s: float, tracer: Tracer) -> dict:
    """Per-trigger figures from streaming progress, and one span tree
    per trigger (trigger -> offsets / wal / planning / addBatch, with
    the state commit under addBatch)."""
    trig, offs, wal, plan, add, commit, rows = [], [], [], [], [], [], []
    state_rows, state_bytes = [], []
    for p in progress:
        d = p["durations"]
        t = d.get("triggerExecution", 0)
        if not t:
            continue
        trig.append(t)
        offs.append(d.get("latestOffset", 0) + d.get("getBatch", 0))
        wal.append(d.get("walCommit", 0) + d.get("commitOffsets", 0))
        plan.append(d.get("queryPlanning", 0))
        add.append(d.get("addBatch", 0))
        c = sum(op["commit_ms"] for op in p["state"])
        commit.append(c)
        rows.append(p["rows"])
        state_rows.append(sum(op["rows"] for op in p["state"]))
        state_bytes.append(sum(op["bytes"] for op in p["state"]))
        start = parse_progress_ts(p["timestamp"])
        unit = f"{p['run'][:8]}:{p['batch']}"
        root = tracer.add(
            "streaming.trigger",
            "streaming",
            start,
            start + t / 1000,
            parent=tracer.enclosing(start),
            unit=unit,
        )
        at = start
        for name, ms in (
            ("streaming.offsets", offs[-1]),
            ("streaming.wal", wal[-1]),
            ("streaming.planning", plan[-1]),
            ("streaming.add_batch", add[-1]),
        ):
            idx = tracer.add(name, "streaming", at, at + ms / 1000, parent=root, unit=unit)
            if name == "streaming.add_batch" and c:
                # commitTimeMs sums the operator's partitions, which
                # commit in parallel; the span cannot outlast addBatch
                end = at + min(c, ms) / 1000
                tracer.add("streaming.state_commit", "streaming", at, end, parent=idx, unit=unit)
            at += ms / 1000
    return {
        "streaming.trigger_ms": median(trig),
        "streaming.offsets_ms": median(offs),
        "streaming.wal_ms": median(wal),
        "streaming.planning_ms": median(plan),
        "streaming.state_commit_ms": median(commit),
        "streaming.add_batch_ms": median(add),
        "streaming.state_rows": max(state_rows, default=0),
        "streaming.state_bytes": max(state_bytes, default=0),
        "streaming.busy_ratio": (sum(trig) / 1000 / window_s) if window_s else 0.0,
        # input rows per second of trigger time: what the query could
        # take, where an open loop fixes the offered rate
        "streaming.rows_per_busy_s": sum(rows) / (sum(trig) / 1000) if trig else 0.0,
        "streaming.batches": len(trig),
        "streaming.rows_per_batch": median(rows),
    }


def dropped_duplicates(progress: list[dict]) -> int:
    """Rows the streaming dedup operator dropped as duplicates, from
    its ``numDroppedDuplicateRows`` custom metric."""
    return sum(
        int(op["custom"].get("numDroppedDuplicateRows", 0))
        for p in progress
        for op in p["state"]
    )
