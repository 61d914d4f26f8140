"""``stream_ingest``: an open loop at a fixed event rate.

One generator thread writes Kinesis-envelope files into the directory a
``streaming.ingest.start_ingest_stream`` query watches (file source,
default 1 h watermark, partitioned NDJSON staging), one file every
``INTERVAL_S`` whether or not the query keeps up.  The query triggers
every ``TRIGGER_S``: with back-to-back triggers a slower trigger reads
more files and so runs longer still, which made the latency of whole
runs drift with the box.  A file's latency runs from the time it was due
to the commit of the micro-batch that consumed it; the file source's log
and the checkpoint's offset log map files to batches, and the
checkpoint's commit log dates each batch.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import shutil
import threading
import time
from collections import Counter

from common import (
    Run,
    dropped_duplicates,
    median,
    parse_progress_ts,
    progress_dict,
    streaming_layer_metrics,
    tail,
)
from feed import EPOCH, Feed, event_bodies, uuid_of

RATE = 5000  # distinct events per second
INTERVAL_S = 0.1  # one file per interval
PER_FILE = int(RATE * INTERVAL_S)  # distinct events per file
DUPS_PER_FILE = round(PER_FILE * 0.05)  # 5% duplicate lines
DUP_REACH = 20  # a duplicate copies a line from this many files back at most
TRIGGER_S = 2  # processing-time trigger interval
WARMUP_S = 8.0  # the open loop runs this long before measuring
SETUPS = 3
BODIES = 5000


class Stream:
    """The workload's state: dirs, encoded files, the live query."""

    def __init__(self, r: Run, tag: str, n_files: int, bodies) -> None:
        """Encode every file of the run (warm-up and measured)."""
        self.r = r
        self.base = base = r.path(tag)
        self.watch = os.path.join(base, "watch")
        self.staging = os.path.join(base, "staging")
        self.ckpt = os.path.join(base, "ckpt")
        os.makedirs(self.watch)
        feed = Feed(bodies, r.seed)
        # event time advances with the schedule
        t0 = EPOCH + (r.seed % 1000) * 3600
        self.files: list[list[str]] = []
        recent: list[str] = []
        for k in range(n_files):
            base_t = t0 + k * INTERVAL_S
            fresh = feed.lines(
                [base_t + j * INTERVAL_S / PER_FILE for j in range(PER_FILE)]
            )
            recent = (recent + fresh)[-DUP_REACH * PER_FILE :]
            self.files.append(feed.with_dups(fresh, recent, DUPS_PER_FILE))
        self.blobs = [("\n".join(f) + "\n").encode() for f in self.files]
        self.uuids = set(feed.uuids)
        self.names: list[str] = []
        self.due: list[float] = []
        self.late: list[float] = []
        self.query = None

    def start(self) -> None:
        from event_streaming_toy_example_spark.streaming.ingest import start_ingest_stream

        records = self.r.spark.readStream.text(self.watch).withColumnRenamed(
            "value", "record"
        )
        with self.r.tracer.span("streaming.start_ingest_stream", "streaming"):
            self.query = start_ingest_stream(
                records, self.staging, self.ckpt, trigger_seconds=TRIGGER_S
            )

    def open_loop(self, first: int, count: int, start: float) -> None:
        """Write files ``first .. first+count-1`` on a fixed schedule from
        ``start`` on one generator thread."""

        def generate() -> None:
            for i in range(count):
                due = start + i * INTERVAL_S
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                self.write(first + i, due)

        gen = threading.Thread(target=generate, name="perfbench-generator")
        gen.start()
        gen.join()

    def write(self, k: int, due: float) -> None:
        """Write file ``k``, due at ``due``.  It runs on the generator
        thread, so its span is added with explicit times; a traced run
        traces odd files only, and the even ones give the overhead."""
        t = time.time()
        name = f"feed-{k:06d}.json"
        tmp = os.path.join(self.watch, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(self.blobs[k])
        os.rename(tmp, os.path.join(self.watch, name))
        done = time.time()
        self.names.append(name)
        self.due.append(due)
        self.late.append(done - due)
        if self.r.tracer.enabled and k % 2:
            self.r.tracer.add("sources.write_file", "sources", t, done, unit=name)

    def batches(self) -> dict[str, int]:
        """File name -> the query batch that consumed it.

        The file source's log (plain and ``.compact`` files alike) gives
        each file's log offset; the checkpoint's offset log gives the
        source offset each batch read up to.  The two numberings drift
        apart whenever a no-data batch runs, so a file belongs to the
        first batch whose offset reaches its log offset."""
        log_offset: dict[str, int] = {}
        for p in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            for line in _log_entries(p):
                e = json.loads(line)
                log_offset[os.path.basename(e["path"])] = int(e["batchId"])
        ends = []
        for p in glob.glob(os.path.join(self.ckpt, "offsets", "*")):
            if os.path.basename(p).isdigit():
                entries = _log_entries(p)
                if len(entries) == 2:  # metadata line + the one source
                    ends.append((int(os.path.basename(p)), json.loads(entries[1])["logOffset"]))
        ends.sort()
        batch_ids = [b for b, _ in ends]
        reached = [o for _, o in ends]
        out = {}
        for name, off in log_offset.items():
            i = bisect.bisect_left(reached, off)
            if i < len(reached):
                out[name] = batch_ids[i]
        return out

    def commits(self) -> dict[int, float]:
        """Batch id -> commit time (the commit log entry's mtime)."""
        out = {}
        for p in glob.glob(os.path.join(self.ckpt, "commits", "*")):
            b = os.path.basename(p)
            if b.isdigit():
                out[int(b)] = os.stat(p).st_mtime
        return out

    def wait_committed(self, deadline: float) -> int:
        """Wait until every written file sits in a committed batch (or
        the deadline passes); returns how many do."""
        while True:
            fb, cm = self.batches(), self.commits()
            done = sum(1 for n in self.names if fb.get(n) in cm)
            if done == len(self.names) or time.time() > deadline:
                return done
            time.sleep(0.05)

    def close(self) -> None:
        self.query.stop()


def _log_entries(path: str) -> list[str]:
    """The JSON lines of one metadata-log file (after its version line);
    empty for a hidden temp file or one removed by log compaction."""
    if os.path.basename(path).startswith("."):
        return []
    try:
        with open(path) as f:
            return [x for x in f.read().splitlines()[1:] if x]
    except FileNotFoundError:
        return []


def staged_uuids(staging: str) -> list[str]:
    """Every staged event uuid, from the files the sink's own log
    committed."""
    files = set()
    for p in glob.glob(os.path.join(staging, "_spark_metadata", "*")):
        for line in _log_entries(p):
            e = json.loads(line)
            if e.get("action", "add") == "add":
                files.add(e["path"])
            else:
                files.discard(e["path"])
    out = []
    for path in files:
        local = path[len("file://") :] if path.startswith("file://") else path
        with open(local) as f:
            out.extend(json.loads(line)["event_uuid"] for line in f if line.strip())
    return out


def run(r: Run) -> dict:
    n_warm = int(round(WARMUP_S / INTERVAL_S))
    n_files = int(round(r.seconds / INTERVAL_S))
    t = time.perf_counter()
    bodies = event_bodies(BODIES, r.seed)
    once = time.perf_counter() - t
    # the repeated set-up: encode every line of the run
    setups = []
    for i in range(SETUPS):
        t = time.perf_counter()
        s = Stream(r, f"setup{i}", n_warm + n_files, bodies)
        setups.append(time.perf_counter() - t)
        if i < SETUPS - 1:
            shutil.rmtree(s.base)
    # start the query and run the open loop untimed until it is warm
    t = time.perf_counter()
    s.start()
    s.open_loop(0, n_warm, time.time() + 0.2)
    if s.wait_committed(time.time() + 60) != n_warm:
        s.close()
        raise RuntimeError("warm-up files were not ingested within 60 s")
    once += time.perf_counter() - t

    r.tracer.phase = "measure"
    start = time.time() + 0.2
    s.open_loop(n_warm, n_files, start)
    end = start + n_files * INTERVAL_S
    s.wait_committed(time.time() + 30)
    fb, cm = s.batches(), s.commits()
    progress = [progress_dict(p) for p in s.query.recentProgress] if r.trace else []
    s.close()

    measured = range(n_warm, n_warm + n_files)
    # file -> latency, for the files a committed batch consumed
    lat_of = {k: cm[fb[s.names[k]]] - s.due[k] for k in measured if fb.get(s.names[k]) in cm}
    lat = list(lat_of.values())
    failed_files = [k for k in measured if k not in lat_of]

    # correctness: every generated uuid staged exactly once; a file
    # fails if any of its events is missing or staged twice
    counts = Counter(staged_uuids(s.staging))
    missing = len(s.uuids - counts.keys())
    doubled = sum(1 for c in counts.values() if c > 1)
    extra = len(counts.keys() - s.uuids)
    bad = {
        k for k in measured if any(counts.get(uuid_of(x), 0) != 1 for x in s.files[k])
    }
    if (missing or doubled or extra) and not bad:
        bad.add(measured[-1])  # the fault sits in the warm-up files
    failed = len(set(failed_files) | bad)
    p50 = median(lat)
    tl, pct, n = tail(lat)
    out = {
        "attempted": n_files,
        "failed": failed,
        "correct": failed == 0,
        "setup": setups,
        "setup_once_s": once,
        "e2e": {
            "latency_p50_s": p50,
            "latency_tail_s": tl,
        },
        "context": {
            "tail_percentile": pct,
            "samples": n,
            "rate_ev_per_s": RATE,
            "latency_s": [round(x, 3) for x in lat],
            "files": n_files,
            "missing_uuids": missing,
            "doubled_uuids": doubled,
            "extra_uuids": extra,
            "unmapped_files": len(failed_files),
        },
    }
    if r.trace:
        # the batches that started inside the measured schedule or after it
        prog = [p for p in progress if parse_progress_ts(p["timestamp"]) >= start]
        layer = streaming_layer_metrics(prog, end - start, r.tracer)
        # every file carries PER_FILE fresh lines and DUPS_PER_FILE
        # copies, so the rows a batch read hold a known share of copies
        injected = sum(p["rows"] for p in prog) * DUPS_PER_FILE / (PER_FILE + DUPS_PER_FILE)
        layer["operators.dedup_dropped_ratio"] = dropped_duplicates(prog) / max(injected, 1)
        layer["sources.generator_late_max_s"] = max(s.late[n_warm:], default=0.0)
        traced = median([v for k, v in lat_of.items() if k % 2])
        out["overhead_ratio"] = traced / max(median([v for k, v in lat_of.items() if k % 2 == 0]), 1e-9) - 1
        out["layer"] = layer
        out["progress"] = prog
    return out
