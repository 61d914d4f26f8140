"""``catalog_mix``: a closed loop of passes over fixed catalog entries.

Each entry is built through ``plans.catalog.ALL_QUERIES`` and forced with
``.count()`` against the sf0.1 tables shipped in ``data/sf0.1``; caches
are released between entries as ``bench.py`` does.  The seed only
shuffles the entry order of each pass.  The first pass warms the JVM
and belongs to set-up; in the first run of a version of the package it
also builds the catalog's staged artifacts (the table entries' merge,
delete-vector and stats tables; see ``common.Run``).  Each
count must equal the value recorded from the package at the commit that
added this benchmark (``expected_counts.json``).

A pass's time is the gated latency: ``latency_p50_s`` sums each entry's
median call, so a slower family moves it by its own share of the pass,
and ``latency_tail_s`` is the slowest pass.
"""

from __future__ import annotations

import json
import os
import random
import time

from common import HERE, Run, make_progress_listener, median, streaming_layer_metrics, tail

SF_DIR = os.path.join(HERE, "data", "sf0.1")

#: family -> entries, trimmed from the full catalog so a run holds two
#: passes; tx_stream_sink commits into a fresh table on every call
FAMILIES = {
    "relational": ["agg_pricing_summary", "latest_event_per_user", "pipe_dedup_batch"],
    "functions": ["text_quality", "sim_embedding_near_dup"],
    "table": ["tx_merge_cdc", "tx_delete_dv", "tx_stats_skipping", "tx_stream_sink"],
    "stateful": ["stream_session_stateful"],
}
ENTRIES = [(fam, e) for fam, es in FAMILIES.items() for e in es]
#: the layer each family exercises; an entry's spans are booked to it
FAMILY_LAYER = {
    "relational": "plans",
    "functions": "functions",
    "table": "operators",
    "stateful": "streaming",
}
#: about one pass on 4 cores: a run makes ``--seconds / PASS_S`` passes,
#: at least two, so that every run of a given length covers the same calls
PASS_S = 10.0
MIN_PASSES = 2


def _expected() -> dict:
    with open(os.path.join(HERE, "expected_counts.json")) as f:
        return json.load(f)


def _phases_ms(df) -> float:
    """Analysis + optimization + planning ms of a DataFrame's query
    execution, from its phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def _jobs_tasks(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def run_entry(r: Run, fam: str, name: str, unit, traced: bool) -> dict:
    """Build and count one entry; a traced call also reads the counted
    plan's phase tracker and the entry's jobs and tasks."""
    from event_streaming_toy_example_spark.caching import release_caches
    from event_streaming_toy_example_spark.plans.catalog import ALL_QUERIES

    spark, tr = r.spark, r.tracer
    out = {"family": fam, "entry": name}
    group = f"perfbench-{unit}"
    if traced:
        spark.sparkContext.setJobGroup(group, name)
    t0 = time.perf_counter()
    layer = FAMILY_LAYER[fam]
    with tr.span(f"plans.{name}", layer, unit):
        with tr.span("plans.build", layer, unit):
            df = ALL_QUERIES[name](spark, SF_DIR)
        t1 = time.perf_counter()
        with tr.span("plans.count", layer, unit):
            if traced:
                # what DataFrame.count() runs, kept so its tracker can be read
                counted = df.groupBy().count()
                out["count"] = counted.collect()[0][0]
            else:
                out["count"] = df.count()
    t2 = time.perf_counter()
    out["build_s"], out["run_s"], out["total_s"] = t1 - t0, t2 - t1, t2 - t0
    if traced:
        out["catalyst_ms"] = _phases_ms(counted)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        out["jobs"], out["tasks"] = _jobs_tasks(spark.sparkContext, group)
    release_caches()
    spark._jvm.System.gc()  # untimed, between entries, as bench.py does
    return out


def run(r: Run) -> dict:
    expected = _expected()
    rng = random.Random(r.seed)
    t = time.perf_counter()
    warm = {name: run_entry(r, fam, name, f"warmup:{name}", False)["total_s"] for fam, name in ENTRIES}
    setup = time.perf_counter() - t

    calls = []
    start = time.perf_counter()
    n_passes = max(MIN_PASSES, round(r.seconds / PASS_S))
    r.tracer.phase = "measure"
    listener = make_progress_listener() if r.trace else None
    # A traced run traces half the entries of each pass (spans, progress
    # listener, phase tracker, job counts), each entry in every other
    # pass, so each entry's untraced calls give its tracing overhead.
    for n_pass in range(n_passes):
        order = list(enumerate(ENTRIES))
        rng.shuffle(order)
        for i, (fam, name) in order:
            traced = r.trace and (i + n_pass) % 2 == 1
            r.tracer.enabled = traced
            if traced:
                r.spark.streams.addListener(listener)
            c = run_entry(r, fam, name, f"{n_pass}:{name}", traced)
            if traced:
                r.spark.streams.removeListener(listener)
            c["pass"], c["traced"] = n_pass, traced
            c["ok"] = c["count"] == expected[name]
            calls.append(c)
    window = time.perf_counter() - start
    r.tracer.enabled = r.trace

    passes = [sum(c["total_s"] for c in calls if c["pass"] == p) for p in range(n_passes)]
    tl, pct, n = tail(passes)
    failed = sum(1 for c in calls if not c["ok"])
    per_entry = {
        name: median([c["total_s"] for c in calls if c["entry"] == name]) for _, name in ENTRIES
    }
    families = {
        fam: sum(per_entry[e] for e in es) for fam, es in FAMILIES.items()
    }
    out = {
        "attempted": len(calls),
        "failed": failed,
        "correct": failed == 0,
        "setup": [setup],
        "e2e": {
            "latency_p50_s": sum(per_entry.values()),
            "latency_tail_s": tl,
        },
        "context": {
            "passes": n_passes,
            "pass_s": passes,
            "warm_pass_s": warm,
            "tail_percentile": pct,
            "samples": n,
            **{f"catalog_{fam}_s": v for fam, v in families.items()},
            "wrong_counts": sorted({c["entry"] for c in calls if not c["ok"]}),
        },
    }
    if r.trace:
        traced = [c for c in calls if c["traced"]]
        plain = [c for c in calls if not c["traced"]]
        # each entry's median traced call over its median untraced one
        ratios = [
            median([c["total_s"] for c in traced if c["entry"] == e])
            / median([c["total_s"] for c in plain if c["entry"] == e])
            for _, e in ENTRIES
        ]
        out["overhead_ratio"] = median(ratios) - 1
        layer = streaming_layer_metrics(listener.progress, window, r.tracer)
        layer.update({f"plans.{name}_s": v for name, v in per_entry.items()})
        for fam, es in FAMILIES.items():

            def fam_sum(field, scale=1.0):
                # the family's sum of each entry's median traced value
                return sum(median([c[field] * scale for c in traced if c["entry"] == e]) for e in es)

            layer[f"plans.{fam}_s"] = families[fam]
            layer[f"plans.{fam}.build_ms"] = fam_sum("build_s", 1000)
            layer[f"plans.{fam}.run_ms"] = fam_sum("run_s", 1000)
            layer[f"plans.{fam}.catalyst_ms"] = fam_sum("catalyst_ms")
            layer[f"plans.{fam}.jobs"] = fam_sum("jobs")
            layer[f"plans.{fam}.tasks"] = fam_sum("tasks")
        out["layer"] = layer
    return out
