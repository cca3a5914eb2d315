"""Per-layer metrics for ``--trace 1``.

One traced run does two things in one process:

1. passes that alternate between untraced and traced (Spark's event log
   listener attached); each pass runs under its own job group, so the log
   attributes every job, stage and task to its pass;
2. one layered pass: each layer's public function runs on
   its predecessor's output materialized with ``localCheckpoint``, and is
   timed from outside.

The fake services' spools give the embed and sink counters of the traced
passes; /proc gives the CPU per pass of the process tree over all of them. The difference between the traced and untraced pass times is the
tracing overhead, reported with the rest.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import procstat

LAYER_METRICS = (
    ("sources.scan_s", "s"),
    ("operators.filters.s", "s"),
    ("pipeline.curate_s", "s"),
    ("pipeline.curate_docs_out", "count"),
    ("operators.chunkers.chunk_s", "s"),
    ("operators.chunkers.chunks_out", "count"),
    ("embed.backends.embed_s", "s"),
    ("embed.backends.calls", "count"),
    ("embed.backends.texts_sent", "count"),
    ("embed.backends.wait_s", "s"),
    ("embed.backends.max_in_flight", "count"),
    ("embed.backends.max_in_flight_per_worker", "count"),
    ("embed.backends.texts_per_record", "ratio"),
    ("sinks.writers.sink_s", "s"),
    ("sinks.writers.flushes", "count"),
    ("sinks.writers.rows_per_flush", "rows"),
)
SPARK_METRICS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.python_worker_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"),
)
# CPU seconds per pass of this process's tree (the JVM and its Python
# workers): not an end-to-end metric, because a busy neighbour on a shared
# core slows the CPU itself and moves it more than wall time
TREE_METRICS = (("tree.cpu_s", "s"),)
TRACE_METRICS = (
    ("trace.pass_s", "s"),
    ("trace.untraced_pass_s", "s"),
    ("trace.overhead_s", "s"),
)
METRICS = (*LAYER_METRICS, *SPARK_METRICS, *TREE_METRICS, *TRACE_METRICS)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_totals(events: list[dict], group_of) -> dict[str, dict[str, float]]:
    """Totals per key ``group_of(job group)`` (None drops the job): jobs,
    stages, tasks, executor run time, Python worker time, shuffle bytes
    written, spill and GC time."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(key: str) -> dict[str, float]:
        return out.setdefault(key, {name: 0.0 for name, _ in SPARK_METRICS})

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            key = group_of((e.get("Properties") or {}).get("spark.jobGroup.id"))
            if key is None:
                continue
            bucket(key)["spark.jobs"] += 1
            for s in e["Stage IDs"]:
                stage_key[s] = key
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(e["Stage Info"]["Stage ID"])
            if key is not None and "Completion Time" in e["Stage Info"]:
                bucket(key)["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(e["Stage ID"])
            if key is None:
                continue
            b = bucket(key)
            m = e.get("Task Metrics") or {}
            b["spark.tasks"] += 1
            b["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            b["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
            b["spark.shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    b["spark.python_worker_s"] += float(acc.get("Update", 0)) / 1e3  # milliseconds
    return out


# ---------------------------------------------------------------------------
# fake-service counters
# ---------------------------------------------------------------------------


def max_overlap(intervals: list[tuple[float, float]]) -> int:
    points = sorted([(t0, 1) for t0, _ in intervals] + [(t1, -1) for _, t1 in intervals])
    cur = best = 0
    for _, d in points:
        cur += d
        best = max(best, cur)
    return best


def service_counters(wl, tags: list[str]) -> dict[str, float]:
    """Median per pass of the embed and sink counters the fakes spooled
    (none for a workload without fake services)."""
    if not hasattr(wl, "spooled"):
        return {}
    rows = []
    for tag in tags:
        calls, ups = wl.spooled(tag, "embed"), wl.spooled(tag, "sink")
        records = sum(u["n"] for u in ups)
        texts = sum(c["n"] for c in calls)
        by_pid: dict[int, list] = {}
        for c in calls:
            by_pid.setdefault(c["pid"], []).append((c["t0"], c["t1"]))
        rows.append(
            {
                "embed.backends.calls": len(calls),
                "embed.backends.texts_sent": texts,
                "embed.backends.wait_s": sum(c["t1"] - c["t0"] for c in calls),
                "embed.backends.max_in_flight": max_overlap([(c["t0"], c["t1"]) for c in calls]),
                "embed.backends.max_in_flight_per_worker": max((max_overlap(v) for v in by_pid.values()), default=0),
                "embed.backends.texts_per_record": texts / records if records else 0.0,
                "sinks.writers.flushes": len(ups),
                "sinks.writers.rows_per_flush": records / len(ups) if ups else 0.0,
            }
        )
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


# ---------------------------------------------------------------------------
# layered pass
# ---------------------------------------------------------------------------


def layered_pass(wl, spark, tag: str) -> dict[str, float]:
    """Each layer's public function on its predecessor's materialized
    output, timed from outside."""
    from vectorflow_spark.embed.backends import embed
    from vectorflow_spark.operators.chunkers import chunk
    from vectorflow_spark.operators.filters import filter_max_size, filter_nonempty
    from vectorflow_spark.pipeline import curate_documents
    from vectorflow_spark.sinks.writers import to_vector_records, write_vectors

    sc = spark.sparkContext
    cfg = wl.config(tag)
    out: dict[str, float] = {}

    def step(metric: str, build):
        sc.setJobGroup(f"{tag}/{metric}", metric)
        t0 = time.monotonic()
        df = build().localCheckpoint(eager=True)
        out[metric] = time.monotonic() - t0
        return df

    docs = step("sources.scan_s", lambda: spark.read.parquet(wl.path))
    docs = step(
        "operators.filters.s",
        lambda: filter_max_size(filter_nonempty(docs, "text"), "text", cfg.max_file_size_bytes),
    )
    if cfg.curate_quality or cfg.curate_dedup:
        docs = step("pipeline.curate_s", lambda: curate_documents(docs, cfg))
        out["pipeline.curate_docs_out"] = docs.count()
    chunks = step("operators.chunkers.chunk_s", lambda: chunk(docs.repartition(sc.defaultParallelism), cfg))
    out["operators.chunkers.chunks_out"] = chunks.count()
    vectors = step("embed.backends.embed_s", lambda: embed(chunks, cfg))
    sc.setJobGroup(f"{tag}/sinks.writers.sink_s", "sink")
    t0 = time.monotonic()
    write_vectors(to_vector_records(vectors), cfg)
    out["sinks.writers.sink_s"] = time.monotonic() - t0
    return out


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def per_layer(wl, spark, seconds: float, event_log: str):
    """Returns (metrics, tags to check, operations attempted). The session
    was started with the event log on, written to ``event_log``. Passes
    alternate between untraced (event log listener detached) and traced
    (attached), in whole pairs, so both halves see the same warm-up and the
    same outside load."""
    sc = spark.sparkContext
    bus = sc._jsc.sc()
    event_logger = bus.eventLogger().get()
    bus.removeSparkListener(event_logger)
    wl.run_pass(spark, "u0-full")
    walls: dict[str, list[float]] = {"u": [], "t": []}
    tags: dict[str, list[str]] = {"u": [], "t": []}
    cpu0 = procstat.cpu_seconds()
    t_end = time.monotonic() + seconds
    i = 0
    while i % 2 or i < 2 or time.monotonic() < t_end:
        kind = "t" if i % 2 else "u"
        if kind == "t":
            bus.addSparkListener(event_logger)
        tag = f"{kind}{i + 1}"
        sc.setJobGroup(tag, tag)
        t0 = time.monotonic()
        wl.run_pass(spark, tag)
        walls[kind].append(time.monotonic() - t0)
        tags[kind].append(tag)
        if kind == "t":
            bus.removeSparkListener(event_logger)
        i += 1
    cpu_per_pass = (procstat.cpu_seconds() - cpu0) / i
    bus.addSparkListener(event_logger)
    layers = layered_pass(wl, spark, "layers")
    spark.stop()  # flushes and closes the event log

    traced_tags = tags["t"]
    events = read_event_log(event_log)

    def pass_of(group):
        if group is None:
            return None
        head = group.split("/", 1)[0]
        return head if head in traced_tags else None

    per_pass = spark_totals(events, pass_of)
    units = dict(METRICS)
    metrics: dict[str, float] = dict.fromkeys(units, 0.0)
    for name, _ in SPARK_METRICS:
        metrics[name] = statistics.median(per_pass.get(t, {}).get(name, 0.0) for t in traced_tags)
    metrics.update(layers)
    metrics.update(service_counters(wl, traced_tags))
    metrics["tree.cpu_s"] = cpu_per_pass
    t_pass, u_pass = statistics.median(walls["t"]), statistics.median(walls["u"])
    metrics["trace.pass_s"] = t_pass
    metrics["trace.untraced_pass_s"] = u_pass
    metrics["trace.overhead_s"] = t_pass - u_pass
    checked = ["u0-full", *tags["u"], *traced_tags, "layers"]
    return {k: (v, units[k]) for k, v in metrics.items()}, checked, i
