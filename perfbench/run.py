"""Benchmark for vectorflow-spark: two pipeline workloads, timed from outside.

    python3 perfbench/run.py --workload ingest_local --seed 1 --seconds 16 --trace 0

Run it from the repository root. Workloads are ``ingest_local`` and
``ingest_remote`` (perfbench/README.md says what each one stresses). The program is driven only through its public functions, in one
process with one Spark session of at most four task slots. Inputs are made
from ``--seed`` and cached under ``.perfbench_work/``.

With ``--trace 0`` the run reports the end-to-end metrics; with ``--trace 1``
it reports the per-layer metrics instead (Spark event log on, each layer
materialized on its own). Every run checks the program's outputs against
computations made apart from the program (perfbench/expected.py) and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EVENT_LOG = os.path.join(WORK, "eventlog")
FAKES = os.path.join(HERE, "fakesvc")
CPUS = min(4, os.cpu_count() or 1)
JVM_HEAP = "1g"
# untimed passes after the first warm pass, until this many seconds have
# gone by: the JVM's JIT and the Python workers keep speeding up for about
# ten passes after a cold start
SETTLE_SECONDS = 6.0

CHUNK_SIZE, CHUNK_OVERLAP, DIM = 512, 256, 64

def since_process_start() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_environment(trace: bool) -> None:
    """Environment the program's JVM and Python workers inherit: the task
    slot count and heap size ``session.get_spark`` reads, the fake service
    modules first on the workers' path, every scratch directory inside the
    checkout and, for a traced run, Spark's uncompressed event log."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join([FAKES, ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PERFBENCH_SPOOL"] = os.path.join(WORK, "spool")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    shutil.rmtree(EVENT_LOG, ignore_errors=True)
    os.makedirs(EVENT_LOG)
    event_log = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{EVENT_LOG} "
        "--conf spark.eventLog.compress=false "
        if trace
        else ""
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{event_log}--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        f'--driver-java-options "-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp} '
        f'-Dderby.system.home={os.path.join(WORK, "derby")}" pyspark-shell'
    )
    shutil.rmtree(os.environ["PERFBENCH_SPOOL"], ignore_errors=True)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class _Pipeline:
    """One pass is ``write_vectors(run_pipeline(documents, cfg), cfg)``."""

    name = ""
    path = ""

    def config(self, tag: str):
        raise NotImplementedError

    def run_pass(self, spark, tag: str) -> None:
        from vectorflow_spark.pipeline import run_pipeline
        from vectorflow_spark.sinks.writers import write_vectors

        cfg = self.config(tag)
        write_vectors(run_pipeline(spark.read.parquet(self.path), cfg), cfg)


class IngestLocal(_Pipeline):
    """Flagship configuration: 512/256 character windows built in the JVM,
    deterministic blake2b embedding at dim 64, parquet sink."""

    name = "ingest_local"

    def __init__(self, seed: int) -> None:
        import corpus

        self.path, self.docs = corpus.local_corpus(WORK, seed)
        self.out = os.path.join(WORK, "out", self.name)

    def config(self, tag: str):
        from vectorflow_spark.config import ChunkStrategy, PipelineConfig

        return PipelineConfig(
            chunk_strategy=ChunkStrategy.EXACT_BY_CHARACTERS,
            chunk_size=CHUNK_SIZE,
            chunk_overlap=CHUNK_OVERLAP,
            embeddings_type="deterministic",
            embedding_dim=DIM,
            sink="parquet",
            sink_options={"path": self.out},
        )

    def check(self, tags: list[str]) -> list[str]:
        import checks
        import pyarrow.dataset as ds

        table = ds.dataset(self.out, format="parquet").to_table()
        return checks.check_local(table, self.docs, CHUNK_SIZE, CHUNK_OVERLAP, DIM)


class IngestRemote(_Pipeline):
    """Curation (quality + dedup shuffle), the Python paragraph chunker, the
    openai backend and the qdrant sink, against fake services."""

    name = "ingest_remote"

    def __init__(self, seed: int) -> None:
        import corpus

        self.path, self.docs, self.survivors = corpus.remote_corpus(WORK, seed)

    def config(self, tag: str):
        from vectorflow_spark.config import ChunkStrategy, PipelineConfig

        return PipelineConfig(
            chunk_strategy=ChunkStrategy.PARAGRAPH_BY_CHARACTERS,
            chunk_size=CHUNK_SIZE,
            chunk_overlap=CHUNK_OVERLAP,
            embeddings_type="openai",
            model=f"perfbench:{tag}",
            embedding_dim=DIM,
            sink="qdrant",
            sink_options={"collection": tag},
            curate_quality=True,
            curate_dedup=True,
        )

    def spooled(self, tag: str, kind: str) -> list[dict]:
        import perfbench_fake

        return perfbench_fake.read(os.environ["PERFBENCH_SPOOL"], tag, kind)

    def check(self, tags: list[str]) -> list[str]:
        import checks

        return checks.check_remote(
            {t: (self.spooled(t, "embed"), self.spooled(t, "sink")) for t in tags},
            self.docs,
            self.survivors,
            CHUNK_SIZE,
            CHUNK_OVERLAP,
        )


WORKLOADS = {w.name: w for w in (IngestLocal, IngestRemote)}


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------


def timed_passes(wl, spark, seconds: float, prefix: str) -> dict:
    """Whole passes until ``seconds`` have gone by (at least one). Returns
    their wall times and tags and the peak RSS of the process tree."""
    import procstat

    walls: list[float] = []
    tags: list[str] = []
    rss = procstat.PeakRss()
    rss.start()
    t_end = time.monotonic() + seconds
    while not walls or time.monotonic() < t_end:
        tag = f"{prefix}{len(walls) + 1}"
        spark.sparkContext.setJobGroup(tag, tag)
        t0 = time.monotonic()
        wl.run_pass(spark, tag)
        walls.append(time.monotonic() - t0)
        tags.append(tag)
    rss.stop()
    return {"walls": walls, "tags": tags, "peak_rss": rss.peak}


def end_to_end(wl, spark, seconds: float, setup_s: float) -> tuple[dict, list[str], int]:
    m = timed_passes(wl, spark, seconds, "p")
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(m["walls"]), "s"),
        "peak_rss_mb": (m["peak_rss"] / 2**20, "MB"),
    }
    print(f"# {wl.name}: {len(m['walls'])} passes, walls {[round(w, 3) for w in m['walls']]}", file=sys.stderr)
    return metrics, m["tags"], len(m["walls"])


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until every
    process this run started has ended."""
    import procstat
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vectorflow_spark", "__init__.py")):
        print(f"program sources not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    configure_environment(bool(args.trace))
    sys.path[:0] = [HERE, FAKES, ROOT]

    t0 = time.monotonic()
    wl = WORKLOADS[args.workload](args.seed)
    gen_s = time.monotonic() - t0

    from vectorflow_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    try:
        if args.trace:
            import tracing

            metrics, tags, attempted = tracing.per_layer(wl, spark, args.seconds, EVENT_LOG)
        else:
            wl.run_pass(spark, "p0-full")
            setup_s = since_process_start() - gen_s
            settle = timed_passes(wl, spark, SETTLE_SECONDS, "w")
            metrics, tags, attempted = end_to_end(wl, spark, args.seconds, setup_s)
            tags = ["p0-full", *settle["tags"], *tags]
        problems = wl.check(tags)
    finally:
        shutdown(spark)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": 0,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
