"""One Spark session of a benchmark run, in its own process and JVM.

``run.py`` starts this script once per session and reads the JSON file it
writes. The session imports the program, starts Spark on ``local[nproc]``,
runs the warm-up query and ``WARMUP_PASSES`` untimed passes over the
workload, then times ``--passes`` passes. Each timed execution is the
build call plus its action; the result of every execution is then checked,
outside the timed region, against the expected result ``run.py`` computed
with the DuckDB oracle.

With ``--trace 1`` the layer wrappers of ``tracing.py`` are installed before
the program is imported, every execution gets its own job group, and a
plain-JSON Spark event log is written and folded into the layer totals.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))

import check  # noqa: E402
import tracing  # noqa: E402
from workloads import WARMUP_PASSES, WORKLOADS  # noqa: E402

SCRATCH_PREFIX = "/tmp/spark_graft_"


def steal_ticks() -> int:
    """Machine-wide steal ticks (USER_HZ) from /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def disk_ms() -> tuple[int, int]:
    """Milliseconds the host's whole disks spent busy and discarding
    freed blocks, from /proc/diskstats."""
    disks = set(os.listdir("/sys/block"))
    busy = discard = 0
    with open("/proc/diskstats") as fh:
        for line in fh:
            f = line.split()
            if f[2] in disks:
                busy += int(f[12])
                discard += int(f[17]) if len(f) > 17 else 0
    return busy, discard


def redirect_scratch(lake: Path):
    """The versioned entries keep their tables under fixed
    ``/tmp/spark_graft_*/<input basename>`` roots, which they remove and
    recreate on every execution. Map those roots into the run directory
    so that the run writes only inside its checkout.

    Returns a function that removes the tables of earlier executions.
    Where the filesystem discards freed blocks on unlink, deleting a file
    the kernel has already written back costs a synchronous discard of
    several milliseconds, and deleting one still in the page cache costs
    nothing. Whether an entry's previous tables had been written back
    depended on where its execution fell in the kernel's 30 s writeback
    cycle, so the entry's own removal took 0 to 0.4 s at random. Removed
    before the timed region, every timed execution starts from the state
    of a first execution on its input."""
    from faers_datalakehouse_spark.operators.matview import IncrementalMatView
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    def moved(p):
        s = str(p)
        return str(lake / s[len("/tmp/"):]) if s.startswith(SCRATCH_PREFIX) else p

    rmtree, vt_init, mv_init = shutil.rmtree, VersionedTable.__init__, IncrementalMatView.__init__
    shutil.rmtree = lambda path, *a, **k: rmtree(moved(path), *a, **k)
    VersionedTable.__init__ = lambda self, root: vt_init(self, moved(root))
    IncrementalMatView.__init__ = lambda self, path, *a, **k: mv_init(self, moved(path), *a, **k)

    def clear_tables() -> None:
        for d in lake.iterdir():
            rmtree(d)

    return clear_tables


class Jvm:
    """JMX and /proc readings of the driver JVM."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._cls = mf.getClassLoadingMXBean()
        self.pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def sample(self) -> tuple:
        return (
            self._comp.getTotalCompilationTime() / 1e3,
            self._cls.getTotalLoadedClassCount(),
            steal_ticks(),
            *disk_ms(),
        )

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")


def host_probe_s() -> float:
    """Best of five timings of a fixed pure-Python loop: the host's
    single-core speed at the end of a pass, which steal ticks miss when
    neighbours compete for caches and memory bandwidth instead of CPUs."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best


def pass_record(t_pass: float, before: tuple, after: tuple) -> dict:
    """Wall time of a pass, its JIT, class-loading, steal and disk deltas,
    and the host probe taken after it."""
    wall_s = time.perf_counter() - t_pass
    jit, cls, steal, busy, discard = (b - a for a, b in zip(before, after))
    return {
        "wall_s": wall_s,
        "jit_s": jit,
        "classes_loaded": cls,
        "steal_ticks": steal,
        "disk_busy_ms": busy,
        "disk_discard_ms": discard,
        "host_probe_s": host_probe_s(),
    }


def stop(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True, type=Path)
    ap.add_argument("--expected", required=True, type=Path)
    ap.add_argument("--rundir", required=True, type=Path)
    ap.add_argument("--passes", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, type=Path)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    expected = json.loads(args.expected.read_text())
    run = args.rundir

    t_setup = time.perf_counter()
    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        tracing.install(tracer)
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from faers_datalakehouse_spark.session import get_spark

    clear_tables = redirect_scratch(run / "lake")
    conf = {
        "spark.sql.warehouse.dir": str(run / "warehouse"),
        "spark.local.dir": str(run / "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run / 'tmp'} -XX:+PerfDisableSharedMem "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
    }
    if tracer:
        (run / "events").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run / 'events'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t_start = time.perf_counter()
    spark = get_spark("perfbench", cpus=os.cpu_count(), extra_conf=conf)
    start_s = time.perf_counter() - t_start
    sc = spark.sparkContext
    jvm = Jvm(spark)
    queries = entrymod.queries()
    src = str(args.inputs)

    # the warm-up query of bench.py
    nation = spark.read.parquet(f"{src}/nation.parquet")
    region = spark.read.parquet(f"{src}/region.parquet")
    (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("n_name").alias("d"))
        .collect()
    )
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    executions, warmup, passes = [], [], []
    # Warm-up passes (p < 0) make the same calls as the timed ones, result
    # checks included, so the first timed pass runs no code path that is
    # new to the JIT. Their executions are checked and counted too.
    for p in range(-WARMUP_PASSES, args.passes):
        timed = p >= 0
        if p == 0:
            setup_s = time.perf_counter() - t_setup
        before = jvm.sample()
        t_pass = time.perf_counter()
        for name, action in wl.queries:
            label = f"{name}#{p}"
            if tracer and timed:
                tracer.execution = label
                sc.setJobGroup(f"pbexec:{label}", label)
            rec = {"query": name, "pass": p, "ok": False}
            try:
                clear_tables()
                if tracer and timed:
                    persisted = sc._jsc.sc().getPersistentRDDs().size()
                t0 = time.perf_counter()
                with span("entry.build"):
                    df = queries[name](spark, src)
                t1 = time.perf_counter()
                with span("entry.action"):
                    res = df.collect() if action == "collect" else df.count()
                t2 = time.perf_counter()
                rec.update(latency_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1)
                if tracer and timed:  # RDDs left persisted, before clearCache()
                    tracer.execution = None
                    left = sc._jsc.sc().getPersistentRDDs().size() - persisted
                    tracer.counts[("operators.persist_unreleased", label)] += left
                rows = res if action == "collect" else df.collect()
                got = check.canon_rows(df.columns, rows)
                want = expected.setdefault(name, got)
                why = check.diff(got, want)
                if action == "count" and res != len(rows):
                    why = f"count() {res} != {len(rows)} collected rows"
                rec["ok"] = why is None
                if why:
                    print(f"WRONG {label}: {why}", file=sys.stderr)
            # a failed execution is counted and the run goes on
            except Exception as exc:  # noqa: BLE001
                print(f"FAILED {label}: {exc!r}", file=sys.stderr)
            finally:
                if tracer:
                    tracer.execution = None
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                spark.catalog.clearCache()
            executions.append(rec)
        (passes if timed else warmup).append(
            pass_record(t_pass, before, jvm.sample())
        )
    out = {
        "setup_s": setup_s,
        "start_s": start_s,
        "driver_peak_rss_mb": jvm.peak_rss_mb(),
        "executions": executions,
        "warmup_passes": warmup,
        "passes": passes,
    }
    stop(spark)
    if tracer:
        out["layers"] = layer_totals(tracer, run / "events", executions, args.passes)
        tracer.dump(run / "spans.json")
    args.out.write_text(json.dumps(out))


def layer_totals(tracer, event_dir: Path, executions: list[dict], n_passes: int) -> dict:
    """Per-pass layer metrics of the traced session."""
    executions = [e for e in executions if e["pass"] >= 0]
    timed = {f"{e['query']}#{e['pass']}" for e in executions}
    spans = tracer.spans
    dur = defaultdict(float)
    self_s = defaultdict(float)
    child = defaultdict(float)
    for s in spans:
        if s["execution"] in timed and s["parent"] is not None:
            child[s["parent"]] += s["t1"] - s["t0"]
    for s in spans:
        if s["execution"] in timed:
            d = s["t1"] - s["t0"]
            dur[s["name"]] += d
            self_s[s["name"]] += d - child[s["id"]]
    counts = defaultdict(float)
    for (name, execution), v in tracer.counts.items():
        if execution in timed:
            counts[name] += v
    logs = list(event_dir.iterdir())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    ev = tracing.fold_event_log(logs[0], spans, timed)
    wall = sum(e.get("latency_s", 0.0) for e in executions)
    per_query_jobs = defaultdict(list)
    for label, n in ev.pop("jobs_by_execution").items():
        per_query_jobs[label.split("#")[0]].append(n)
    return {
        "passes": n_passes,
        "wall_s": wall,
        "span_s": dict(dur),
        "self_s": dict(self_s),
        "counts": dict(counts),
        "spark": ev,
        "jobs_per_query": dict(per_query_jobs),
        "cores": os.cpu_count(),
    }


if __name__ == "__main__":
    main()
