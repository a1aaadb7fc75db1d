"""Benchmark of the ``__spark_entry__.queries()`` contract.

Run from the root of a checkout::

    python3 perfbench/run.py --workload lakehouse_writes --seed 1 --seconds 21 --trace 0

One Python client drives one workload's entries in a closed loop on
``local[nproc]``. The run generates its inputs from ``--seed``, computes the
expected result of every entry with the DuckDB oracle, then starts one
Spark session in a child process (``session.py``): set-up, the warm-up
passes, then a fixed number of timed passes, each execution checked against
the oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
untraced session, then a traced one in a fresh JVM, and prints the
per-layer metrics. Every metric is printed as ``name value unit``; a
``noise`` line records the JIT time, classes loaded, host steal ticks, disk
busy and discard time and host probe of every warm-up and timed pass; the
last line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``.

All files go to ``.perfbench_run/`` in the checkout, which is cleared at
the start of every run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
RUN_DIR = REPO / ".perfbench_run"
# a whole run, both sessions included, ends within this many seconds
RUN_BUDGET_S = 170

sys.path.insert(0, str(HERE))

import check  # noqa: E402
import datagen  # noqa: E402
from workloads import LAYERS, WORKLOADS  # noqa: E402


def driver_memory() -> str:
    """A quarter of the host's memory, capped at 2 GiB: ``get_spark``'s
    48g default is larger than many hosts. ``session.py`` commits and
    touches the whole heap at start, so peak RSS does not depend on the
    JVM's heap-resizing decisions."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(2, total_kb // (4 * 1024 * 1024)))}g"


def run_session(
    workload: str, inputs: Path, expected: Path, passes: int, trace: int, deadline: float
) -> dict:
    out = RUN_DIR / f"session{trace}.json"
    for d in ("tmp", "spark-local", "warehouse", "lake"):
        (RUN_DIR / d).mkdir(exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=str(RUN_DIR / "tmp"),
        SPARK_LOCAL_DIRS=str(RUN_DIR / "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, str(HERE / "session.py"),
        "--workload", workload, "--inputs", str(inputs),
        "--expected", str(expected), "--rundir", str(RUN_DIR),
        "--passes", str(passes), "--trace", str(trace), "--out", str(out),
    ]
    # its own process group, so a hung session is stopped with its JVM
    proc = subprocess.Popen(
        cmd, cwd=RUN_DIR, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run exceeded {RUN_BUDGET_S} s")
    if code != 0:
        raise SystemExit(f"session exited with {code}")
    return json.loads(out.read_text())


def latencies(res: dict) -> dict[str, list[float]]:
    by_query: dict[str, list[float]] = {}
    for e in res["executions"]:
        if e["pass"] >= 0 and "latency_s" in e:  # timed and not failed
            by_query.setdefault(e["query"], []).append(e["latency_s"])
    return by_query


def medians(res: dict) -> dict[str, float]:
    return {q: statistics.median(v) for q, v in latencies(res).items()}


def tail_ratio(lat: dict[str, list[float]]) -> tuple[float, dict[str, float]]:
    """Each entry's slowest execution over its median in the run (the slow
    one included), as a median over the entries. Returns the ratio and the
    per-entry ratios.

    A run affords three timed executions per entry, too few for an upper
    percentile of per-execution ratios. The slowest execution is the one a
    tail regression slows, so the ratio rises with it; the median over the
    entries keeps one entry's stray slow execution from setting it."""
    per_entry = {q: max(v) / statistics.median(v) for q, v in lat.items()}
    return statistics.median(per_entry.values()), per_entry


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(res: dict) -> tuple[dict[str, tuple[float, str]], dict]:
    med = medians(res)
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (sum(med.values()), "s"),
        "query_geomean_s": (geomean(med.values()), "s"),
        "driver_peak_rss_mb": (res["driver_peak_rss_mb"], "MB"),
    }, {
        "query_tail_ratio_per_entry": tail_ratio(latencies(res))[1],
        "query_median_s": med,
        "latency_s": latencies(res),
    }


def per_layer(plain: dict, traced: dict) -> dict[str, float]:
    """Per-pass layer metrics; ``session.*`` and ``query_tail_ratio`` from
    the untraced session."""
    lay = traced["layers"]
    n = lay["passes"]
    span, cnt, sp = lay["span_s"], lay["counts"], lay["spark"]
    mb = 1024.0 * 1024.0
    files_total = cnt.get("sources.versioned.files_total", 0.0)
    passes = plain["passes"]
    return {
        "session.start_s": plain["start_s"],
        "session.jit_s": statistics.fmean(p["jit_s"] for p in passes),
        "session.classes_loaded": statistics.fmean(p["classes_loaded"] for p in passes),
        "session.conf_writes": cnt.get("session.conf_writes", 0.0) / n,
        "entry.build_s": span.get("entry.build", 0.0) / n,
        "entry.build_jobs": sp.get("entry.build_jobs", 0.0) / n,
        "entry.action_s": span.get("entry.action", 0.0) / n,
        "entry.action_jobs": sp.get("entry.action_jobs", 0.0) / n,
        "sources.versioned.write_s": span.get("sources.versioned.write", 0.0) / n,
        "sources.versioned.write_calls": cnt.get("sources.versioned.write_calls", 0.0) / n,
        "sources.versioned.files_written": cnt.get("sources.versioned.files_written", 0.0) / n,
        "sources.versioned.bytes_written_mb": (
            cnt.get("sources.versioned.bytes_written", 0.0) / mb / n
        ),
        "sources.versioned.read_s": span.get("sources.versioned.read", 0.0) / n,
        "sources.versioned.read_calls": cnt.get("sources.versioned.read_calls", 0.0) / n,
        "sources.versioned.files_scanned_frac": (
            cnt.get("sources.versioned.files_read", 0.0) / files_total if files_total else 0.0
        ),
        "operators.matview.refresh_s": span.get("operators.matview.refresh", 0.0) / n,
        "operators.materialize_calls": cnt.get("operators.materialize_calls", 0.0) / n,
        "operators.materialize_s": span.get("operators.materialize", 0.0) / n,
        "operators.persist_unreleased": cnt.get("operators.persist_unreleased", 0.0) / n,
        "operators.graph.fixpoint_s": span.get("operators.graph.fixpoint", 0.0) / n,
        "operators.kcore.peel_s": span.get("operators.kcore.peel", 0.0) / n,
        "operators.clustering.components_s": span.get("operators.clustering.components", 0.0) / n,
        "operators.normalize.rank_calls": cnt.get("operators.normalize.rank_calls", 0.0) / n,
        "operators.normalize.rank_s": span.get("operators.normalize.rank", 0.0) / n,
        "spark.jobs": sp.get("jobs", 0.0) / n,
        "spark.stages": sp.get("stages", 0.0) / n,
        "spark.tasks": sp.get("tasks", 0.0) / n,
        "spark.failed_tasks": sp.get("failed_tasks", 0.0) / n,
        "spark.shuffle_read_mb": sp.get("shuffle_read_b", 0.0) / mb / n,
        "spark.shuffle_write_mb": sp.get("shuffle_write_b", 0.0) / mb / n,
        "spark.spill_mb": sp.get("spill_b", 0.0) / mb / n,
        "spark.input_mb": sp.get("input_b", 0.0) / mb / n,
        "spark.task_s": sp.get("task_s", 0.0) / n,
        "spark.task_cpu_s": sp.get("task_cpu_s", 0.0) / n,
        "spark.gc_s": sp.get("gc_s", 0.0) / n,
        "spark.driver_share": 1.0 - sp.get("task_s", 0.0) / (lay["wall_s"] * lay["cores"]),
        "trace.overhead_s": sum(medians(traced).values()) - sum(medians(plain).values()),
        "query_tail_ratio": tail_ratio(latencies(plain))[0],
    }


def attribution_errors(workload: str, values: dict[str, float]) -> list[str]:
    """Each layer counter is non-zero on the workloads where the layer
    works and zero where the layer must stay idle."""
    errors = []
    for layer in LAYERS:
        value = values[layer["name"]]
        if workload in layer["nonzero_on"] and value == 0:
            errors.append(f"{layer['name']} is 0 on {workload}")
        if workload in layer["zero_on"] and value != 0:
            errors.append(f"{layer['name']} is {value} on {workload}")
    return errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (REPO / "__spark_entry__.py").is_file():
        print(f"no __spark_entry__.py in {REPO}: run from a checkout", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    wl = WORKLOADS[args.workload]
    passes = wl.passes(args.seconds)

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    RUN_DIR.mkdir()
    # one basename per input set: the versioned entries key their table
    # roots on it, and paths recorded in their files must not vary
    inputs = RUN_DIR / f"pb_{wl.name}_s{args.seed}"
    datagen.generate(inputs, args.seed, wl.sf, wl.rows)

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    expected = check.oracle_results(
        inputs,
        {n: oracles[n] for n, _ in wl.queries if isinstance(oracles.get(n), str)},
    )
    expected_file = RUN_DIR / "expected.json"
    expected_file.write_text(json.dumps(expected))

    plain = run_session(wl.name, inputs, expected_file, passes, 0, deadline)
    sessions = [plain]
    e2e, detail = end_to_end(plain)
    if args.trace:
        traced = run_session(wl.name, inputs, expected_file, passes, 1, deadline)
        sessions.append(traced)
        values = per_layer(plain, traced)
        units = {layer["name"]: layer["unit"] for layer in LAYERS}
        metrics = {k: (v, units[k]) for k, v in values.items()}
        errors = attribution_errors(wl.name, values)
        for e in errors:
            print(f"ATTRIBUTION {e}", file=sys.stderr)
        detail["jobs_per_query"] = traced["layers"]["jobs_per_query"]
        detail["self_s_per_pass"] = {
            k: v / passes for k, v in traced["layers"]["self_s"].items()
        }
    else:
        metrics, errors = e2e, []

    executions = [e for s in sessions for e in s["executions"]]
    failed = sum(not e["ok"] for e in executions)
    noise = {
        "workload": wl.name,
        "seed": args.seed,
        "passes": passes,
        "warmup_per_pass": [s["warmup_passes"] for s in sessions],
        "per_pass": [s["passes"] for s in sessions],
        **detail,
    }
    print("noise " + json.dumps(noise))
    for name, (value, unit) in metrics.items():
        print(f"{name} {value!r} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0 and not errors,
                "attempted": len(executions),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
