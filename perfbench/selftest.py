"""Self-test of the benchmark at its shortest run length.

Run from the root of a checkout::

    python3 perfbench/selftest.py

For each workload it makes one untraced and two traced runs with seed 1
and checks that:

- every metric declared in ``BENCHMARK.json`` is emitted, with its unit;
- every execution passed the oracle and the layer-attribution check held
  (both are part of a run's ``correct``);
- the counts the program alone determines repeat across the two traced
  runs: versioned write calls, files written, materialization calls and
  session conf writes exactly, and bytes written to within 0.1%, because a
  merge-on-read delete file records data files under random names and so
  compresses to a few bytes more or less from run to run;
- ``query_tail_ratio`` rises when one execution of every entry of the
  untraced run is made twice as slow, whichever execution that is.

Spark job, stage and task counts may differ between two runs on the same
input (the scheduler decides some of them), so they are printed with
their spread, and so are the per-entry job counts, instead of checked.
Exits 1 if a check fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

sys.path.insert(0, str(HERE))

from run import tail_ratio  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 1

# counter -> allowed relative difference between two same-seed runs
REPEAT = {
    "sources.versioned.write_calls": 0.0,
    "sources.versioned.files_written": 0.0,
    "sources.versioned.bytes_written_mb": 1e-3,
    "operators.materialize_calls": 0.0,
    "session.conf_writes": 0.0,
}
SPREAD = ("spark.jobs", "spark.stages", "spark.tasks")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    """One shortest run; returns (final JSON, noise record)."""
    proc = subprocess.run(
        [
            sys.executable, str(HERE / "run.py"), "--workload", workload,
            "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
        ],
        cwd=REPO, capture_output=True, text=True, timeout=400,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload}: run.py exited with {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    noise = next(json.loads(x[len("noise "):]) for x in lines if x.startswith("noise "))
    return json.loads(lines[-1]), noise


def tail_problems(workload: str, lat: dict[str, list[float]]) -> list[str]:
    """The tail ratio must rise when the i-th execution of every entry
    takes twice as long, for every i."""
    base, _ = tail_ratio(lat)
    problems = []
    for i in range(min(map(len, lat.values()))):
        slow = {q: v[:i] + [2 * v[i]] + v[i + 1:] for q, v in lat.items()}
        ratio, _ = tail_ratio(slow)
        print(f"{workload} query_tail_ratio {base} -> {ratio} with execution {i} slowed 2x")
        if ratio <= base:
            problems.append(f"{workload}: query_tail_ratio did not rise with execution {i} slowed")
    return problems


def main() -> int:
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for w in sorted(WORKLOADS):
        plain, plain_noise = run(w, 0)
        problems += tail_problems(w, plain_noise["latency_s"])
        traced = [run(w, 1) for _ in range(2)]
        for trace, res in ((0, plain), (1, traced[0][0]), (1, traced[1][0])):
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{w}: trace {trace} emitted {got}, declared {declared[trace]}")
            if not res["correct"]:
                problems.append(f"{w}: trace {trace} run not correct ({res['failed']} failed)")
        a, b = (t[0]["metrics"] for t in traced)
        for name, tol in REPEAT.items():
            x, y = a[name]["value"], b[name]["value"]
            if abs(x - y) > tol * max(abs(x), abs(y)):
                problems.append(f"{w}: {name} {x} != {y}")
        for name in SPREAD:
            print(f"{w} {name} {a[name]['value']} {b[name]['value']}")
        jobs = [t[1].get("jobs_per_query", {}) for t in traced]
        for q in sorted(jobs[0]):
            print(f"{w} jobs per execution of {q}: {jobs[0][q]} {jobs[1].get(q)}")
        print(f"{w} repeated counts: " + ", ".join(f"{n}={a[n]['value']}" for n in REPEAT))
    for p in problems:
        print(f"FAIL {p}")
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
