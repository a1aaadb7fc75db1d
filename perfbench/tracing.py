"""Spans and counters around the program's layers, for the traced run.

Every wrapper wraps a public function or method from the outside; the
program is not edited. ``__spark_entry__`` and the plan modules bind
operator functions by name when they are imported, so ``install`` patches
the defining module and every already-imported module of the package that
holds the same function object, and must run before ``__spark_entry__`` is
imported.

Each span sets the Spark job description to its own id while it is open,
so every job in the event log is attributed to the innermost span that
launched it. Spans stay in memory; ``Tracer.dump`` writes them out at the
end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

PKG = "faers_datalakehouse_spark"

# (module, function names, layer); the layer is the span name
FUNCTION_LAYERS = (
    (
        f"{PKG}.operators.graph",
        ("pagerank_lite", "bfs_distances", "sssp_weighted", "triangle_counts"),
        "operators.graph.fixpoint",
    ),
    (f"{PKG}.operators.kcore", ("kcore_peel",), "operators.kcore.peel"),
    (
        f"{PKG}.operators.clustering",
        ("connected_components", "connected_components_star"),
        "operators.clustering.components",
    ),
    (f"{PKG}.operators.normalize", ("bucketed_global_rank",), "operators.normalize.rank"),
)
VERSIONED_WRITES = ("write", "merge_rows", "apply_cdc", "delete_where", "update_where")
VERSIONED_READS = ("read", "read_pruned", "read_partitions", "changes")
MATERIALIZERS = ("localCheckpoint", "checkpoint", "persist", "cache")


class Tracer:
    """In-memory span recorder. ``execution`` labels the timed execution
    the next spans belong to (None during warm-up)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: dict[tuple[str, object], float] = defaultdict(float)
        self.execution: object = None
        self._sc = None

    def _context(self):
        if self._sc is None:
            from pyspark import SparkContext

            self._sc = SparkContext._active_spark_context
        return self._sc

    def active(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self.stack)

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self._context()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self.stack[-1] if self.stack else None,
            "name": name,
            "execution": self.execution,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(f"pbspan:{sid}")
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self.stack.pop()
            if sc:
                sc.setJobDescription(prev)

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[(name, self.execution)] += value

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps({"spans": self.spans}))


def _rebind(orig, new) -> None:
    """Point every name bound to ``orig`` in the package at ``new``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name.startswith(PKG) or name == "__spark_entry__"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def _wrap(tracer: Tracer, fn, layer: str, before=None, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if tracer.active(layer):  # nested call of the same layer
            return fn(*args, **kwargs)
        state = before(args) if before else None
        with tracer.span(layer):
            out = fn(*args, **kwargs)
        if after:
            after(args, out, state)
        return out

    return wrapper


def _parquet_files(root) -> set[str]:
    return {
        os.path.join(dirpath, n)
        for dirpath, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    }


def install(tracer: Tracer) -> None:
    """Wrap the layers; call before ``__spark_entry__`` is imported."""
    import pyspark.sql.classic.dataframe as classic_df
    from pyspark.sql.conf import RuntimeConfig

    for modname, names, layer in FUNCTION_LAYERS:
        mod = importlib.import_module(modname)
        for n in names:
            orig = getattr(mod, n)
            count_call = lambda a, o, s, L=layer: tracer.count(L + "_calls")  # noqa: E731
            new = _wrap(tracer, orig, layer, after=count_call)
            # modules imported from here on bind the wrapper themselves
            setattr(mod, n, new)
            _rebind(orig, new)

    from faers_datalakehouse_spark.operators.matview import IncrementalMatView
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    def before_write(args):
        return _parquet_files(args[0].root)

    def after_write(args, out, before):
        new = _parquet_files(args[0].root) - before
        tracer.count("sources.versioned.write_calls")
        tracer.count("sources.versioned.files_written", len(new))
        tracer.count("sources.versioned.bytes_written", sum(map(os.path.getsize, new)))

    def after_read(args, out, _):
        tracer.count("sources.versioned.read_calls")
        if isinstance(out, tuple):  # read_pruned / read_partitions: (df, report)
            tracer.count("sources.versioned.files_read", out[1]["files_read"])
            tracer.count("sources.versioned.files_total", out[1]["files_total"])

    for n in VERSIONED_WRITES:
        fn = getattr(VersionedTable, n)
        new = _wrap(tracer, fn, "sources.versioned.write", before_write, after_write)
        setattr(VersionedTable, n, new)
    for n in VERSIONED_READS:
        fn = getattr(VersionedTable, n)
        setattr(VersionedTable, n, _wrap(tracer, fn, "sources.versioned.read", after=after_read))
    refresh = IncrementalMatView.refresh
    IncrementalMatView.refresh = _wrap(tracer, refresh, "operators.matview.refresh")

    DF = classic_df.DataFrame
    for n in MATERIALIZERS:
        orig = getattr(DF, n)

        def materialize(self, *args, _orig=orig, **kwargs):
            caller = sys._getframe(1).f_globals.get("__name__", "")
            if not caller.startswith(PKG):
                return _orig(self, *args, **kwargs)
            tracer.count("operators.materialize_calls")
            with tracer.span("operators.materialize"):
                return _orig(self, *args, **kwargs)

        setattr(DF, n, functools.wraps(orig)(materialize))

    for n in ("set", "unset"):
        orig = getattr(RuntimeConfig, n)

        def conf_write(self, *args, _orig=orig, **kwargs):
            tracer.count("session.conf_writes")
            return _orig(self, *args, **kwargs)

        setattr(RuntimeConfig, n, functools.wraps(orig)(conf_write))


def fold_event_log(path: Path, spans: list[dict], timed: set) -> dict:
    """Fold a Spark JSON event log into totals over the timed executions.

    Jobs are attributed by the span id in their description; a job's
    execution and build/action side come from that span and its parents.
    Returns totals, plus ``jobs_by_execution`` (execution -> jobs).
    """
    def side(sid: int) -> str:
        while sid is not None:
            name = spans[sid]["name"]
            if name in ("entry.build", "entry.action"):
                return name
            sid = spans[sid]["parent"]
        return "other"

    job_owner: dict[int, tuple] = {}
    stage_job: dict[int, int] = {}
    tot: dict[str, float] = defaultdict(float)
    by_exec: dict = defaultdict(int)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if not desc.startswith("pbspan:"):
                    continue
                sid = int(desc.split(":", 1)[1])
                if spans[sid]["execution"] not in timed:
                    continue
                job_owner[ev["Job ID"]] = (spans[sid]["execution"], side(sid))
                tot["jobs"] += 1
                by_exec[spans[sid]["execution"]] += 1
                tot[f"{side(sid)}_jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, ev["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                if stage_job.get(ev["Stage Info"]["Stage ID"]) in job_owner:
                    tot["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if stage_job.get(ev["Stage ID"]) not in job_owner:
                    continue
                tot["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    tot["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                tot["task_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                tot["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_read_b"] += sr.get("Remote Bytes Read", 0)
                tot["shuffle_read_b"] += sr.get("Local Bytes Read", 0)
                tot["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    return {**tot, "jobs_by_execution": dict(by_exec)}
