"""The benchmark's workloads.

Each workload is a fixed list of ``__spark_entry__.queries()`` entries run
in a closed loop by one client: an entry is built, run to its action, and
only then is the next one sent. The action is ``collect`` for small
results and ``count`` for wide ones, the choice ``bench.py`` makes for the
same entries (``versioned_merge``, which ``bench.py`` does not run, is
counted like the other versioned entries).

A run makes ``WARMUP_PASSES`` untimed passes over the list, then times a
fixed number of passes. The timed count depends on ``--seconds`` and on the
workload's nominal pass length, never on how long the passes actually take,
so two commits always time the same work at the same point of the JVM's
warm-up curve.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


# Untimed passes before the timed ones. At sf0.001 on 4 cores the JIT
# compile time per pass fell from 7.7 s to 2.5 s over passes 2-6 of
# lakehouse_writes and to 1.9 s by pass 11; on graph_fixpoint from 10.5 s
# to 3.7 s, and 3.2 s by pass 11. Three warm-up passes take the timed ones
# off the steep part of that curve. More do not fit the run-time budget,
# because a traced run makes two sessions.
WARMUP_PASSES = 3


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # (entry name, action) in execution order
    queries: tuple[tuple[str, str], ...]
    # nominal seconds per warm pass on 4 cores; sets the pass count only
    pass_s: float
    # input scale factor and per-table row overrides (see datagen.row_counts)
    sf: float
    rows: dict[str, int] = field(default_factory=dict)

    def passes(self, seconds: int) -> int:
        return max(2, math.ceil(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "lakehouse_writes",
            "every entry commits to a versioned table and reads it back, so "
            "commit and read planning carry the time while tasks stay small",
            (
                ("versioned_changes", "count"),
                ("incremental_matview", "collect"),
                ("versioned_partition_ops", "count"),
                ("versioned_mor_delete", "count"),
                ("versioned_evolve", "count"),
                ("cdc_apply_seq", "count"),
                ("versioned_merge", "count"),
            ),
            sf=0.001,
            pass_s=7.5,
        ),
        Workload(
            "graph_fixpoint",
            "iterative graph fixpoints whose time is eager per-round "
            "materialization inside the build call, plus one global-rank "
            "scan plan; no versioned table",
            (
                ("pagerank", "count"),
                ("bfs_distances", "count"),
                ("sssp_weighted", "count"),
                ("kcore_nodes", "collect"),
                ("triangle_counts", "count"),
                ("curation_pipeline", "collect"),
                # the read-only scan plan that makes three
                # bucketed_global_rank calls (operators.normalize)
                ("rfm_segments", "collect"),
            ),
            # 100 suppliers and ~50 order lines per customer give the
            # supplier-customer graph a non-empty 35-core (KCORE_K)
            sf=0.001,
            rows={"supplier": 100, "lineitem": 7_500},
            pass_s=8.5,
        ),
    )
}

LAKE, GRAPH = "lakehouse_writes", "graph_fixpoint"


def _layer(name, unit, nonzero_on=(), zero_on=()):
    return {"name": name, "unit": unit, "nonzero_on": nonzero_on, "zero_on": zero_on}


# Per-layer metrics of the traced run, each per timed pass; README.md maps
# each to the end-to-end metric and workload it should move. ``nonzero_on``
# and ``zero_on`` are the layer-attribution check: a wrapper that missed its
# calls reads 0 where the layer works, and the versioned and matview layers
# must stay idle outside lakehouse_writes.
LAYERS = (
    _layer("session.start_s", "s"),
    _layer("session.jit_s", "s"),
    _layer("session.classes_loaded", "count"),
    _layer("session.conf_writes", "count", (LAKE,)),
    _layer("entry.build_s", "s"),
    _layer("entry.build_jobs", "count", (LAKE, GRAPH)),
    _layer("entry.action_s", "s"),
    _layer("entry.action_jobs", "count", (LAKE, GRAPH)),
    _layer("sources.versioned.write_s", "s", (LAKE,), (GRAPH,)),
    _layer("sources.versioned.write_calls", "count", (LAKE,), (GRAPH,)),
    _layer("sources.versioned.files_written", "count", (LAKE,), (GRAPH,)),
    _layer("sources.versioned.bytes_written_mb", "MB", (LAKE,), (GRAPH,)),
    _layer("sources.versioned.read_s", "s", (LAKE,), (GRAPH,)),
    _layer("sources.versioned.read_calls", "count", (LAKE,), (GRAPH,)),
    _layer("sources.versioned.files_scanned_frac", "ratio", (LAKE,), (GRAPH,)),
    _layer("operators.matview.refresh_s", "s", (LAKE,), (GRAPH,)),
    _layer("operators.materialize_calls", "count", (GRAPH,)),
    _layer("operators.materialize_s", "s", (GRAPH,)),
    _layer("operators.persist_unreleased", "count", (GRAPH,)),
    _layer("operators.graph.fixpoint_s", "s", (GRAPH,)),
    _layer("operators.kcore.peel_s", "s", (GRAPH,)),
    _layer("operators.clustering.components_s", "s", (GRAPH,)),
    _layer("operators.normalize.rank_calls", "count", (GRAPH,)),
    _layer("operators.normalize.rank_s", "s", (GRAPH,)),
    _layer("spark.jobs", "count"),
    _layer("spark.stages", "count"),
    _layer("spark.tasks", "count"),
    _layer("spark.failed_tasks", "count"),
    _layer("spark.shuffle_read_mb", "MB"),
    _layer("spark.shuffle_write_mb", "MB"),
    _layer("spark.spill_mb", "MB"),
    _layer("spark.input_mb", "MB"),
    _layer("spark.task_s", "s"),
    _layer("spark.task_cpu_s", "s"),
    _layer("spark.gc_s", "s"),
    _layer("spark.driver_share", "ratio"),
    _layer("trace.overhead_s", "s"),
    _layer("query_tail_ratio", "ratio"),
)
