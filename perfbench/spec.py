#!/usr/bin/env python3
"""The benchmark's workloads and metrics, and which end-to-end metric each
per-layer metric should move on which workload.

`python3 perfbench/spec.py` prints BENCHMARK.json; run.py reads the metric
lists from here, so the two cannot drift apart.
"""

import json

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 10

WORKLOADS = [
    {"name": "dbt_incremental",
     "why": "dbt project: seed, views, tables, then change rounds through append, "
            "insert_overwrite, merge, SCD2 snapshot and data tests; driver-bound "
            "(planning, catalog probes, file commits)"},
    {"name": "corpus_dedup",
     "why": "batched corpus ingestion through C4/Gopher cleaning, MinHash-LSH, "
            "connected components, cross-corpus dedup and ledger; executor CPU and "
            "shuffle bound"},
    {"name": "ann_serve",
     "why": "IVF-PQ index built once, then a closed loop of 16-query search batches; "
            "read-only and bound by per-action fixed cost (planning, scheduling, broadcast)"},
]

# Bounds are shares of the parent's median. Timings share the largest bound
# with setup_s: on a 4-vCPU VM a ~40 s cold-JVM run moves by 10-15 % from
# host load alone. Counts and sizes repeat within 1 %.
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "run_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "op_tail_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "ok_frac", "unit": "ratio", "better": "higher", "bound": 0.01},
    {"name": "peak_rss_mb", "unit": "MiB", "better": "lower", "bound": 0.1},
    {"name": "write_bytes_per_input_byte", "unit": "B/B", "better": "lower", "bound": 0.05},
]

UNITS = {"ms": "ms", "driver_ms": "ms", "plan_ms": "ms", "task_cpu_ms": "ms",
         "task_wall_ms": "ms", "gc_ms": "ms", "calls": "count", "jobs": "count",
         "stages": "count", "tasks": "count", "shuffle_bytes": "bytes",
         "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
         "spill_bytes": "bytes", "output_bytes": "bytes"}

ALL = "dbt_incremental,corpus_dedup,ann_serve"

# (layer prefix, fields, end-to-end metrics it should move, workload)
_LAYER_MAP = [
    ("core.session", ["ms"], "setup_s", ALL),
    ("core.catalog", ["ms", "calls"], "op_p50_ms", "dbt_incremental"),
] + [
    (f"materialize.{k}", ["ms", "jobs", "driver_ms", "plan_ms"], "op_p50_ms,run_s",
     "dbt_incremental")
    for k in ("table", "view", "seed", "append", "insert_overwrite", "merge", "snapshot")
] + [
    ("materialize.merge", ["stages", "task_cpu_ms", "shuffle_bytes", "output_bytes"],
     "op_tail_ms,write_bytes_per_input_byte", "dbt_incremental"),
    ("quality.tests", ["ms", "jobs", "plan_ms"], "op_p50_ms", "dbt_incremental"),
    ("operators.sessionize", ["ms", "task_cpu_ms", "shuffle_bytes"], "run_s",
     "dbt_incremental"),
    ("text.clean", ["ms", "task_cpu_ms"], "rows_per_s", "corpus_dedup"),
] + [
    (f"dedup.{k}", ["ms", "jobs", "stages", "task_cpu_ms", "shuffle_bytes", "spill_bytes"],
     "rows_per_s,op_tail_ms", "corpus_dedup")
    for k in ("minhash_pairs", "pairs_against", "components", "survivors", "ledger_ingest")
] + [
    ("core.storage_release", ["ms"], "op_tail_ms", "corpus_dedup"),
    ("similarity.build", ["ms", "jobs", "task_cpu_ms"], "run_s", "ann_serve"),
    ("similarity.search", ["ms", "jobs", "stages", "plan_ms", "driver_ms", "task_cpu_ms"],
     "op_p50_ms,rows_per_s", "ann_serve"),
    ("spark", ["jobs", "stages", "tasks", "task_cpu_ms", "task_wall_ms", "gc_ms",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "plan_ms",
               "driver_ms", "output_bytes"],
     "the metric the workload's dominant layer moves", ALL),
]

# Metrics that are not span fields: quality guards and trace bookkeeping.
_EXTRA = [
    {"name": "text.clean.kept_frac", "unit": "ratio", "better": "higher",
     "moves": "rows_per_s", "on": "corpus_dedup"},
    {"name": "dedup.planted_recall", "unit": "ratio", "better": "higher",
     "moves": "guards ok_frac", "on": "corpus_dedup"},
    {"name": "similarity.recall_at_1", "unit": "ratio", "better": "higher",
     "moves": "guards ok_frac", "on": "ann_serve"},
    {"name": "trace.coverage", "unit": "ratio", "better": "higher",
     "moves": "share of traced run_s inside top-level spans", "on": ALL},
    {"name": "trace.run_s", "unit": "s", "better": "lower",
     "moves": "run_s of the traced pass; minus untraced run_s, the tracing overhead", "on": ALL},
    {"name": "trace.overhead_s", "unit": "s", "better": "lower",
     "moves": "span bookkeeping time on the client thread", "on": ALL},
]


def _layer():
    out = []
    for prefix, fields, moves, on in _LAYER_MAP:
        for f in fields:
            out.append({"name": f"{prefix}.{f}", "unit": UNITS[f], "better": "lower",
                        "moves": moves, "on": on})
    return out + _EXTRA


LAYER = _layer()


def benchmark_json():
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": END_TO_END,
        "per_layer": [{k: m[k] for k in ("name", "unit", "better")} for m in LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
