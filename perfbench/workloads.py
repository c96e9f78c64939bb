"""The benchmark's workloads and the layer map its metrics follow.

Each workload is a fixed list of registry entries that stresses one layer
more than the others. Entry lists are short because the whole benchmark
(22 runs per workload, each paying two JVM launches for its set-up
samples and a cold pass) must fit a fixed wall budget; each list keeps at
least one entry for every mechanism the workload is named for.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    "olap_codecs": Workload(
        entries=(
            "q03_shipping_priority",
            "p_snappy_roundtrip",
        ),
        why="work done by the final collect: a lineitem scan, shuffle join "
        "and aggregate in the JVM, and a hand-written codec in Python workers",
    ),
    "eager_jobs": Workload(
        entries=(
            "q91_txlog_time_travel",
            "g_queen_surrounded",
        ),
        why="chains of small Spark jobs on tiny data: table-format "
        "stage/commit/time-travel reads and game rules on a fixture board",
    ),
}

# Which layer metrics should move which run-level timing (`cold_pass_s`
# is reported with the traced run, the others are end to end), and on
# which workload a change to that layer is expected to show.
LAYERS: dict[str, dict[str, tuple[str, ...]]] = {
    "session": {
        "metrics": ("session.import_s", "session.get_spark_s"),
        "moves": ("setup_s",),
        "workloads": tuple(WORKLOADS),
    },
    "registry": {
        "metrics": ("registry.build_s", "registry.build_jobs"),
        "moves": ("pass_s", "query_p50_s"),
        "workloads": ("eager_jobs",),
    },
    "catalyst": {
        "metrics": ("catalyst.analysis_ms", "catalyst.optimization_ms",
                    "catalyst.planning_ms", "plan.unpartitioned_windows"),
        "moves": ("cold_pass_s", "query_p50_s"),
        "workloads": ("olap_codecs",),
    },
    "action": {
        "metrics": ("action.collect_s", "action.jobs", "action.rows_out"),
        "moves": ("pass_s",),
        "workloads": ("olap_codecs",),
    },
    "spark": {
        "metrics": ("spark.jobs", "spark.stages", "spark.tasks",
                    "spark.executor_run_s", "spark.executor_cpu_s",
                    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                    "spark.spill_bytes", "spark.input_bytes",
                    "spark.output_bytes", "spark.executor_busy_frac"),
        "moves": ("pass_s",),
        "workloads": ("eager_jobs", "olap_codecs"),
    },
    "proc": {
        "metrics": ("proc.driver_cpu_s", "proc.jvm_cpu_s", "proc.py_worker_cpu_s"),
        "moves": ("pass_s",),
        "workloads": ("olap_codecs",),
    },
    "txlog": {
        "metrics": ("txlog.commits", "txlog.commit_s", "txlog.conflicts",
                    "txlog.stage_s", "txlog.read_s", "txlog.bytes_written"),
        "moves": ("pass_s", "peak_rss_mb"),
        "workloads": ("eager_jobs",),
    },
    "hive_game": {
        "metrics": ("game.jobs_per_row",),
        "moves": ("pass_s",),
        "workloads": ("eager_jobs",),
    },
}
