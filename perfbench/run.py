"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload olap_codecs --seed 1 --seconds 9 --trace 0

Run from the root of a checkout. One run is a single-client closed loop in
a fresh process: set-up (import, `registry.load_all_modules()`,
`session.get_spark()`), one cold pass over the workload's entries, two
warm-up passes, then a fixed number of measured warm passes. Each execution is one build call
`QUERIES[name](spark, sf_dir)` plus `collect()`, timed from outside. After
its cold execution, untimed, each entry is checked against its DuckDB
oracle; every later execution must return the same result. The seed
permutes the entry order of every pass; the tables are fixed (see
datagen.py). Set-up is timed SETUPS times, each in a fresh process, and
`setup_s` is the median.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the warm passes alternate untraced and traced, and the
line carries the per-layer metrics, self times and the tracing overhead.
Everything else goes to stderr; the run facts (host calibration, versions,
entry orders, every sample) and, when traced, the spans are written to
``.perfbench/runs/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
CPUS = 4
# Warm pass time on a 4-core host (local[4]). The warm pass count is
# ceil(--seconds / NOMINAL_PASS_S): fixed for a given --seconds, so the
# sample count never depends on how fast the host runs.
NOMINAL_PASS_S = 3.2
# Passes after the cold one that are run and checked but not timed into any
# metric: pass times still fall for the first two warm passes (JIT), and
# timing them would make pass_s track how fast the JVM warms up.
WARMUP_PASSES = 2
# Set-ups timed per run: SETUPS - 1 in child processes, then the run's own.
# Each costs a JVM launch (8-10 s on a 4-core host); two leave room in the
# wall budget for six warm passes.
SETUPS = 2
GAME_MODULE = "hive_clone_spark.hive_game"

sys.path[:0] = [str(HERE), str(ROOT)]

import probes  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run_pass(order, execute, expected, verify=None):
    """Execute each entry once, in ``order``; ``execute`` returns the
    DataFrame and its collected rows. Returns one ``(entry, seconds, ok)``
    per execution: ``seconds`` covers the call to ``execute`` only; ``ok``
    is False when it raised or its result hash differs from
    ``expected[entry]``. With ``verify``, untimed, each entry's result
    hash becomes ``expected[entry]`` if ``verify(entry, df)`` holds, and
    None (no later result matches) if not. A failure never stops the pass."""
    from oracle import result_hash

    samples = []
    for name in order:
        t0 = time.perf_counter()
        try:
            df, rows = execute(name)
        except Exception:
            samples.append((name, time.perf_counter() - t0, False))
            print(f"perfbench: {name} raised\n{traceback.format_exc()}", file=sys.stderr)
            continue
        seconds = time.perf_counter() - t0
        digest = result_hash(df.columns, rows)
        if verify is not None:
            expected[name] = digest if verify(name, df) else None
        ok = expected.get(name) is not None and digest == expected[name]
        if not ok:
            print(f"perfbench: {name} returned a wrong result", file=sys.stderr)
        samples.append((name, seconds, ok))
    return samples


def warm_passes(seconds: int) -> int:
    return max(1, math.ceil(seconds / NOMINAL_PASS_S))


def pass_time(samples) -> float:
    return sum(s[1] for s in samples)


def failures(passes) -> tuple[int, int]:
    """(attempted, failed) over every timed execution."""
    samples = [s for p in passes for s in p]
    return len(samples), sum(not s[2] for s in samples)


def end_to_end(setups: list[dict[str, float]], warm, peak_mb: float) -> dict[str, float]:
    """End-to-end metrics: the median set-up, the median measured warm
    pass, the median execution over those passes, peak memory."""
    return {
        "setup_s": statistics.median([s["import"] + s["get_spark"] for s in setups]),
        "pass_s": statistics.median([pass_time(p) for p in warm]),
        "query_p50_s": statistics.median([s[1] for p in warm for s in p]),
        "peak_rss_mb": peak_mb,
    }


def per_layer(counters: list[dict[str, float]], spans, traced, warm, cpus: int) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes of each pass's
    summed counters, each pass's self time per span kind, and the tracing
    overhead (traced minus untraced median pass time)."""
    rows = []
    for i, c in enumerate(counters, start=1):
        row = dict(c)
        row["spark.executor_busy_frac"] = c.get("spark.executor_run_s", 0.0) / (c["pass_wall_s"] * cpus)
        row["game.jobs_per_row"] = c.get("game.jobs", 0.0) / c["game.rows"] if c.get("game.rows") else 0.0
        own = self_times([s for s in spans if s.pass_ == i])
        for kind in ("pass", "entry", "build", "action"):
            row[f"self.{kind}_s"] = own.get(kind, 0.0)
        row["self.txlog_s"] = sum(v for k, v in own.items() if k.startswith("txlog."))
        rows.append(row)
    keys = {k for r in rows for k in r}
    out = {k: statistics.median([r.get(k, 0.0) for r in rows]) for k in keys}
    out["trace.pass_s"] = statistics.median([pass_time(p) for p in traced])
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median([pass_time(p) for p in warm])
    return out


class Runner:
    """Executes entries against one session, untraced or traced."""

    def __init__(self, spark, registry, sf_dir: str, entries, seed: int, jvm_pid: int, tracer) -> None:
        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.entries, self.jvm_pid, self.tracer = list(entries), jvm_pid, tracer
        self.rng = random.Random(seed)
        self.orders: list[list[str]] = []
        self.expected: dict[str, str | None] = {}
        self.sprobe = probes.SparkProbe(spark)
        self.counters: dict[str, float] = {}
        self.game = {e for e in entries if registry.QUERIES[e].__module__.startswith(GAME_MODULE)}

    def _order(self) -> list[str]:
        order = self.entries[:]
        self.rng.shuffle(order)
        self.orders.append(order)
        return order

    def plain(self, name: str):
        df = self.registry.QUERIES[name](self.spark, self.sf_dir)
        return df, df.collect()

    def verify(self, name: str, df) -> bool:
        from oracle import verified

        return verified(name, df, self.registry.ORACLE[name], self.sf_dir)

    def _add(self, values: dict[str, float]) -> None:
        for key, v in values.items():
            self.counters[key] = self.counters.get(key, 0.0) + v

    def traced(self, name: str):
        tracer, sprobe = self.tracer, self.sprobe
        tracer.entry = name
        group = f"perfbench-{tracer.pass_}-{name}"
        cpu0 = probes.cpu_seconds(self.jvm_pid)
        sprobe.start(group)
        try:
            with tracer.span("entry"):
                with tracer.span("build") as build:
                    df = self.registry.QUERIES[name](self.spark, self.sf_dir)
                build_jobs = len(sprobe.jobs(group))
                with tracer.span("action") as action:
                    rows = df.collect()
                job_ids = sprobe.jobs(group)
                self._add(sprobe.stage_counters(job_ids))
                self._add(sprobe.catalyst(df))
        finally:
            sprobe.stop()
            tracer.entry = None
        cpu1 = probes.cpu_seconds(self.jvm_pid)
        self._add({k: cpu1[k] - cpu0[k] for k in cpu0})
        self._add({
            "registry.build_s": build.duration, "registry.build_jobs": build_jobs,
            "action.collect_s": action.duration, "action.jobs": len(job_ids) - build_jobs,
            "action.rows_out": len(rows), "spark.jobs": len(job_ids),
        })
        if name in self.game:
            self._add({"game.jobs": len(job_ids), "game.rows": len(rows)})
        return df, rows

    def cold_pass(self):
        """The session's first pass; each entry is verified after its
        execution, and its result becomes the expected one."""
        return run_pass(self._order(), self.plain, self.expected, verify=self.verify)

    def untraced_pass(self):
        return run_pass(self._order(), self.plain, self.expected)

    def traced_pass(self, number: int):
        """One traced pass; returns its samples and its summed counters."""
        self.counters = dict.fromkeys(probes.TxlogProbe.COUNTERS, 0.0)
        self.tracer.pass_ = number
        txprobe = probes.TxlogProbe(self.tracer, lambda k, v: self._add({k: v}))
        txprobe.install()
        try:
            with self.tracer.span("pass") as span:
                samples = run_pass(self._order(), self.traced, self.expected)
        finally:
            txprobe.uninstall()
            self.tracer.pass_ = None
        return samples, {**self.counters, "pass_wall_s": span.duration}

    def traced_passes(self, k: int):
        """k untraced and k traced warm passes, alternating in ABBA order
        so drift over the run falls on both sides alike."""
        warm, traced, counters = [], [], []
        for i in range(k):
            for is_traced in ((False, True) if i % 2 == 0 else (True, False)):
                if is_traced:
                    samples, c = self.traced_pass(len(traced) + 1)
                    traced.append(samples)
                    counters.append(c)
                else:
                    warm.append(self.untraced_pass())
        return warm, traced, counters


def _calibration(spark, sf_dir: str) -> float:
    """The bench's machine-speed probe: warm reads, then a timed
    lineitem + events scan. It flags a throttled host; it rescales nothing."""
    for t in ("lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    t0 = time.perf_counter()
    for t in ("lineitem", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    return time.perf_counter() - t0


def _isolate(tmp: Path, cpus: int) -> None:
    """Keep every file the run writes inside the checkout (temp dirs; no
    JVM perf-data file), keep the console quiet (no progress bars), pin
    the zone for timestamp values, and fix the driver heap at 2 GB
    (-Xms = -Xmx) so heap resizing does not move `peak_rss_mb`."""
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
        ),
    })
    time.tzset()
    tempfile.tempdir = None


def stop(spark, jvm_pid: int) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    workers = probes.descendants(jvm_pid)
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while time.monotonic() < deadline:
            try:
                state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
            except OSError:
                break
            if state in ("Z", "X"):
                break
            time.sleep(0.05)


def _cleanup(sf_name: str, tmp: Path, before: set[Path]) -> None:
    """Remove the warehouse tables this process created (per-process
    directories named ``<sf>-<pid>``, and table directories left empty
    that did not exist before the run), and its temp dir."""
    wh = ROOT / "spark-warehouse"
    for d in wh.glob(f"*/{sf_name}-{os.getpid()}*"):
        shutil.rmtree(d, ignore_errors=True)
    for d in sorted(set(wh.glob("*")) - before):
        if d.is_dir() and not any(d.iterdir()):
            d.rmdir()
    if not before and wh.is_dir() and not any(wh.iterdir()):
        wh.rmdir()
    shutil.rmtree(tmp, ignore_errors=True)


def _meminfo_kb(key: str) -> int | None:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return None


def setup():
    """One set-up: import, `registry.load_all_modules()`,
    `session.get_spark()`. Returns the session, the registry and the two
    phase times."""
    t0 = time.perf_counter()
    from hive_clone_spark import registry
    from hive_clone_spark.session import get_spark

    registry.load_all_modules()
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    return spark, registry, {"import": t1 - t0, "get_spark": t2 - t1}


def child_setups(n: int, tmp: Path) -> list[dict[str, float]]:
    """Phase times of n set-ups, each in a fresh process (setup_once.py)
    that stops its JVM and exits before the next starts."""
    out = []
    for i in range(n):
        path = tmp / f"setup-{i}.json"
        subprocess.run([sys.executable, str(HERE / "setup_once.py"), str(path)],
                       check=True, timeout=150)
        out.append(json.loads(path.read_text()))
    return out


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """One run; returns (metrics, run facts)."""
    import datagen

    spec = WORKLOADS[workload]
    sf_dir = str(datagen.ensure(WORK / "data"))
    tmp = WORK / "tmp" / str(os.getpid())
    cpus = min(CPUS, os.cpu_count() or 1)
    _isolate(tmp, cpus)
    tracer = Tracer(workload)
    warehouse_before = set((ROOT / "spark-warehouse").glob("*"))

    t0 = time.perf_counter()
    setups = child_setups(SETUPS - 1, tmp)
    # seconds since the run began at which each phase ended
    elapsed = {"child_setups": time.perf_counter() - t0}
    with tracer.span("setup"):
        spark, registry, own = setup()
    setups.append(own)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    elapsed["setup"] = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        facts = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "entries": list(spec.entries), "nproc": os.cpu_count(),
            "mem_total_kb": _meminfo_kb("MemTotal"), "spark_version": spark.version,
            "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "setups": setups,
        }

        runner = Runner(spark, registry, sf_dir, spec.entries, seed, jvm_pid, tracer)
        cold = runner.cold_pass()
        elapsed["cold_verified"] = time.perf_counter() - t0
        warmup = [runner.untraced_pass() for _ in range(WARMUP_PASSES)]
        # after the cold pass, so that pass is the session's first Spark
        # work, and right before the measured passes
        facts["host.calibration_before_s"] = _calibration(spark, sf_dir)
        k = warm_passes(seconds)
        if trace:
            warm, traced, counters = runner.traced_passes(k)
        else:
            warm, traced = [runner.untraced_pass() for _ in range(k)], []
        peak_mb = probes.peak_rss_mb(jvm_pid)
        facts["host.calibration_after_s"] = _calibration(spark, sf_dir)
        elapsed["measured"] = time.perf_counter() - t0
    finally:
        stop(spark, jvm_pid)
        _cleanup(Path(sf_dir).name, tmp, warehouse_before)
    elapsed["stopped"] = time.perf_counter() - t0

    passes = [cold, *warmup, *warm, *traced]
    attempted, failed = failures(passes)
    facts.update({
        "warmup_passes": WARMUP_PASSES, "warm_passes": k, "orders": runner.orders, "attempted": attempted,
        "failed": failed, "failed_frac": failed / attempted,
        "query_p90": stats.p90([s[1] for p in warm for s in p]),
        "cold_pass_s": pass_time(cold), "elapsed_s": elapsed, "samples": passes,
    })
    if trace:
        metrics = per_layer(counters, tracer.spans, traced, warm, cpus)
        metrics.update({
            "cold_pass_s": pass_time(cold),
            "session.import_s": statistics.median([s["import"] for s in setups]),
            "session.get_spark_s": statistics.median([s["get_spark"] for s in setups]),
            "host.calibration_s": (facts["host.calibration_before_s"] + facts["host.calibration_after_s"]) / 2,
        })
        facts["spans"] = len(tracer.spans)
        tracer.dump(WORK / "runs" / f"{workload}-seed{seed}-spans.json")
    else:
        metrics = end_to_end(setups, warm, peak_mb)
    return metrics, facts


def report(metrics: dict[str, float], names: list[dict], attempted: int, failed: int) -> dict:
    """The result object: exactly the listed metrics, with their units."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "hive_clone_spark" / "registry.py").is_file():
        print(f"perfbench: no hive_clone_spark package under {ROOT}", file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    # stdout carries only the result line: the JVM, Python workers and
    # the entries inherit a stdout that points at stderr
    result_fd = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    metrics, facts = run(args.workload, args.seed, args.seconds, bool(args.trace))
    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    result = report(metrics, names, facts["attempted"], facts["failed"])
    out = WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"result": result, "facts": facts}))
    print("perfbench facts: " + json.dumps({k: v for k, v in facts.items() if k not in ("samples", "orders")}),
          file=sys.stderr)
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
