"""Repository benchmark: one workload, one fresh process, one closed-loop client.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 5 --trace 0

Steps of one run:

1. Generate the workload's fixture (``datagen.py``) and compute each
   key's expected result with its DuckDB oracle (cached under
   ``.out/oracle``), before Spark starts.
2. Set up the session once (``get_spark``, which launches the JVM,
   the warm-up query and ``bench._warm_python_workers``) and report
   its time as ``setup_s``. Set-up is not repeated: a repeat inside the
   same JVM would skip the JVM launch, most of the set-up cost, and
   would lengthen every run by about a tenth.
3. Run every key once (the cold pass, in the workload's key order, so
   the same key pays the first-run warm-up in every run), then warm
   passes in seed-shuffled orders until ``--seconds`` have been spent,
   at least the workload's ``warm_passes`` (two when traced). Each key
   run is ``qs[key](spark, sf_dir)`` (build), the ``noop`` write
   (execute) and ``spark.catalog.clearCache()``, exactly as
   ``bench.py`` runs it, with the process tree's CPU seconds read from
   ``/proc`` before the build and after the write. The next key starts
   only when the previous one has finished.
4. In the last warm pass, after the timed write and before
   ``clearCache``, collect the same DataFrame and compare it with the
   oracle result; a mismatch or a key run that raises is a failed
   operation.

With ``--trace 1`` the warm passes alternate between traced passes
(``spans.Tracer`` wrappers installed, Spark counts read) and untraced
ones; span and Spark-count metrics come from the traced passes, build,
execute and CPU splits from the untraced ones, and
``trace_overhead_frac`` compares the two. The last stdout line is the
result object; the line before it is a detail record (per-key times,
errors, host probes).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402
from spans import TARGETS, Tracer, next_job_id, spark_counts  # noqa: E402
from workloads import FIXTURE_SEED, WORKLOADS  # noqa: E402

#: Whole-process limit; a run that passes it exits with an error.
DEADLINE_S = 170

#: Setup is wall time; the workload's cost is the CPU time of the whole
#: process tree (driver, JVM, Python workers), the analogue of the slot
#: time a shared engine bills. Wall time of the same passes is per-layer
#: (``wall.*``): on a host whose vCPUs are stolen by other guests it
#: spreads about twice as wide as CPU time, past the bounds.
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
}

GRAPH_ALGOS = tuple(fn for _, fn, layer in TARGETS if layer == "graph_algos")

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "wall.cold_total_s": "s",
    "wall.warm_total_s": "s",
    "build.cold_total_s": "s",
    "build.warm_total_s": "s",
    "exec.cold_total_s": "s",
    "exec.warm_total_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.load_jobs": "count",
    "graph.edge_count_estimate_calls": "count",
    "graph.edge_count_estimate_s": "s",
    "graph.edge_count_estimate_jobs": "count",
    "functions.loop_checkpoint_calls": "count",
    "functions.loop_checkpoint_eager_calls": "count",
    "functions.loop_checkpoint_s": "s",
    **{f"graph_algos.{f}_{m}": u for f in GRAPH_ALGOS for m, u in (("s", "s"), ("jobs", "count"))},
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "mem.peak_rss_mb": "MB",
    "mem.driver_peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.pyworker_peak_rss_mb": "MB",
    "host.other_busy_pct": "%",
    "host.steal_pct": "%",
    "verify_s": "s",
    "trace_overhead_frac": "ratio",
}


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)  # spark-warehouse/ and derby.log land here


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, data_dir: str):
        import bench
        from neo_olap_spark import testing
        from neo_olap_spark.registry import REGISTRY, queries

        self.bench, self.testing = bench, testing
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.data_dir = data_dir
        self.qs = queries()
        self.oracle = {k: REGISTRY[k].oracle for k in workload.keys}
        self.cpus = _cpus()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.verify_s = 0.0
        self.expected: dict = {}
        # per key: cold (build, exec, cpu) seconds; warm runs split by
        # traced or not
        self.cold: dict[str, tuple[float, float, float]] = {}
        self.warm: dict[str, list[tuple[float, float, float]]] = {k: [] for k in workload.keys}
        self.warm_traced: dict[str, list[tuple[float, float, float]]] = {k: [] for k in workload.keys}
        self.counts: dict[str, dict[str, int]] = {}
        self.cpu_passes: list[dict[str, float]] = []
        self.setup_times = (0.0, 0.0)  # get_spark, warm-up
        self.traced_passes = 0

    # -- inputs ------------------------------------------------------------
    def compute_expected(self) -> float:
        """Expected result of every key from its DuckDB oracle. Results are
        cached under ``.out/oracle``, keyed by a hash of the fixture files
        and of the oracle SQL, so the runs of one checkout compute each
        oracle once (the unrolled loop oracles of other graph keys take
        seconds to tens of seconds)."""
        import pandas as pd

        t = time.perf_counter()
        digest = hashlib.sha256()
        for name in sorted(os.listdir(self.data_dir)):
            with open(os.path.join(self.data_dir, name), "rb") as f:
                digest.update(name.encode() + f.read())
        cache = os.path.join(OUT, "oracle")
        os.makedirs(cache, exist_ok=True)
        con = None
        try:
            for key, sql in self.oracle.items():
                h = hashlib.sha256((digest.hexdigest() + sql).encode()).hexdigest()[:16]
                path = os.path.join(cache, f"{key}-{h}.parquet")
                if os.path.exists(path):
                    raw = pd.read_parquet(path)
                else:
                    con = con or self.testing.duck_connect(self.data_dir)
                    raw = con.execute(sql).fetchdf()
                    raw.to_parquet(path + ".tmp")
                    os.replace(path + ".tmp", path)
                self.expected[key] = self.testing._canon(raw)
        finally:
            if con is not None:
                con.close()
        return time.perf_counter() - t

    # -- session -------------------------------------------------------------
    def setup(self):
        from neo_olap_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=self.cpus)
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        self.bench._warm_python_workers(spark, self.cpus)
        self.setup_times = (t1 - t0, time.perf_counter() - t1)
        return spark

    # -- one key run -----------------------------------------------------------
    def check(self, key: str, df) -> None:
        t = time.perf_counter()
        self.attempted += 1
        try:
            got = self.testing._canon(df.toPandas())
            if not all(self.testing.compare_frames(got, self.expected[key])):
                raise AssertionError("output differs from oracle")
        except Exception as e:  # noqa: BLE001 — a failed check is counted, not fatal
            self.failed += 1
            self.errors.append(f"{key}:check: {type(e).__name__}: {e}"[:300])
        self.verify_s += time.perf_counter() - t

    def run_key(self, spark, tracer, key: str, phase: str, traced: bool, check: bool):
        sc = spark.sparkContext
        tracer.context = (key, phase)
        tracer.set_group(f"{key}:{phase}")
        j0 = next_job_id(sc) if traced else 0
        self.attempted += 1
        try:
            c0 = procstat.cpu_seconds()
            t0 = time.perf_counter()
            df = self.qs[key](spark, self.data_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cpu = sum(procstat.cpu_seconds().values()) - sum(c0.values())
            j1 = next_job_id(sc) if traced else 0
            if check:
                tracer.set_group(f"{key}:check")
                self.check(key, df)
        except Exception as e:  # noqa: BLE001 — one failing key must not end the run
            self.failed += 1
            self.errors.append(f"{key}:{phase}: {type(e).__name__}: {e}"[:300])
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            spark.catalog.clearCache()
            tracer.set_group(None)
        if traced:
            if key not in self.counts:
                self.counts[key] = spark_counts(sc, j0, j1)
            tracer.resolve_jobs()
        return t1 - t0, t2 - t1, cpu

    def run_pass(self, spark, tracer, order, phase: str, traced: bool, check: bool) -> float:
        if traced:
            tracer.install()
        c0, t = procstat.cpu_seconds(), time.perf_counter()
        try:
            for key in order:
                r = self.run_key(spark, tracer, key, phase, traced, check)
                if r is None:
                    continue
                if phase == "cold":
                    self.cold[key] = r
                else:
                    (self.warm_traced if traced else self.warm)[key].append(r)
        finally:
            tracer.uninstall()
        dur = time.perf_counter() - t
        if phase == "warm" and not traced:
            c1 = procstat.cpu_seconds()
            self.cpu_passes.append({k: c1[k] - c0[k] for k in c0})
        self.traced_passes += int(traced)
        return dur

    def measure(self, spark, tracer) -> None:
        """Cold pass, then warm passes until ``seconds`` are spent. Output
        checks run in the last pass and do not count against the budget."""
        # Warm passes run even when ``seconds`` is spent earlier. Traced
        # runs alternate untraced and traced passes starting untraced, so
        # they run at least one of each.
        min_passes = 2 if self.trace else self.w.warm_passes
        rng = random.Random(self.seed)
        keys = list(self.w.keys)
        t_start = time.perf_counter()
        # a warm pass takes roughly 0.7 of the cold pass
        est = 0.7 * self.run_pass(spark, tracer, keys, "cold", False, False)
        n = 0
        while True:
            elapsed = time.perf_counter() - t_start - self.verify_s
            final = n + 1 >= min_passes and elapsed + est >= self.seconds
            traced = self.trace and n % 2 == 1
            rng.shuffle(keys)
            est = self.run_pass(spark, tracer, keys, "warm", traced, final)
            n += 1
            if final:
                return

    # -- results ---------------------------------------------------------------
    def _warm_medians(self, runs, part=None) -> dict[str, float]:
        pick = (lambda r: r[0] + r[1]) if part is None else (lambda r: r[part])
        return {k: statistics.median([pick(r) for r in v]) for k, v in runs.items() if v}

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": sum(self.setup_times),
            "cold_cpu_s": sum(c for _, _, c in self.cold.values()),
            "warm_cpu_s": sum(self._warm_medians(self.warm, 2).values()),
        }

    def per_layer(self, tracer, host: dict, peak_rss: dict[str, float]) -> dict[str, float]:
        n = max(self.traced_passes, 1)
        layers = tracer.layer_totals("warm")

        def layer(name: str, field: str) -> float:
            return layers.get(name, {}).get(field, 0) / n

        counts = {f: sum(c[f] for c in self.counts.values())
                  for f in ("jobs", "stages", "tasks", "failed_tasks")}
        untraced = sum(self._warm_medians(self.warm).values())
        traced = sum(self._warm_medians(self.warm_traced).values())
        cpu = {k: statistics.median([p[k] for p in self.cpu_passes]) for k in ("driver", "jvm", "pyworker")}
        out = {
            "session.get_spark_s": self.setup_times[0],
            "session.warmup_s": self.setup_times[1],
            "wall.cold_total_s": sum(b + e for b, e, _ in self.cold.values()),
            "wall.warm_total_s": untraced,
            "build.cold_total_s": sum(b for b, _, _ in self.cold.values()),
            "build.warm_total_s": sum(self._warm_medians(self.warm, 0).values()),
            "exec.cold_total_s": sum(e for _, e, _ in self.cold.values()),
            "exec.warm_total_s": sum(self._warm_medians(self.warm, 1).values()),
            **{f"spark.{f}": v for f, v in counts.items()},
            "tables.load_calls": layer("tables.load", "calls"),
            "tables.load_s": layer("tables.load", "s"),
            "tables.load_jobs": layer("tables.load", "jobs"),
            "graph.edge_count_estimate_calls": layer("graph.edge_count_estimate", "calls"),
            "graph.edge_count_estimate_s": layer("graph.edge_count_estimate", "s"),
            "graph.edge_count_estimate_jobs": layer("graph.edge_count_estimate", "jobs"),
            "functions.loop_checkpoint_calls": layer("functions.loop_checkpoint", "calls"),
            "functions.loop_checkpoint_eager_calls": layer("functions.loop_checkpoint", "eager_calls"),
            "functions.loop_checkpoint_s": layer("functions.loop_checkpoint", "s"),
            "cpu.driver_s": cpu["driver"],
            "cpu.jvm_s": cpu["jvm"],
            "cpu.pyworker_s": cpu["pyworker"],
            "mem.peak_rss_mb": sum(peak_rss.values()),
            **{f"mem.{role}_peak_rss_mb": v for role, v in peak_rss.items()},
            "host.other_busy_pct": host.get("other_busy_pct", 0.0),
            "host.steal_pct": host.get("steal_pct", 0.0),
            "verify_s": self.verify_s,
            "trace_overhead_frac": traced / untraced - 1.0,
        }
        for f in GRAPH_ALGOS:
            out[f"graph_algos.{f}_s"] = layer(f"graph_algos.{f}", "s")
            out[f"graph_algos.{f}_jobs"] = layer(f"graph_algos.{f}", "jobs")
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    work = os.path.join(OUT, f"run-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, ROOT)

    spark = None
    try:
        b = Bench(w, a.seed, a.seconds, bool(a.trace), os.path.join(work, "data"))
        marks = {"start": time.perf_counter()}
        datagen.write(b.data_dir, FIXTURE_SEED, w.sf)
        marks["datagen"] = time.perf_counter()
        oracle_s = b.compute_expected()
        procstat.reset_peak_rss()
        probe_start = b.bench.host_load_probe()
        marks["oracle_probe"] = time.perf_counter()
        spark = b.setup()
        marks["setup"] = time.perf_counter()
        tracer = Tracer(spark.sparkContext)
        bracket = b.bench.key_contention_probe_start()
        b.measure(spark, tracer)
        host = b.bench.key_contention_probe_end(bracket) or {}
        peak_rss = procstat.peak_rss_mb()
        marks["measure"] = time.perf_counter()
        _stop_spark(spark)
        spark = None
        marks["stop"] = time.perf_counter()
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)

    quiet = probe_start.get("verdict") == "quiet" and not host.get("contended", False)
    detail = {
        "workload": w.name, "seed": a.seed, "trace": a.trace, "sf": w.sf,
        "fixture_seed": FIXTURE_SEED, "cpus": b.cpus,
        "wall_s": time.perf_counter() - T_START,
        "phases_s": {k: marks[k] - t for (_, t), k in zip(marks.items(), list(marks)[1:])},
        "host_tag": "quiet" if quiet else "contended",
        "host_probe": probe_start, "host": host,
        "error_frac": b.failed / b.attempted, "errors": b.errors,
        "oracle_s": oracle_s, "verify_s": b.verify_s, "setup": b.setup_times,
        "warm_passes": len(b.cpu_passes) + b.traced_passes, "peak_rss_mb": peak_rss,
        "cold": b.cold, "warm": b.warm, "warm_traced": b.warm_traced,
        "spark_counts": b.counts,
    }
    if a.trace:
        values, units = b.per_layer(tracer, host, peak_rss), PER_LAYER
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{w.name}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump([s.to_json() for s in tracer.spans], f)
        detail["spans"] = os.path.relpath(path, ROOT)
    else:
        values, units = b.end_to_end(), END_TO_END
    print(json.dumps(detail))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
