"""apitap_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload http_merge_pg --seed 1 --seconds 12 --trace 0

Run from the root of a source tree. The workload's inputs come from
``--seed``. One SparkSession (``apitap_spark.session.get_session``) is
started cold and pays one cold first run; the two together are
``setup_s``. An untimed warm-up run follows, then runs repeat in a
closed loop, one at a time, until ``--seconds`` have passed. Every run's
output is checked. With ``--trace 0`` the last stdout line reports the
end-to-end metrics; with ``--trace 1`` untraced and traced runs
alternate, and it reports the
per-layer metrics of the traced runs plus ``trace_overhead_s``. The line
before it records the context: cpus, seed, timed samples, the share of
CPU time the hypervisor stole during the measured window and, for
Postgres, its flush settings. Workloads are described in ``etl.py`` and
``gates.py``; ``STEADINESS.md`` records why each was chosen and how
steady it is.

Times and CPU readings cover the timed part of a run only. Resetting the
Postgres target before an ETL run, resetting memos and collecting results
between gates, and the output checks after a run are left out of them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["http_merge_pg", "gates_stage_heavy"]
MIN_RUNS = 2  # timed runs, even when one run outlasts --seconds


def _args(argv):
    ap = argparse.ArgumentParser(description="apitap_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and make the program importable by executor workers.

    The JVM compiles with C1 only (``TieredStopAtLevel=1``). With C2 a run
    keeps getting faster for 25 and more runs (gates: 8.3 s, then 3.6 s at
    the 28th) while C2 compiles in the background, so a short window
    would measure how far compilation has got, and that depends on how
    busy the host is. With C1 run times level off after the warm-up run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )


def _session(work: str):
    from apitap_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _p75(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[2]


def _steal_frac(ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    """Share of CPU time between two ``probes.host_cpu_ticks()`` readings
    that the hypervisor gave to other tenants."""
    steal, total = (b - a for a, b in zip(ticks0, ticks1))
    return steal / total if total else 0.0


class Bench:
    def __init__(self, args, work: str, cpus: int):
        import probes
        from etl import MergePgWorkload
        from gates import GatesWorkload

        self.args, self.work, self.cpus = args, work, cpus
        self.probes = probes
        self.is_gates = args.workload == GatesWorkload.name
        self.wl = (GatesWorkload if self.is_gates else MergePgWorkload)(work, args.seed)
        self.spark = None
        self.attempted = self.failed = self.samples = 0
        self.problems: list[str] = []

    # -- one run ---------------------------------------------------------
    def _cpu_s(self) -> float:
        return self.probes.tree_cpu_s(os.getpid(), self._excluded())

    def _run(self) -> tuple[float, float, int]:
        """(timed seconds, CPU seconds of the process tree within them, rows
        landed) of one untraced run."""
        self.wl.prepare_run()
        if self.is_gates:
            secs, cpu = self.wl.run_once(self.spark)
            return secs, cpu, self.wl.rows
        c0 = self._cpu_s()
        t0 = time.perf_counter()
        stats = self.wl.run_once(self.spark)
        secs = time.perf_counter() - t0
        return secs, self._cpu_s() - c0, stats.rows_written

    def _checked(self, fn):
        """Run ``fn`` as one attempted run; a raise or a failed output
        check counts as a failed run."""
        self.attempted += 1
        try:
            out = fn()
            if self.wl.check():
                return out
            self.problems.append(f"run {self.attempted}: output check failed")
        except Exception:  # noqa: BLE001 -- a failed run is counted, not fatal
            self.problems.append(f"run {self.attempted}: {traceback.format_exc(limit=3)}")
        self.failed += 1
        return None

    # -- phases ----------------------------------------------------------
    def setup(self) -> float:
        """Session start plus the timed part of the cold first run: what a
        fresh CLI pays."""
        t0 = time.perf_counter()
        self.spark = _session(self.work)
        session_s = time.perf_counter() - t0
        run_s = self._run()[0]
        _log(f"setup: session {session_s:.2f}s + cold run {run_s:.2f}s")
        if self.is_gates:
            self.problems += self.wl.verify_against_oracles()
        elif not self.wl.check():
            self.problems.append("setup run: output check failed")
        return session_s + run_s

    def warm_up(self) -> None:
        """Untimed runs after the cold one, while run times level off (the
        JIT is still compiling the hot paths); checked like any run."""
        for _ in range(self.wl.warmup_runs):
            out = self._checked(self._run)
            if out is not None:
                _log(f"warm-up run: {out[0]:.3f}s")

    def timed(self, setup_s: float) -> dict:
        """End-to-end metrics, no tracing."""
        sampler = self.probes.RssSampler(os.getpid(), self._excluded())
        sampler.start()
        sampler.reset()
        walls, rates, cpus = [], [], []
        t_start = time.perf_counter()
        try:
            while time.perf_counter() - t_start < self.args.seconds or len(walls) < MIN_RUNS:
                if self.attempted >= 4 * MIN_RUNS and not walls:
                    break  # every run is failing; stop early and report it
                ticks0 = self.probes.host_cpu_ticks()
                out = self._checked(self._run)
                if out is None:
                    continue
                secs, cpu, rows = out
                _log(
                    f"run {len(walls) + 1}: {secs:.3f}s, {cpu:.2f} cpu-s, "
                    f"steal {_steal_frac(ticks0, self.probes.host_cpu_ticks()):.3f}"
                )
                walls.append(secs)
                rates.append(rows / secs)
                cpus.append(cpu)
        finally:
            sampler.stop()
        if not walls:
            return {}
        self.samples = len(walls)
        return {
            "wall_s": _metric(statistics.median(walls), "s"),
            "wall_s_p75": _metric(_p75(walls), "s"),
            "rows_per_s": _metric(statistics.median(rates), "rows/s"),
            "cpu_s": _metric(statistics.median(cpus), "s"),
            "peak_rss_mb": _metric(sampler.peak, "MB"),
            "setup_s": _metric(setup_s, "s"),
        }

    def traced(self) -> dict:
        """Per-layer metrics: untraced and traced runs alternate, so the
        difference of their medians is the tracing overhead."""
        import tracing

        store = self.probes.StatusStore(self.spark)
        tracer = (
            tracing.GateTracer(self.wl, store, self.cpus)
            if self.is_gates
            else tracing.EtlTracer(self.wl, store, self.cpus)
        )
        plain, traced, layers = [], [], []

        def plain_run():
            out = self._checked(self._run)
            if out is not None:
                plain.append(out[0])

        def traced_run(tag: str):
            out = self._checked(lambda: tracer.run(self.spark, tag))
            if out is not None:
                wall, _, per_layer = out
                _log(f"traced run {tag}: {wall:.3f}s")
                traced.append(wall)
                layers.append(per_layer)

        t_start = time.perf_counter()
        i = 0
        while time.perf_counter() - t_start < self.args.seconds or len(traced) < MIN_RUNS:
            if self.attempted >= 4 * MIN_RUNS and not traced:
                break
            i += 1
            # alternate which goes first, so neither side always runs warmer
            if i % 2:
                plain_run()
                traced_run(f"t{i}")
            else:
                traced_run(f"t{i}")
                plain_run()
        if not traced or not plain:
            return {}
        self.samples = len(traced)
        metrics = {
            name: _metric(statistics.median(rec[name][0] for rec in layers), layers[0][name][1])
            for name in layers[0]
        }
        metrics["trace_overhead_s"] = _metric(
            statistics.median(traced) - statistics.median(plain), "s"
        )
        return metrics

    def _excluded(self) -> set[int]:
        api = getattr(self.wl, "api", None)
        return {api.proc.pid} if api is not None else set()

    def context(self, ticks0: tuple[int, int]) -> dict:
        """``ticks0``: ``probes.host_cpu_ticks()`` when the measured
        window began; the share of CPU time stolen by the hypervisor since
        then tells a slow host from a slow program."""
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "cpus": self.cpus,
            "samples": self.samples,
            "host_steal_frac": round(_steal_frac(ticks0, self.probes.host_cpu_ticks()), 4),
            **self.wl.context(),
        }

    def close(self) -> None:
        try:
            if self.spark is not None:
                self._stop_spark()
        finally:
            self.wl.stop_services()

    def _stop_spark(self) -> None:
        """Stop the session, then the JVM it runs in, and wait until the JVM
        and its Python workers have exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm = gateway.proc
        procs = self.probes.tree_pids(jvm.pid)
        self.spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        self.probes.wait_gone(procs)
        jvm.wait(timeout=10)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "apitap_spark")):
        print("perfbench: no apitap_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _configure_env(work, cpus)
    bench = None
    try:
        bench = Bench(args, work, cpus)
        t0 = time.perf_counter()
        bench.wl.start_services()
        _log(f"inputs and services ready in {time.perf_counter() - t0:.2f}s")
        setup_s = bench.setup()
        bench.warm_up()
        ticks0 = bench.probes.host_cpu_ticks()
        metrics = bench.traced() if args.trace else bench.timed(setup_s)
        context = bench.context(ticks0)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    for p in bench.problems:
        _log(p)
    if not metrics:
        _log("no run completed")
        return 1
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": not bench.problems,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
