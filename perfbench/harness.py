"""Sessions, spans, the timed loop and the result line.

An untraced run (``--trace 0``) measures the end-to-end metrics: the
workload's set-up repeated ``setups`` times, its warm-up iterations,
then timed iterations for ``--seconds`` (at least its
``min_iterations``). Set-ups and timed iterations are measured in wall
time and in the CPU time of the whole process tree (Python driver, JVM,
Python workers). The CPU figures are the end-to-end metrics: the median
set-up, and the mean per timed iteration (the JIT's work moves between
neighbouring iterations, and a sum keeps it); the wall figures are
recorded and printed as info lines. A traced run (``--trace 1``)
starts the session with Spark's event log on, sets up and runs one
traced iteration after the warm-ups, adds the workload's serial spans,
and turns the event log into per-layer metrics; untraced iterations
after it give the tracing overhead.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

import eventlog
import hostnoise
import inputs
import layers
from workloads import WORKLOADS

CORES = 4
# a fixed-size heap, touched at JVM start: how much of an untouched heap
# G1 had written to moved peak RSS by ~20% between runs of the same code,
# so peak RSS is the heap plus what grows outside it
DRIVER_MEMORY = "3g"
TREND_LIMIT = 0.15  # flag a run whose timed iterations rise by more than this share of the median


class Tracer:
    """Spans in memory; ``measured`` is False for set-up and warm-up calls."""

    def __init__(self):
        self.spans: list[eventlog.Span] = []
        self.measured = True

    @contextmanager
    def span(self, name: str):
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append(eventlog.Span(name, start, time.time() * 1000.0, self.measured))

    def walls(self, since: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            out[s.name] = out.get(s.name, 0.0) + (s.end_ms - s.start_ms) / 1000.0
        return out


class Sessions:
    """Starts and stops SparkSessions on one local[4] JVM, keeping every
    file Spark writes inside the cache directory."""

    def __init__(self, root: Path):
        self.root = root
        self.eventlog = root / "eventlog"
        self.spark = None

    def start(self, trace: bool):
        from opengauss_tools_datachecker_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.root / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={self.root / 'tmp'}",
            "spark.sql.warehouse.dir": str(self.root / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # set both ways: a conf given at JVM launch outlives the session
            "spark.eventLog.enabled": "true" if trace else "false",
        }
        if trace:
            shutil.rmtree(self.eventlog, ignore_errors=True)
            self.eventlog.mkdir(parents=True)
            conf.update({
                "spark.eventLog.dir": self.eventlog.resolve().as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every process it
        started. The JVM is killed rather than left to its slower shutdown
        hooks: the scratch it leaves is inside the cache dir, which the
        next run clears."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        children = hostnoise.tree_pids(os.getpid()) - {os.getpid()}
        gw.shutdown()  # close the Py4J connections first, or finalizers log errors at exit
        for pid in children:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        gw.proc.wait()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(hostnoise.running(p) for p in children):
            time.sleep(0.05)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def _reset_peak(pid: int | str) -> None:
    Path(f"/proc/{pid}/clear_refs").write_text("5")


def trend(times: list[float]) -> float:
    """Drift across the run as a share of the median: the Theil-Sen slope
    (robust to one outlier) times the run's span of iterations."""
    n = len(times)
    if n < 3:
        return 0.0
    slopes = [(times[j] - times[i]) / (j - i) for i in range(n) for j in range(i + 1, n)]
    return statistics.median(slopes) * (n - 1) / statistics.median(times)


class Run:
    def __init__(self, args, root: Path, started: float):
        self.args = args
        self.root = root
        self.started = started
        self.cls = WORKLOADS[args.workload]
        self.sessions = Sessions(root)
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[tuple[str, str]] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # -- pieces shared by both modes ---------------------------------------

    def _prepare(self):
        state = self.root / "state"
        shutil.rmtree(state, ignore_errors=True)
        spark = self.sessions.start(trace=False)
        self.record["jvm_start_s"] = time.perf_counter() - self.started
        t0 = time.perf_counter()
        wl = self.cls(spark, inputs.Cache(self.root), self.args.seed, state)
        self.record["inputs_s"] = time.perf_counter() - t0
        return wl

    def _setup(self, wl, trace: bool) -> float:
        """Session restart plus the program-built state; returns its CPU
        seconds and records its wall seconds."""
        c0 = hostnoise.tree_cpu_s()
        t0 = time.perf_counter()
        self.sessions.stop()
        self.tracer.measured = trace
        with self.tracer.span("session.get_spark"):
            spark = self.sessions.start(trace=trace)
        wl.setup(spark, self.tracer.span)
        self.record.setdefault("setups_wall_s", []).append(time.perf_counter() - t0)
        return hostnoise.tree_cpu_s() - c0

    def _iteration(self, wl, measured: bool, check: bool = True):
        """One reset + iteration; returns (wall seconds, CPU seconds,
        outputs) or None when it raised. With *check*, its outputs are
        checked, outside the timed region."""
        wl.reset()
        self.tracer.measured = measured
        spark = self.sessions.spark
        c0 = hostnoise.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = wl.iterate(spark, self.tracer.span)
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            self.mismatches.append(("iteration", "raised"))
            return None
        dt = time.perf_counter() - t0
        cpu = hostnoise.tree_cpu_s() - c0
        if check:
            self.attempted += wl.ops_per_iteration
            bad = wl.check(out)
            self.failed += len({op for op, _ in bad})
            self.mismatches += bad
        return dt, cpu, out

    def _warm_up(self, wl) -> bool:
        """The workload's untimed, unchecked warm-up iterations; False if
        one raised."""
        for _ in range(wl.warmups):
            done = self._iteration(wl, measured=False, check=False)
            if done is None:
                return False
            wl.release(done[-1])
        return True

    def _loop(self, wl, measured: bool, seconds: float) -> list[tuple[float, float, dict]] | None:
        """Timed iterations until *seconds* have passed (at least the
        workload's ``min_iterations``). Returns each one's wall seconds, CPU
        seconds and span walls; None if one raised."""
        timed = []
        deadline = time.perf_counter() + seconds
        while len(timed) < wl.min_iterations or time.perf_counter() < deadline:
            first = len(self.tracer.spans)
            done = self._iteration(wl, measured)
            if done is None:
                return None
            timed.append((done[0], done[1], self.tracer.walls(first)))
            wl.release(done[-1])
        return timed

    # -- untraced: end-to-end metrics ----------------------------------------

    def measure(self) -> dict:
        wl = self._prepare()
        jvm = self.sessions.jvm_pid()
        # a cold fixture build must not count towards the peak
        _reset_peak("self")
        _reset_peak(jvm)
        setups = []
        for _ in range(wl.setups):
            first = len(self.tracer.spans)
            setups.append(self._setup(wl, trace=False))
        self.record["last_setup_spans_s"] = self.tracer.walls(first)
        self.record["before_timing_s"] = time.perf_counter() - self.started
        noise = hostnoise.NoiseWindow()
        noise.start()
        timed = self._loop(wl, measured=True, seconds=self.args.seconds) if self._warm_up(wl) else None
        self.record["noise"] = noise.stop()
        if not timed:
            return {}
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm)
        times = [t for t, _, _ in timed]
        cpus = [c for _, c, _ in timed]
        self.record.update(setups_cpu_s=setups, iterations_s=times, iterations_cpu_s=cpus, trend=trend(cpus))
        self._report_named(
            wl, statistics.median(self.record["setups_wall_s"]), statistics.median(times), [p for _, _, p in timed], rss
        )
        return {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "iter_cpu_s": {"value": statistics.mean(cpus), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }

    def _report_named(self, wl, setup_wall_s: float, iter_s: float, phases: list[dict], rss: float) -> None:
        """The end-to-end view by the names the workloads are discussed in,
        in wall time."""
        named: dict[str, tuple[float, str]] = {"setup_wall_s": (setup_wall_s, "s"), "iter_s": (iter_s, "s")}
        if wl.name == "full-verify":
            named["verify_rows_per_s"] = (wl.rows / iter_s, "rows/s")
        elif wl.name == "migration-diff":
            named["diff_rows_per_s"] = (wl.rows / iter_s, "rows/s")
        else:
            for metric, spans in layers.DAILY_PHASES.items():
                named[metric] = (statistics.median(sum(p.get(s, 0.0) for s in spans) for p in phases), "s")
        named["peak_rss_mb"] = (rss, "MB")
        named["failed_op_frac"] = (self.failed / max(1, self.attempted), "ratio")
        self.record["named"] = {k: v for k, (v, _) in named.items()}
        for k, (v, unit) in named.items():
            print(f"{wl.name} {k} {v:.6g} {unit}")

    # -- traced: per-layer metrics -----------------------------------------

    def trace(self) -> dict:
        """A traced set-up, the warm-ups, one traced iteration and the
        workload's serial spans; then, in an untraced session on the same
        warm JVM, ``min_iterations`` untraced iterations over the same
        state, whose mean CPU gives the tracing overhead."""
        wl = self._prepare()
        self._setup(wl, trace=True)
        if not self._warm_up(wl):
            return {}
        done = self._iteration(wl, measured=True)
        if done is None:
            return {}
        traced_s, traced_cpu, out = done
        wl.extras(self.sessions.spark, self.tracer.span, out)
        wl.release(out)
        self.sessions.stop()  # flushes and closes the event log
        jobs = eventlog.read_jobs(eventlog.event_files(self.sessions.eventlog))
        totals = eventlog.span_totals(jobs, self.tracer.spans)
        ratios = wl.ratios(out, totals)
        wl.bind(self.sessions.start(trace=False))
        timed = self._loop(wl, measured=False, seconds=0)
        if not timed:
            return {}
        untraced_cpu = statistics.mean(c for _, c, _ in timed)
        ratios["trace.overhead_frac"] = traced_cpu / untraced_cpu - 1.0
        self.record.update(
            traced_s=traced_s, traced_cpu_s=traced_cpu, untraced_cpu_s=[c for _, c, _ in timed], n_jobs=len(jobs)
        )
        return layers.per_layer_metrics(totals, ratios, CORES)

    # -- the result line ---------------------------------------------------

    def run(self) -> int:
        try:
            metrics = self.trace() if self.args.trace else self.measure()
        finally:
            t0 = time.perf_counter()
            self.sessions.shutdown()
            self.record["shutdown_s"] = time.perf_counter() - t0
            self.record["process_s"] = time.perf_counter() - self.started
        correct = bool(metrics) and not self.mismatches
        for op, msg in self.mismatches:
            print(f"MISMATCH {self.args.workload} {op}: {msg}", file=sys.stderr)
        drift = self.record.get("trend", 0.0)
        if drift > TREND_LIMIT:  # growth the window's mean would hide; a fall is the JVM warming up
            print(f"TREND {self.args.workload}: timed iterations' CPU rose {drift:.0%} across the run "
                  f"{self.record['iterations_cpu_s']}", file=sys.stderr)
        self.record.update(correct=correct, attempted=self.attempted, failed=self.failed, metrics=metrics)
        runs = self.root / "runs"
        runs.mkdir(parents=True, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        (runs / f"{stamp}-{self.args.workload}-s{self.args.seed}-t{self.args.trace}.json").write_text(
            json.dumps(self.record, indent=1)
        )
        print("run " + json.dumps({k: v for k, v in self.record.items() if k != "metrics"}))
        print(json.dumps({
            "correct": correct, "attempted": max(1, self.attempted), "failed": self.failed, "metrics": metrics,
        }))
        return 0 if correct else 1
