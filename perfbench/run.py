"""Copy-pipeline benchmark: ``DbCopier.run`` end to end and layer by layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload subset_copy --seed 1 --seconds 30 --trace 0

Workloads: ``subset_copy`` and ``pg_upsert_copy``
(see ``perfbench/README.md``). The inputs are generated from ``--seed``
under ``.perfbench/`` in the current directory, which also holds every
file Spark, Python and PostgreSQL write; it is removed at exit. One client
issues one run at a time (closed loop) on the program's own session
(``session.get_spark``) with ``SPARK_GRAFT_CPUS`` = N, N being
``$SPARK_GRAFT_CPUS`` or the usable core count.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes the
traced run (event log, spans, ``/proc`` and ``pg_stat_*`` readings) and
prints the per-layer metrics. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

# setup_s counts from here, the start of the process, minus input
# generation and the untimed reference work before the session.
_START = time.perf_counter()

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Context:
    root: str
    work: str
    data: str
    cpus: int
    filters: dict
    trace: bool
    untimed_s: float = 0.0  # input generation and reference work, not set-up


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(ctx: Context) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``ctx.work`` and let Python workers import the package and this
    directory. The session itself is the program's ``session.get_spark``;
    the few settings the benchmark adds reach it through a
    ``spark-defaults.conf`` in ``SPARK_CONF_DIR``."""
    work = ctx.work
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join([ctx.root, HERE])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    conf_dir = os.path.join(work, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    os.environ["SPARK_CONF_DIR"] = conf_dir


def _session():
    from simple_anonymizer_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown_jvm() -> None:
    """Stop the active session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# Share of the CPUs' time the hypervisor may take during a timed run
# before the run is set aside (see Runner.window).
STEAL_LIMIT = 0.03


class Runner:
    """Drives one workload: set-up, first run, the timed window, checks."""

    def __init__(self, ctx: Context, wl):
        self.ctx = ctx
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.steal_share = 0.0
        self.stolen = 0

    def setup(self):
        """The session, then the workload's catalog, specs and frames;
        returns the session and ``setup_s``, counted from process start."""
        spark = _session()
        self.wl.setup(spark)
        return spark, time.perf_counter() - _START - self.ctx.untimed_s

    def one_run(self, tracer=None, probe=None) -> float | None:
        """Reset (untimed), run (timed), check (untimed). Returns the run's
        wall time, or None when it raised or failed its check. ``probe``
        readings are taken right before and after the timed part."""
        import procstat

        self.wl.reset()
        if probe is not None:
            probe.start()
        steal0, total0 = procstat.cpu_steal()
        t0 = time.perf_counter()
        try:
            self.wl.run(tracer)
            elapsed = time.perf_counter() - t0
            steal1, total1 = procstat.cpu_steal()
            self.steal_share = (steal1 - steal0) / max(1, total1 - total0)
            if probe is not None:
                probe.stop()
            problems = self.wl.check()
        except Exception as exc:  # noqa: BLE001 - counted as a failed run
            problems = [f"{type(exc).__name__}: {exc}"]
            elapsed = None
        return elapsed if self.record(problems) else None

    def record(self, problems: list[str]) -> bool:
        """Counts one attempted run with the problems its check found;
        True when it passed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        return not problems

    def window(self, seconds: float) -> list[tuple[float, int]]:
        """As many runs as fill ``seconds`` at the workload's typical run
        time, at least 3; returns (wall time, rows written) per passing
        run. Gives up after more than 3 failed runs.

        A run during which the hypervisor took more than ``STEAL_LIMIT`` of
        the CPUs' time (``/proc/stat`` steal) is set aside and another run
        is made, at most two more in all; the set-aside runs are used only
        when fewer than 3 others passed. On a shared host bursts of steal
        lasted minutes and made runs up to 2-3 times slower, while
        undisturbed runs read 0-1.5% steal.

        The count does not depend on how fast the runs go: runs keep getting
        faster while the JIT warms (on subset_copy the second run was about
        30% slower than the fifth), so a window that stopped on the clock
        put its median at a different place on that curve on a fast host
        than on a slow one."""
        runs = max(3, round(seconds / self.wl.typical_run_s))
        clean, stolen = [], []
        while (len(clean) < runs and len(clean) + len(stolen) < runs + 2
               and self.failed <= 3):
            elapsed = self.one_run()
            if elapsed is not None:
                sample = (elapsed, self.wl.rows_written)
                (stolen if self.steal_share > STEAL_LIMIT else clean).append(sample)
        self.stolen = len(stolen)
        return clean if len(clean) >= 3 else clean + stolen


def _median(values):
    return statistics.median(values) if values else 0.0


def _heap_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]


def measure(ctx: Context, wl, seconds: float) -> tuple[Runner, dict]:
    import procstat

    r = Runner(ctx, wl)
    spark, setup_s = r.setup()
    me, jvm = os.getpid(), _jvm_pid()
    # The Python workers are the JVM's descendants; PostgreSQL is left out.
    sampler = procstat.MemorySampler(
        lambda: {"jvm": [jvm], "python": [me] + procstat.descendants(jvm)}).start()
    pools = _heap_pools(spark)
    for p in pools:
        p.resetPeakUsage()
    out: dict = {"setup_s": setup_s}
    phases = out["phases"] = {"setup": setup_s}
    try:
        t0 = time.perf_counter()
        first = r.one_run()
        phases["first_run"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if ctx.trace:
            out.update(traced_window(ctx, r, spark, seconds, jvm))
        else:
            samples = r.window(seconds)
            out["run_s"] = _median([t for t, _ in samples])
            out["rows_written_per_s"] = _median([n / t for t, n in samples])
            out["samples"] = [round(t, 3) for t, _ in samples]
        phases["window"] = time.perf_counter() - t0
        out["first_run_s"] = first if first is not None else 0.0
        # Summed per-pool peaks: an upper bound of the peak used heap.
        out["jvm_heap_peak_mb"] = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
    finally:
        peaks = sampler.stop()
    out["python_peak_pss_mb"] = peaks["python"] / 2**20
    out["jvm_peak_pss_mb"] = peaks["jvm"] / 2**20
    out["peak_pss_mb"] = peaks["total"] / 2**20
    return r, out


class Probe:
    """Sums, over the traced runs, the CPU of the JVM's process tree minus
    the JVM itself (the Python workers), of the PostgreSQL server tree, and
    the ``pg_stat_*`` counters."""

    def __init__(self, wl, jvm: int):
        self.wl, self.jvm, self.server = wl, jvm, wl.server_pid()
        self.totals: dict[str, float] = {}
        self.runs = 0

    def _read(self) -> dict[str, float]:
        import procstat

        out = {"python_worker_cpu_s": procstat.tree_cpu_seconds(self.jvm)
               - procstat.cpu_seconds(self.jvm)}
        if self.server:
            out["pg.server_cpu_s"] = procstat.tree_cpu_seconds(self.server)
            out.update({f"pg.{k}": v for k, v in self.wl.stats().items()})
        return out

    def start(self) -> None:
        self._before = self._read()

    def stop(self) -> None:
        after = self._read()
        for k, v in after.items():
            self.totals[k] = self.totals.get(k, 0.0) + v - self._before[k]
        if "pg.commits" in self.totals:
            self.totals["pg.commits"] -= 1  # the stats read's own transaction
        self.runs += 1

    def per_run(self) -> dict[str, float]:
        out = {k: v / max(1, self.runs) for k, v in self.totals.items()}
        for k in ("python_worker_cpu_s", "pg.server_cpu_s"):
            if k in out:
                # CPU is read in clock ticks; a worker exiting between two
                # reads can shift a tick, so an idle tree may read -0.005.
                out[k] = max(0.0, out[k])
        return out


def traced_window(ctx: Context, r: Runner, spark, seconds: float, jvm: int) -> dict:
    """Untraced and traced runs alternate, which one goes first flipping
    each pair (so neither side gets the warmer JVM), while one more pair,
    at the median run time so far, ends within ``seconds`` of summed run
    time (and until each side has a run); then the anonymizer and
    registry-query probes. Spans, the event log and the probe readings
    become the per-layer metrics (see ``layers.py``)."""
    from spans import Tracer

    wl = r.wl
    tracer = Tracer(spark.sparkContext)
    probe = Probe(wl, jvm)
    untraced, traced, spent = [], [], 0.0
    order = (False, True)
    while (min(len(untraced), len(traced)) < 1
           or spent + 2 * _median([t for t, _ in untraced + traced]) <= seconds):
        for with_spans in order:
            if with_spans:
                tracer.run += 1
                tracer.install()
                try:
                    elapsed = r.one_run(tracer, probe)
                finally:
                    tracer.uninstall()
            else:
                elapsed = r.one_run()
            if elapsed is not None:
                (traced if with_spans else untraced).append((elapsed, wl.rows_written))
                spent += elapsed
        order = order[::-1]
        if r.failed > 3:
            break
    extra = probe.per_run()
    extra["anon.native_extra_s"], extra["anon.pandas_extra_s"] = wl.anon_probe()
    try:
        queries, problems = wl.query_probe()
    except Exception as exc:  # noqa: BLE001 - counted as a failed run
        queries, problems = {}, [f"{type(exc).__name__}: {exc}"]
    if queries or problems:
        r.record(problems)
        extra.update(queries)
    extra["sink.files"], extra["sink.bytes"] = wl.sink_files_bytes()
    return {"untraced": untraced, "traced": traced, "tracer": tracer, "extra": extra}


# The JVM's memory and the first run are per-layer figures (see layers.py):
# too noisy over seeds to bound.
END_TO_END = {"run_s": "s", "setup_s": "s", "rows_written_per_s": "1/s",
              "python_peak_pss_mb": "MB"}


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "simple_anonymizer_spark", "__init__.py")):
        print("run from the repository root: simple_anonymizer_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        t0 = time.perf_counter()
        ctx = Context(root, work, data, cpus, gen.write(args.seed, data), bool(args.trace))
        _isolate(ctx)
        wl = workloads.WORKLOADS[args.workload](ctx)
        try:
            wl.prepare()
            ctx.untimed_s = time.perf_counter() - t0
            runner, out = measure(ctx, wl, args.seconds)
        finally:
            t0 = time.perf_counter()
            try:
                _shutdown_jvm()
            finally:
                wl.close()
        out["phases"] = {"inputs": ctx.untimed_s, **out["phases"],
                         "shutdown": time.perf_counter() - t0}
        if ctx.trace:
            import layers

            metrics = layers.per_layer(ctx, wl, out, os.path.join(work, "eventlog"))
            units = layers.UNITS
        else:
            metrics = {k: out[k] for k in END_TO_END}
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for p in runner.problems[:20]:
        print(f"check failed: {p}")
    failed_ratio = runner.failed / max(1, runner.attempted)
    print(f"workload {args.workload} seed {args.seed} cpus {cpus} "
          f"runs {runner.attempted} failed_ratio {failed_ratio:.4f} "
          f"run_s_samples {out.get('samples', '-')} "
          f"set_aside_for_steal {runner.stolen}")
    print("phases (s) " + " ".join(f"{k} {v:.1f}" for k, v in out["phases"].items()))
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
