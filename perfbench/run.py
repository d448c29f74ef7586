"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytic_suite --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the ``end_to_end`` metrics ``BENCHMARK.json`` lists, with
``--trace 1`` its ``per_layer`` metrics, of a traced phase run between
two untraced ones. A traced run's phases each take a third of
``--seconds`` and of the workload's minimum op count. The line before
it is the full record: environment, setup and warm-up times, each
phase's share of CPU time stolen by other guests of the host, tails with
their percentile and sample count, per-kind and per-query detail and
every failed check. The record is also written under
``.perfbench_work/records/``, with a traced run's spans beside it.
Everything the run writes stays under ``.perfbench_work/`` in the
working directory.

``--size tiny`` shrinks every input and query set for ``smoke.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: Setup repetitions per run; ``setup_s`` is their median plus warm-up.
SETUP_REPS = 3

#: JVM options that keep temp files inside the run's work directory.
_JVM_TMP_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "tiny"), default="default")
    return p.parse_args(argv)


class Run:
    """State of one benchmark run, shared by the workload functions."""

    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.size == "tiny"
        self.work = work
        self.cores = min(4, len(os.sched_getaffinity(0)))
        self.spark = None
        self.tracer = None
        self.session_starts: list[float] = []
        self.setup_times: list[float] = []
        self.warmup_s = 0.0
        self.checks: list[dict] = []
        self.warm_ops: list[dict] = []
        self.phases: list[dict] = []
        self._unwrap = []

    # ---------------------------------------------------------- session
    def start_session(self) -> float:
        from rusty_timeseries_db_spark.session import get_spark

        from tracing import Tracer

        t = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                # keep every job and stage of the run in the status store
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "tmp"),
                "spark.driver.extraJavaOptions": _JVM_TMP_OPTS.format(tmp=os.path.join(self.work, "tmp")),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        dt = time.perf_counter() - t
        self.session_starts.append(dt)
        if self.tracer is None:
            self.tracer = Tracer(self.spark, enabled=self.trace)
            self._wrap_layers()
        self.tracer.sc = self.spark.sparkContext
        return dt

    def _wrap_layers(self) -> None:
        from rusty_timeseries_db_spark import queries, sql_ext

        from tracing import wrap_module_function

        self._unwrap = [
            wrap_module_function(queries, "T", self.tracer),
            wrap_module_function(sql_ext, "sql", self.tracer, frame_result=True),
        ]

    def traced_engine(self, engine):
        from tracing import EngineProxy

        return EngineProxy(engine, self.tracer)

    def close(self) -> None:
        """Stop Spark and every process the run started, on any path out."""
        try:
            for undo in self._unwrap:
                undo()
            if self.spark is not None:
                self.spark.stop()
        except Exception:  # e.g. a signal cut a JVM call short
            traceback.print_exc()
        _stop_children()

    # ----------------------------------------------------------- phases
    def floor(self, n: int) -> int:
        """A phase's minimum count of passes or writes: ``n``, a third of
        it in a traced run's three phases, 1 at the tiny size."""
        if self.tiny:
            return 1
        return max(1, n // 3) if self.trace else n

    def setup(self, once):
        """Run ``once`` ``SETUP_REPS`` times (the median time is setup);
        returns the last result."""
        out = None
        for _ in range(1 if self.tiny else SETUP_REPS):
            t = time.perf_counter()
            out = once()
            self.setup_times.append(time.perf_counter() - t)
        return out

    def warm_up(self, fn) -> None:
        self.tracer.enabled = False
        t = time.perf_counter()
        fn()
        self.warmup_s = time.perf_counter() - t

    def check(self, name: str, fn) -> bool:
        """Record one output check; ``fn`` returns ``(ok, message)``."""
        try:
            ok, msg = fn()
        except Exception as e:
            ok, msg = False, f"{type(e).__name__}: {e}"
        self.checks.append({"name": name, "ok": bool(ok), "msg": str(msg)[:300]})
        return bool(ok)

    def measure(self, phase, space) -> None:
        """One measured phase of ``seconds``; with tracing, a traced phase
        between two untraced ones, each a third as long."""
        seconds = self.seconds / 3 if self.trace else self.seconds
        for traced in ((False, True, False) if self.trace else (False,)):
            self.tracer.enabled = traced
            ops: list[dict] = []
            cpu0 = _cpu_ticks()
            t0 = time.perf_counter()
            phase(t0 + seconds, ops)
            wall = time.perf_counter() - t0
            self.tracer.enabled = False
            self.phases.append({"traced": traced, "t0": t0, "wall": wall, "ops": ops,
                                "space_amp": space(), "steal_frac": _steal_frac(cpu0)})

    # ----------------------------------------------------------- result
    def tally(self) -> tuple[int, int]:
        items = (
            self.checks + self.warm_ops + [o for p in self.phases for o in p["ops"]]
        )
        return len(items), sum(1 for i in items if not i["ok"])


def _cpu_ticks() -> list[int] | None:
    """The machine's CPU time counters from ``/proc/stat`` (Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_frac(since) -> float | None:
    """Share of CPU time since ``since`` that the hypervisor gave to other
    guests: a run on a busy host shows here."""
    now = _cpu_ticks()
    if not since or not now or len(now) < 8:
        return None
    d = [b - a for a, b in zip(since, now)]
    return d[7] / sum(d) if sum(d) else None


def _become_subreaper() -> None:
    """Make orphaned descendants (Spark's Python workers, once their JVM
    has gone) children of this process, so ``_stop_children`` can wait
    for them. Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids of this process's live children, read from ``/proc``."""
    me, out = str(os.getpid()), []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me and state != "Z":
            out.append(int(d))
    return out


def _stop_children(grace: float = 10.0) -> None:
    """Stop every process the run started and wait until each has ended.
    PySpark's JVM exits when its stdin closes; without that it outlives
    this process by a second or so. What is left after ``grace`` seconds
    gets SIGTERM, after twice that SIGKILL."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    t0, sent = time.monotonic(), None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace else signal.SIGTERM if waited > grace else None
        if sig is not None and sig != sent:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _git_sha():
    try:
        top = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = top.stdout.split()
    if top.returncode or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return None  # not a git checkout of this tree
    return lines[1]


def _environment(run) -> dict:
    import pyspark

    env = {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "master": f"local[{run.cores}]",
        "git_sha": _git_sha(),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "loadavg_1m": os.getloadavg()[0],
        "calibration_seconds": None,
        "calibration_io_seconds": None,
    }
    if run.trace:
        # bench.py's machine probes (about 30 s), so traced runs only
        import bench
        import datagen

        cal_dir = os.path.join(run.work, "calibration")
        datagen.write_analytic_tables(cal_dir, run.seed, 0.002)
        env["calibration_seconds"] = bench._calibration_seconds(run.spark)
        env["calibration_io_seconds"] = bench._calibration_io_seconds(run.spark, cal_dir)
    return env


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "rusty_timeseries_db_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: {ROOT} holds no rusty_timeseries_db_spark package "
              "and bench.py; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    from metrics import end_to_end, median
    from workloads import WORKLOADS
    from layers import per_layer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = ROOT / ".perfbench_work"
    work = str(base / f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["SPARK_LAUNCHER_OPTS"] = _JVM_TMP_OPTS.format(tmp=os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so ``finally`` runs
    run = Run(args, work)
    try:
        WORKLOADS[args.workload](run)
        env = _environment(run)
        attempted, failed = run.tally()
        setup_s = median(run.setup_times) + run.warmup_s
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "environment": env,
            "setup": {"reps_s": run.setup_times, "session_start_s": run.session_starts,
                      "warmup_s": run.warmup_s},
            "failed_checks": [c for c in run.checks + run.warm_ops if not c["ok"]],
        }
        if args.trace:
            values, detail = per_layer(run, [run.phases[0], run.phases[2]], run.phases[1])
            names = spec["per_layer"]
        else:
            ph = run.phases[0]
            values, detail = end_to_end(ph["ops"], ph["wall"], setup_s, ph["space_amp"],
                                        attempted, failed)
            names = spec["end_to_end"]
        # a metric BENCHMARK.json names but the run did not compute fails here
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
        record["detail"] = detail
        record["phases"] = [{k: p[k] for k in ("traced", "wall", "steal_frac")} for p in run.phases]
        record["failed_ops"] = [o for p in run.phases for o in p["ops"] if not o["ok"]][:20]
        record["metrics"] = values
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)

    line = json.dumps(record, default=str)
    out = base / "records" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(out.parent, exist_ok=True)
    out.with_suffix(".json").write_text(line + "\n")
    if args.trace:
        out.with_suffix(".spans.json").write_text(json.dumps(run.tracer.spans, default=str) + "\n")
    print(line)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
