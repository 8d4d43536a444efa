"""Point-in-time feature benchmark for featureengineer_spark.

Run from the repository root::

    python3 perfbench/run.py --workload pit_uniform --seed 1 --seconds 15 --trace 0

Workloads: ``pit_uniform`` and ``ivector_train`` (``BENCHMARK.json``),
and ``pit_skew`` by hand; see ``workloads.py``. One run:

1. set-up — start ``get_spark(master="local[<nproc>]")`` with the package
   defaults, then generate and lay out the seeded inputs twice (the median
   build is reported);
2. measurement — ``WARMUPS`` untimed warm-up jobs (the first passes
   over the pipeline's code pay class loading, code generation and JIT
   compilation), then jobs, each into a fresh root and followed by
   ``RESUMES_PER_JOB`` resumes — remove the last stage's commit and run
   again — until ``--seconds`` have passed (at least ``MIN_JOBS`` jobs);
   the medians are reported;
3. correctness gate (oracle sample, leakage count, manifest row counts),
   outside the timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` warms up the
same way, then runs an untraced, a traced and an untraced job and
reports the per-layer metrics (``layers.py``). The last stdout line is
the result JSON; the line before it carries the environment and the raw
timings. Scratch files live under ``.perfbench_work/`` and are removed at
exit; the traced run's spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

WORKLOADS = ("pit_uniform", "pit_skew", "ivector_train")
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
DEADLINE_S = 170  # the run is abandoned (exit 1, no result) past this
SETUP_BUILDS = 2
# The JIT compiles with C1 only. C2 recompiles hot code from the profile
# each JVM happens to collect, so the same job on the same input ran up to
# 10% apart between runs, and its compiler threads took ~1.7 s of CPU per
# second of job; with C1 jobs run ~10% slower but within a few percent
# of each other from run to run.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"
# untimed jobs before the timed ones: the first is mostly class loading and
# JIT compilation, the second still pays some
WARMUPS = 2
MIN_JOBS = 2
RESUMES_PER_JOB = 3
# no job beyond MIN_JOBS starts unless, at the pace of the one before, it
# ends within MEASURE_END_S of process start
MEASURE_END_S = 57
T_PROCESS = time.perf_counter()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="input size; 'toy' is for the self-test")
    return p.parse_args(argv)


class RssMonitor(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver Python, JVM, Python workers), sampled from /proc."""

    def __init__(self, interval=0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(d))
        total, todo = 0, [root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop_evt.wait(self.interval)

    def stop(self):
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))


def isolate(work: str) -> None:
    """Keep every scratch file of Python, the JVM and Spark under ``work``,
    and start the JVM with ``JVM_OPTS``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} {JVM_OPTS}".strip()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_times() -> list[int]:
    """Machine-wide CPU time in clock ticks, as /proc/stat's first line
    gives it (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_load(before: list[int], after: list[int]) -> dict:
    """Busy and stolen shares of all cores between two ``cpu_times``; a
    high steal share means other tenants of the host took the cores."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4]) / total, "steal": d[7] / total}


def metric(value, unit):
    return {"value": float(value), "unit": unit}


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))  # what ``nproc`` reports
        self.master = f"local[{self.cores}]"
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.span_log: list[dict] = []
        self.plain, self.traced = [], []
        self.last = None
        self.host = {}
        self.warmups: list[dict] = []

    # -- set-up -------------------------------------------------------------

    def setup(self):
        """Start the session, then generate and lay out the inputs
        ``SETUP_BUILDS`` times; the last build is the one measured."""
        import workloads
        from featureengineer_spark import get_spark

        a = self.args
        t0 = time.perf_counter()
        self.spark = get_spark(master=self.master)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0

        self.builds = []
        for i in range(SETUP_BUILDS):
            t0 = time.perf_counter()
            self.inputs = workloads.build_inputs(
                self.spark, a.workload, a.seed, os.path.join(self.work, f"input{i}"), a.scale
            )
            self.builds.append(time.perf_counter() - t0)
        self.setup_s = self.session_start_s + median(self.builds)

    # -- measurement ----------------------------------------------------------

    def op(self, fn) -> bool:
        """Run one job or resume; a failure is counted and the run goes on."""
        try:
            errs = fn()
        except Exception as e:
            errs = [f"{type(e).__name__}: {e}"]
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        return not errs

    def new_rep(self, name: str, hooks=None):
        import workloads

        return workloads.Rep(self.spark, self.args.workload, self.inputs,
                             os.path.join(self.work, name), hooks, self.args.scale)

    def jit_s(self) -> float:
        """JIT compile time of the driver JVM so far, summed over its
        compiler threads."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def warm_up(self):
        """``WARMUPS`` untimed jobs, the second with a resume so the resume
        path is warm too: the pipeline's first passes pay class loading,
        code generation and JIT compilation (``jit_share`` records the
        last), and the timed jobs should measure the program."""
        for i in range(WARMUPS):
            rep = self.new_rep(f"warmup{i}")
            jit0 = self.jit_s()
            ok = self.op(rep.job) and (i == 0 or self.op(rep.resume))
            shutil.rmtree(rep.root, ignore_errors=True)
            share = (self.jit_s() - jit0) / rep.job_s if rep.job_s else 0.0
            self.warmups.append({"job_s": rep.job_s, "jit_share": share})
            if not ok:
                break

    def measure(self):
        """Jobs on fresh roots, each followed by ``RESUMES_PER_JOB``
        resumes, until ``--seconds`` have passed and at least ``MIN_JOBS``
        jobs were made."""
        self.warm_up()
        t_start, cpu0 = time.perf_counter(), cpu_times()
        i, pace = 0, 0.0
        while i < MIN_JOBS or (
            time.perf_counter() - t_start < self.args.seconds
            and time.perf_counter() + pace - T_PROCESS < MEASURE_END_S
        ):
            t0 = time.perf_counter()
            rep = self.new_rep(f"job{i}")
            i += 1
            if self.op(rep.job):
                self.plain.append(rep)
                self.last = rep
                for _ in range(RESUMES_PER_JOB):
                    self.op(rep.resume)
            pace = time.perf_counter() - t0
        self.host = host_load(cpu0, cpu_times())

    def measure_traced(self):
        """After the warm-up, an untraced, a traced and an untraced job,
        each with one resume; the layer metrics come from the traced one,
        the tracing overhead from the difference to the untraced jobs
        either side of it."""
        import layers
        from spans import TracedHooks

        self.warm_up()
        for i in range(3):
            hooks = TracedHooks(self.spark, f"rep{i}") if i == 1 else None
            rep = self.new_rep(f"rep{i}", hooks)
            if self.op(rep.job) and self.op(rep.resume):
                if hooks is None:
                    self.plain.append(rep)
                else:
                    self.traced.append((rep, layers.rep_layers(self, rep, hooks)))
                self.last = rep
            if hooks is not None:
                hooks.release()

    # -- gate -------------------------------------------------------------------

    def gate(self, last):
        import gate
        import workloads

        if last is None:
            self.errors.append("no repetition completed")
            self.match_rate, self.leakage_rows = 0.0, 0
            return False
        try:
            if self.args.workload == "ivector_train":
                res = gate.check_ivector(self.spark, self.inputs, last.root, self.args.seed,
                                         workloads.IVECTOR_CONFIG)
            else:
                res = gate.check_pit(self.spark, self.inputs, last.root, self.args.seed)
        except Exception as e:
            res = gate.GateResult(errors=[f"gate raised {type(e).__name__}: {e}"])
        self.match_rate, self.leakage_rows = res.match_rate, res.leakage_rows
        if not res.ok:
            self.failed += 1  # the gated repetition fails its check
            self.errors.extend(res.errors or [f"leakage_rows={res.leakage_rows}"])
        return res.ok

    def scaling_eff(self) -> float:
        """``turns_per_s`` at ``local[nproc]`` over nproc × ``turns_per_s``
        at ``local[1]``, on the same input: one job on a one-core session
        started in the same JVM, against the last untraced job."""
        import workloads
        from featureengineer_spark import get_spark

        self.spark.stop()
        self.spark = get_spark(master="local[1]")
        self.spark.sparkContext.setLogLevel("ERROR")
        workloads.register_table(self.spark, self.inputs)
        one = self.new_rep("one_core")
        if not self.plain or not self.op(one.job):
            return 0.0
        return one.job_s / (self.cores * self.plain[-1].job_s)

    # -- results ----------------------------------------------------------------

    def end_to_end(self) -> dict:
        job_s = median([r.job_s for r in self.plain])
        return {
            "setup_s": metric(self.setup_s, "s"),
            "job_s": metric(job_s, "s"),
            "turns_per_s": metric(self.inputs.n_turns / job_s if job_s else 0.0, "turns/s"),
            "resume_s": metric(median([t for r in self.plain for t in r.resume_s]), "s"),
            "match_rate": metric(self.match_rate, "ratio"),
        }

    def env(self) -> dict:
        import pandas
        import pyarrow
        import pyspark

        conf = self.spark.conf
        return {
            "nproc": self.cores,
            "master": self.master,
            "spark": pyspark.__version__,
            "arrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "python": sys.version.split()[0],
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "workload": self.args.workload,
            "seed": self.args.seed,
            "scale": self.args.scale,
            "n_turns": self.inputs.n_turns,
            "n_anchors": self.inputs.n_anchors,
        }


def run(args, repo: str, work: str) -> tuple[dict, dict]:
    rss = RssMonitor()
    rss.start()
    b = Bench(args, work)
    try:
        b.setup()
        if args.trace:
            b.measure_traced()
        else:
            b.measure()
        t0 = time.perf_counter()
        b.gate(b.last)
        gate_s = time.perf_counter() - t0
        rss.stop()
        peak_mb = rss.peak_kb / 1024.0
        if args.trace:
            import layers

            metrics = layers.per_layer(b, peak_mb)
            eff = b.scaling_eff() if args.workload == "pit_uniform" else 0.0
            metrics["session.scaling_eff"]["value"] = eff
        else:
            metrics = b.end_to_end()
        detail = {
            "env": b.env(),
            "setup": {"session_start_s": b.session_start_s, "build_s": b.builds,
                      "gate_s": gate_s,
                      "elapsed_s": time.perf_counter() - T_PROCESS},
            "warmups": b.warmups,
            "reps": [{"job_s": r.job_s, "resume_s": r.resume_s} for r in b.plain],
            "host_load": b.host,
            "peak_rss_mb": peak_mb,
            "traced_reps": [{"job_s": r.job_s, "resume_s": r.resume_s} for r, _ in b.traced],
            "leakage_rows": b.leakage_rows,
            "failed_ops": b.failed / max(b.attempted, 1),
            "errors": b.errors[:20],
        }
        if args.trace:
            detail["layer_targets"] = layers.LAYER_TARGETS
        if args.trace:
            os.makedirs(os.path.join(repo, OUT_DIR), exist_ok=True)
            out = os.path.join(repo, OUT_DIR, f"spans-{args.workload}-{args.seed}.json")
            with open(out, "w") as f:
                json.dump(b.span_log, f)
        result = {
            "correct": b.failed == 0,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": metrics,
        }
        return result, detail
    finally:
        if rss.is_alive():
            rss.stop()
        stop_spark(b.spark)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "featureengineer_spark", "__init__.py")):
        print("perfbench: run from the repository root (featureengineer_spark/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(repo, WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    warehouse = os.path.join(repo, "spark-warehouse")
    had_warehouse = os.path.exists(warehouse)
    isolate(work)
    sys.path.insert(0, repo)

    def deadline(_signum, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    try:
        result, detail = run(args, repo, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
        if not had_warehouse:
            shutil.rmtree(warehouse, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
