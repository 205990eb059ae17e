#!/usr/bin/env python3
"""Where each benchmark op spends its CPU, by JVM thread class.

    python tools/profile_op.py --workload shape_extract_global --ops 3
    python tools/profile_op.py --workload kg_build --ops 2 --seed 3

Builds the workload's inputs the way ``perfbench/run.py`` does, from
perfbench's own session settings, generators and workload classes
(imported, not changed), runs one warm-up op and then ``--ops`` ops back
to back. Every op is checked by perfbench's checker outside the
profiled interval. Around each op it reads ``/proc`` for its own process
tree only and prints:

* the JVM's CPU seconds split by thread class (``/proc/<jvm>/task/*``,
  sampled every 0.1 s): JIT compiler threads, the Py4J threads that
  serve driver calls from Python, executor task threads, GC threads, the
  rest, and threads that exited between two samples;
* the CPU seconds of the Python workers under the JVM;
* the number of Janino compiles (Spark's ``CodegenMetrics``);
* after the op, each resident ``pyspark.daemon`` with the RSS of its
  workers (one daemon per distinct worker setup).

It changes no Spark, JVM or host setting, so the numbers describe the
benchmark's own configuration.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
CLASSES = ("compiler", "py4j", "task", "gc", "other")


def thread_class(name: str) -> str:
    """Class of a JVM thread from its (15-character) kernel name."""
    if name.startswith(("C1 Compiler", "C2 Compiler")):
        return "compiler"
    if name.startswith("Thread-"):  # Py4J connection threads
        return "py4j"
    if name.startswith("Executor task"):
        return "task"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def _stat(path: str) -> list[str] | None:
    """Fields of a ``stat`` file after the command name, or None when
    the process or thread has exited."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _comm(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def _cpu_s(fields: list[str]) -> float:
    return (int(fields[11]) + int(fields[12])) / TCK  # utime + stime


def jvm_threads(jvm: int) -> dict:
    """{tid: (class, CPU seconds so far)} of the JVM's live threads."""
    out = {}
    task_dir = f"/proc/{jvm}/task"
    for tid in os.listdir(task_dir):
        fields = _stat(f"{task_dir}/{tid}/stat")
        if fields is not None:
            out[tid] = (thread_class(_comm(f"{task_dir}/{tid}/comm")),
                        _cpu_s(fields))
    return out


class ThreadSampler:
    """JVM CPU per thread class over an interval. The JVM starts and
    stops JIT compiler threads on demand, and an exited thread's time
    leaves ``/proc/<jvm>/task``, so the threads are read every
    ``interval`` seconds and each one's growth is summed. What threads
    used between their last reading and their exit is the process total
    (``/proc/<jvm>/stat``) minus that sum: ``exited``."""

    def __init__(self, jvm: int, interval: float = 0.1):
        self.jvm, self.interval = jvm, interval
        self.used = dict.fromkeys(CLASSES, 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        now = jvm_threads(self.jvm)
        for tid, (cls, cpu) in now.items():
            prev = self._last.get(tid)
            # a tid not seen before, or reused by a new thread, starts at 0
            base = prev[1] if prev is not None and prev[1] <= cpu else 0.0
            self.used[cls] += cpu - base
        self._last = now

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "ThreadSampler":
        self._total0 = _cpu_s(_stat(f"/proc/{self.jvm}/stat"))
        self._last = jvm_threads(self.jvm)
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join()
        self._sample()
        total = _cpu_s(_stat(f"/proc/{self.jvm}/stat")) - self._total0
        return {**self.used, "exited": total - sum(self.used.values())}


def python_cpu(jvm: int) -> float:
    """CPU seconds of the Python processes under the JVM, with the
    workers they have reaped."""
    from perfbench.proctree import tree

    # utime, stime, cutime, cstime: stat fields 14-17
    return sum(sum(int(x) for x in fields[11:15])
               for pid, (_name, fields) in tree(jvm).items()
               if pid != jvm) / TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline") as f:
            return f.read().replace("\0", " ")
    except OSError:
        return ""


def daemons(jvm: int) -> list[tuple[int, float, list[float]]]:
    """(pid, RSS MB, [worker RSS MB]) of each resident pyspark.daemon."""
    from perfbench.proctree import tree

    procs = sorted(tree(jvm).items())

    def rss_mb(fields) -> float:
        return int(fields[21]) * PAGE / 2**20  # rss pages: stat field 24

    return [(pid, rss_mb(fields),
             [rss_mb(f) for _c, (_n, f) in procs if int(f[1]) == pid])
            for pid, (_name, fields) in procs
            if int(fields[1]) == jvm and "pyspark.daemon" in _cmdline(pid)]


def compiles(spark) -> int:
    """Janino compiles so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def find_jvm() -> int:
    from perfbench.proctree import tree

    for pid, (name, _fields) in tree(os.getpid()).items():
        if name == "java":
            return pid
    raise RuntimeError("no JVM under this process")


class Profile:
    """Stands in for perfbench's run context: the workload classes take
    their session, checker, seed and scratch root from it, and time
    each op inside ``op_span``, where the readings are taken."""

    def __init__(self, spark, checker, seed: int, tmp: str):
        self.spark, self.checker, self.seed, self.tmp = (
            spark, checker, seed, tmp)
        self.tracer = self
        self.jvm = find_jvm()
        self.last: dict = {}

    @contextlib.contextmanager
    def span(self, _name):  # the workloads' tracer spans: not recorded
        yield None

    @contextlib.contextmanager
    def op_span(self, _i):
        py0, n0 = python_cpu(self.jvm), compiles(self.spark)
        sampler = ThreadSampler(self.jvm).start()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            jvm = sampler.stop()
        self.last = {
            "wall_s": wall,
            "jvm": jvm,
            "python_s": python_cpu(self.jvm) - py0,
            "compiles": compiles(self.spark) - n0,
        }


def report(i, p: dict, pools) -> str:
    jvm = p["jvm"]
    lines = [
        f"op {i}: wall {p['wall_s']:.1f} s | JVM {sum(jvm.values()):.1f} "
        "CPU-s: " + ", ".join(f"{k} {v:.1f}" for k, v in jvm.items())
        + f" | python workers {p['python_s']:.1f} CPU-s"
        + f" | janino compiles {p['compiles']}"]
    if not pools:
        lines.append("  no pyspark.daemon")
    for pid, rss, kids in pools:
        lines.append(f"  pyspark.daemon {pid}: {rss:.0f} MB, workers "
                     + (", ".join(f"{k:.0f}" for k in kids) or "none")
                     + " MB")
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("kg_build", "shape_extract_global"))
    p.add_argument("--ops", type=int, default=3)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import session
    from perfbench.oracle import Checker
    from perfbench.proctree import set_subreaper, stop_descendants
    from perfbench.run import stop_spark
    from perfbench.workloads import SCALES, WORKLOADS

    set_subreaper()  # orphans of the JVM launcher stay ours to stop
    tmp = tempfile.mkdtemp(prefix="profile_op-")
    checker = Checker(session.host_cores())
    spark = None
    try:
        spark = session.start(session.settings(tmp), ROOT)
        prof = Profile(spark, checker, args.seed, tmp)
        wl = WORKLOADS[args.workload](prof, SCALES["standard"][args.workload])
        wl.generate()
        wl.prepare_checks()
        wl.warmup()
        problems = list(wl.setup_problems)
        for i in range(args.ops):
            res = wl.op(i, False)
            problems += res.problems
            print(report(i, prof.last, daemons(prof.jvm)), flush=True)
        print("FAILURES: " + ("; ".join(map(str, problems)) or "none"))
        return 1 if problems else 0
    finally:
        checker.close()
        if spark is not None:
            stop_spark(spark)
        stop_descendants()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
