"""Benchmark entry point: runs one workload and prints its result.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The workload runs in a child
process (perfbench/workload.py) with the engine's environment inputs set
here: SPARK_GRAFT_CPUS = the cpus this process may use, SPARK_LOCAL_DIRS
and TMPDIR inside a scratch directory of the checkout, and a driver heap
that fits a 15 GB host. This process samples the resident memory of the
child's whole process tree (the driver JVM and the Python workers
included) from /proc while it runs, stops every process of the tree that
is left when the child ends, and removes the scratch directory.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; the line before it carries the
run's provenance (cpus, memory, code digest, seed, corpus rows).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
TIMEOUT_S = 170
SAMPLE_S = 0.2


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state, ppid,
    ..., start time at index 19); empty once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _children() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))):
            out.setdefault(int(st[1]), []).append(int(name))
    return out


def _status(pid: int) -> dict[str, str]:
    """Fields of /proc/<pid>/status; empty once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.split(":", 1) for line in f.read().splitlines()
                        if ":" in line)
    except OSError:
        return {}


def _pss_kib(pid: int) -> int:
    """Proportional set size of a process (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeSampler:
    """Peak resident memory of a process tree, sampled from outside.

    A sample sums the proportional set size (Pss) of the tree's processes:
    a page shared by n processes counts 1/n in each, so the Python workers
    forked from one daemon count their shared pages once, however many of
    them were forked. The peak is the largest sample."""

    def __init__(self, root: int):
        self.root = root
        self.peak: dict[str | None, int] = {}  # kind (None: all) -> KiB
        self.started: dict[int, str] = {}  # pid -> start time, so a reused
        # pid is never mistaken for a process of the tree

    def sample(self) -> None:
        kids = _children()
        todo = [(self.root, "other")]
        now = {None: 0, "jvm": 0, "worker": 0, "other": 0}
        while todo:
            pid, kind = todo.pop()
            st, stat = _status(pid), _stat(pid)
            if not st or not stat:
                continue
            self.started.setdefault(pid, stat[19])
            if st.get("Name", "").strip() == "java":
                kind = "jvm"
            kib = _pss_kib(pid)
            now[kind] += kib
            now[None] += kib
            # everything the JVM forks (the Python worker daemon and its
            # workers) counts as Python workers
            child_kind = "worker" if kind in ("jvm", "worker") else "other"
            todo.extend((c, child_kind) for c in kids.get(pid, ()))
        for kind, kib in now.items():
            self.peak[kind] = max(self.peak.get(kind, 0), kib)

    def peak_mb(self, kind: str | None = None) -> float:
        """Peak of one kind of process ("jvm", "worker", "other"), or of
        the whole tree."""
        return self.peak.get(kind, 0) / 1024.0

    def stop_leftovers(self) -> None:
        """Terminate every process of the tree still alive and wait for it."""
        def ours(pid):
            st = _stat(pid)
            return bool(st) and st[0] != "Z" and st[19] == self.started[pid]

        alive = [p for p in self.started if p != self.root and ours(p)]
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.time() + 5
            while alive and time.time() < deadline:
                alive = [p for p in alive if ours(p)]
                time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="perfbench: one workload run")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kbasesearchengine_spark",
                                       "__init__.py")):
        print(f"no kbasesearchengine_spark package under {ROOT}: run from "
              "the root of a source checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
    )
    env.pop("OMP_NUM_THREADS", None)
    out_file = os.path.join(work, "result.json")
    log_file = os.path.join(work, "workload.log")
    cmd = [sys.executable, "-m", "perfbench.workload",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out_file]
    try:
        with open(log_file, "w") as log:
            child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                     stderr=subprocess.STDOUT)
            sampler = TreeSampler(child.pid)
            deadline = time.time() + TIMEOUT_S
            while child.poll() is None and time.time() < deadline:
                sampler.sample()
                time.sleep(SAMPLE_S)
            timed_out = child.poll() is None
            if timed_out:
                child.kill()
            child.wait()
            sampler.stop_leftovers()
        if timed_out or child.returncode != 0 or not os.path.exists(out_file):
            with open(log_file) as f:
                tail = f.read()[-4000:]
            why = "timed out" if timed_out else f"exit code {child.returncode}"
            print(f"workload {args.workload} failed ({why}):\n{tail}",
                  file=sys.stderr)
            return 1
        with open(out_file) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    if args.trace:
        result["metrics"]["proc.jvm_rss_mb"] = {
            "value": sampler.peak_mb("jvm"), "unit": "MB"}
        result["metrics"]["proc.pyworkers_rss_mb"] = {
            "value": sampler.peak_mb("worker"), "unit": "MB"}
    else:
        result["metrics"]["peak_rss_mb"] = {
            "value": sampler.peak_mb(), "unit": "MB"}
    prov = result.pop("provenance")
    prov["peak_mb"] = {k: round(sampler.peak_mb(k), 1)
                       for k in ("jvm", "worker", "other")}
    prov["host_mem_gb"] = round(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
