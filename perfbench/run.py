"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 5 --trace 0

Run from the repository root. One client thread drives the workload in a
closed loop against ``local[nproc]``. Set-up is timed from process start
to the first timed request: input generation (in a child process, while
the JVM starts), the session, the workload's data loading and one
warm-up round. Both processes' peak RSS is read after the timed loop,
before every distinct request is checked once against its DuckDB oracle
(see README.md). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
spans to ``.bench_out/``. All scratch goes to a temporary directory under
``.bench_tmp/`` that is removed on exit, after every process the run
started (the JVM, its Python workers, the input writer) has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

import metrics
from spans import Tracer, min_samples

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: A run may overrun ``--seconds`` to give the tail percentile its ten
#: samples, but never by more than this many seconds.
OVERRUN_S = 100.0


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def host_stamp(spark, cores: int) -> dict:
    mem = dict(line.split(":", 1) for line in _read("/proc/meminfo").splitlines())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": cores,
        "loadavg": _read("/proc/loadavg").split()[:3],
        "mem_available_kb": int(mem["MemAvailable"].split()[0]),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def since_process_start() -> float:
    """Seconds since this process started (the start time in /proc has a
    resolution of one clock tick, 10 ms)."""
    start = int(_read("/proc/self/stat").rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid) -> int:
    status = _read(f"/proc/{pid}/status").splitlines()
    return next(int(line.split()[1]) for line in status if line.startswith("VmHWM"))


def children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                stat = _read(f"/proc/{p}/stat")
            except OSError:  # the process ended meanwhile
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(p))
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree, so a process
    whose parent ends first (a Python worker of the JVM's daemon) becomes
    our child and ``reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def reap_children(grace_s: float = 10.0) -> None:
    """Stop every process left below this one and wait until each ends:
    SIGTERM, then SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # collect the ones that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in children(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class InputWriter:
    """Writes the inputs in one child process, while the JVM starts, so the
    generator's memory is not the measured process's. ``submit`` queues a
    call of a function of ``inputs.py``; ``start`` hands the calls to the
    child; ``wait`` waits for it to end."""

    def __init__(self):
        self.calls = []
        self.proc = None

    def submit(self, fn, *args) -> None:
        self.calls.append((fn, args))

    def start(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-c", "import pickle, sys\n"
             "for fn, args in pickle.load(sys.stdin.buffer): fn(*args)"],
            stdin=subprocess.PIPE, cwd=HERE,
        )
        with self.proc.stdin:
            pickle.dump(self.calls, self.proc.stdin)

    def wait(self) -> None:
        if self.proc.wait() != 0:
            raise RuntimeError(f"input writer exited with code {self.proc.returncode}")


class SparkHost:
    """Owns the engine's session; ``close`` ends it and shuts the JVM down."""

    def __init__(self, scratch: str, cores: int):
        self.cores = cores
        self.conf = {
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job's status for the per-request counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.spark = None

    def start(self):
        from comperhensive_bigdata_analysis__spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", shuffle_partitions=self.cores,
            extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """End the JVM; ``reap_children`` then waits for its Python workers."""
        from pyspark import SparkContext

        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        # the JVM exits when its stdin closes, and its shutdown hook stops
        # the session (1.4 s sooner than spark.stop() first)
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def job_counts(sc, rid: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    out = {"exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0, "exec.failed_tasks": 0}
    for jid in tracker.getJobIdsForGroup(rid):
        job = tracker.getJobInfo(jid)
        if job is None:
            continue
        out["exec.jobs"] += 1
        for sid in job.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numTasks:
                out["exec.stages"] += 1
                out["exec.tasks"] += stage.numTasks
                out["exec.failed_tasks"] += stage.numFailedTasks
    return out


def warm_up(wl, seed: int) -> float:
    """Run one round, every request kind once, unchecked, so JIT
    compilation and Python worker start-up stay out of the timed loop."""
    t0 = time.perf_counter()
    stream = wl.requests(np.random.default_rng([seed, 2]))
    for _ in range(wl.round):
        wl.run(next(stream), Tracer(False))
    return time.perf_counter() - t0


def measure(wl, host, tracer, seed: int, seconds: float, trace: bool):
    """Run the closed loop. Returns per-request records and results to check."""
    sc = host.spark.sparkContext
    stream = wl.requests(np.random.default_rng([seed, 1]))
    need = max(min_samples(metrics.TAIL_Q), wl.min_requests)
    records, first = [], {}
    done = 0
    start = time.perf_counter()
    while True:
        now = time.perf_counter() - start
        # stop only at the end of a period, so every run sends the same
        # requests
        if now >= seconds and len(records) % wl.period == 0 and (
            done >= need or now >= seconds + OVERRUN_S
        ):
            break
        i = len(records)
        req = next(stream)
        tracer.enabled = trace and i % 2 == 1
        rid = f"r{i}"
        if trace:
            sc.setJobGroup(rid, req.kind)
        t0 = time.perf_counter()
        try:
            with tracer.span("request", rid):
                result = wl.run(req, tracer)
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        records.append({"rid": rid, "key": req.key, "kind": req.kind, "ok": ok,
                        "latency": dt, "traced": tracer.enabled,
                        "rows": wl.rows(result) if ok else 0, "stats": req.stats})
        done += ok
        if ok and req.key not in first:
            first[req.key] = (req, result)
    tracer.enabled = trace
    return records, first


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()

    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    os.environ["TMPDIR"] = tempfile.tempdir = scratch
    sys.path.insert(0, ROOT)
    host = None
    try:
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload]()
        trace = bool(args.trace)
        tracer = Tracer(trace)
        cores = len(os.sched_getaffinity(0))
        host = SparkHost(scratch, cores)
        gen = InputWriter()
        with tracer.span("setup", "setup"):
            wl.prepare(scratch, args.seed, gen)
            gen.start()
            with tracer.span("session.get_spark"):
                spark = host.start()
            gen.wait()
            inputs_s = since_process_start()
            warm = []
            load = wl.setup(spark, tracer, lambda: warm.append(warm_up(wl, args.seed)))
            (warmup_s,) = warm
        setup_s = since_process_start()
        log(f"set-up: {setup_s:.2f}s, of which warm-up {warmup_s:.2f}s")
        records, first = measure(wl, host, tracer, args.seed, args.seconds, trace)
        log(f"{len(records)} requests measured")
        hwm_kb = {"python": vm_hwm_kb("self"), "jvm": vm_hwm_kb(host.jvm_pid())}

        mismatched = {key for key, (req, res) in first.items() if not wl.check(req, res)}
        for r in records:
            r["mismatch"] = r["key"] in mismatched
        if trace:
            time.sleep(1.0)  # let the listener bus post the last job events
            for r in records:
                if r["traced"]:
                    r.update(job_counts(spark.sparkContext, r["rid"]))
        stamp = host_stamp(spark, cores)
        host.close()
        log(f"{len(first)} distinct results checked, mismatched: {sorted(mismatched)}")

        failed = sum(1 for r in records if not r["ok"] or r["mismatch"])
        if trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{wl.name}-{args.seed}.json"), stamp)
            values = metrics.per_layer(records, tracer.spans, load, hwm_kb)
        else:
            values = metrics.end_to_end(records, setup_s)
        print(json.dumps({"host": stamp, "workload": wl.name, "seed": args.seed,
                          "requests": len(records),
                          "setup_s": setup_s, "inputs_s": inputs_s, "warmup_s": warmup_s,
                          "vm_hwm_kb": hwm_kb,
                          "kinds": metrics.by_kind(records)}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        }))
        return 0
    finally:
        try:
            if host is not None:
                host.close()
        finally:
            reap_children()
            shutil.rmtree(scratch, ignore_errors=True)
        log("every child process has ended")


if __name__ == "__main__":
    sys.exit(main())
