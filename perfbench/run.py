#!/usr/bin/env python3
"""Benchmark runner for the sher_look_spark crawl -> index -> rank -> serve
system and its analytics queries.

    python3 perfbench/run.py --workload web_pipeline --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Each run starts the workload in a fresh
child process on ``local[nproc]`` under a watchdog, samples the summed
memory (PSS) of the child's process tree, and prints, as the last line of stdout, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json untraced, the per-layer ones traced).
Everything else (host facts, per-workload figures, checks, the layer table)
goes to stderr and to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

from ledger import format_table

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("web_pipeline", "analytics")
TIMEOUT_S = 165.0          # watchdog, from launch: the run must end within 180 s
GRACE_S = 10.0             # for the JVM and PySpark daemon to exit after the child
# scale of the generated analytics tables: half that of the test tables the
# generator is fitted to, which keeps a run near 40 s on a 4-core host (at
# sf 0.05 the queries weigh differently from sf 0.1, e.g. text_fingerprint's
# share of analytics_s halves)
ANALYTICS_SF = 0.05


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ----------------------------------------------------------------- host facts

def _cpu_snap() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = list(map(int, fh.readline().split()[1:]))
    return sum(vals), vals[3] + vals[4]


def host_facts(cpus: int) -> dict:
    t0, i0 = _cpu_snap()
    time.sleep(0.5)
    t1, i1 = _cpu_snap()
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    from importlib.metadata import PackageNotFoundError, version

    try:
        pyspark = version("pyspark")
    except PackageNotFoundError:
        pyspark = "unknown"
    return {
        "nproc": cpus,
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "loadavg": os.getloadavg(),
        "busy_cores_before": round(os.cpu_count() * (1 - (i1 - i0) / max(t1 - t0, 1)), 2),
        "python": platform.python_version(),
        "pyspark": pyspark,
    }


def driver_memory(mem_total_mb: int) -> str:
    """A driver heap sized to the host: 15% of RAM, 2-6 GB."""
    return f"{max(2, min(6, int(mem_total_mb * 0.15 / 1024)))}g"


# ------------------------------------------------------------- process tree

def _proc_table() -> dict[int, int]:
    """pid -> parent pid, for every process, zombies too: a JVM whose main
    thread has exited reads as a zombie while its other threads still run."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def _pss_mb(pid: int) -> float:
    """Proportional resident memory: a page shared by n processes (the
    PySpark daemon's forked workers) counts 1/n in each, so a sum over the
    tree counts it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _become_subreaper() -> None:
    """Make this process the reaper of every orphaned descendant
    (prctl PR_SET_CHILD_SUBREAPER), so the JVM and the PySpark daemon stay
    in this process's tree after the child exits and can be waited for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _die_with_parent() -> None:
    """In the child, before exec: SIGKILL it if this runner dies
    (prctl PR_SET_PDEATHSIG). The JVM exits when the child's pipe to it
    closes, and the PySpark daemon when the JVM goes."""
    import ctypes

    ctypes.CDLL(None).prctl(1, signal.SIGKILL, 0, 0, 0)  # PR_SET_PDEATHSIG


def descendants() -> list[int]:
    """Every process below this one, zombies too, followed by parent pid (the
    PySpark daemon sits in its own process group). As a subreaper this
    process inherits the orphans, so nothing started under it escapes."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float) -> None:
    """Wait up to ``grace_s`` for every descendant to end by itself (the
    JVM shuts down once the child has gone), then SIGKILL what is left.
    Returns once every descendant has ended and been reaped: the orphans
    are this process's children, and a zombie below a killed parent
    becomes one."""
    t0 = time.time()
    while True:
        _reap_zombies()
        left = descendants()
        if not left:
            return
        waited = time.time() - t0
        if waited >= grace_s:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if waited >= grace_s + 20:
            log(f"perfbench: processes {left} did not end after SIGKILL")
            return
        time.sleep(0.1)


class ProcessTree(threading.Thread):
    """Samples this runner's process tree every 0.5 s: timestamped sums of
    the PSS of the child's tree (driver JVM, the child's Python, and the
    PySpark daemon and its workers) and of the workers alone."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples: list[tuple[float, float, float]] = []  # (time, tree MB, workers MB)
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.5):
            total = workers = 0.0
            for pid in descendants():
                mb = _pss_mb(pid)
                total += mb
                if "pyspark.daemon" in _cmdline(pid):
                    workers += mb
            self.samples.append((time.time(), total, workers))

    def peaks(self, until: float) -> tuple[float, float]:
        """Peak tree and worker MB over the samples taken up to ``until``
        (the end of the timed work, so the output checks are left out)."""
        kept = [s for s in self.samples if s[0] <= until]
        return max((s[1] for s in kept), default=0.0), max((s[2] for s in kept), default=0.0)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def dump_stacks(child_pid: int) -> None:
    """Python stacks of the child (faulthandler on SIGUSR1) and a thread
    dump of each JVM (SIGQUIT); both land in the child's log."""
    for pid in descendants():
        try:
            if pid == child_pid:
                os.kill(pid, signal.SIGUSR1)
            elif "java" in _cmdline(pid).split(" ")[0]:
                os.kill(pid, signal.SIGQUIT)
        except ProcessLookupError:
            pass
    time.sleep(3)


# ---------------------------------------------------------------------- main

def _exit_on_signal(signum, _frame):
    # unwinds through main's finally, which stops the child's tree
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_launch = time.time()
    _become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)

    root = os.getcwd()
    missing = [p for p in ("sher_look_spark/session.py", "scripts/serve_http.py",
                           "BENCHMARK.json") if not os.path.isfile(os.path.join(root, p))]
    if missing:
        log(f"perfbench: not a checkout root, missing {missing}")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, "run", args.workload)
    trace_dir = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)

    cpus = len(os.sched_getaffinity(0))
    facts = host_facts(cpus)
    log("perfbench host:", json.dumps(facts))

    data = None
    if args.workload == "analytics":
        import datagen

        data = os.path.join(base, "data", f"sf{ANALYTICS_SF}-seed{args.seed}")
        if not os.path.isfile(os.path.join(data, "embeddings.parquet")):
            shutil.rmtree(data, ignore_errors=True)
            datagen.generate(data + ".partial", args.seed, ANALYTICS_SF)
            os.rename(data + ".partial", data)

    out_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "PYTHONUNBUFFERED": "1",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": driver_memory(facts["mem_total_mb"]),
        "SPARK_GRAFT_CPUS": str(cpus),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cpus", str(cpus), "--work", work,
           "--trace-dir", trace_dir, "--out", out_path]
    if data:
        cmd += ["--data", data]
    log_path = os.path.join(base, f"{args.workload}.log")
    env["PERFBENCH_T0"] = repr(time.time())
    with open(log_path, "w") as logf:
        child = subprocess.Popen(cmd, cwd=root, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                 preexec_fn=_die_with_parent)
        tree = ProcessTree()
        tree.start()
        timed_out = False
        try:
            child.wait(timeout=max(10.0, TIMEOUT_S - (time.time() - t_launch)))
        except subprocess.TimeoutExpired:
            timed_out = True
            log(f"perfbench: watchdog fired after {time.time() - t_launch:.0f}s; JVM thread "
                f"dump in {log_path}, Python stacks in {work}/python-stacks.txt")
            dump_stacks(child.pid)
        finally:
            # on every way out (a signal too): no process of the run outlives it
            for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
                signal.signal(sig, signal.SIG_IGN)
            tree.stop()
            t_stop = time.time()
            stop_all(grace_s=0.0 if timed_out or child.poll() is None else GRACE_S)
            child.wait()
            log(f"perfbench: every process of the run ended {time.time() - t_stop:.1f}s "
                f"after the child")

    res = None
    if not timed_out and os.path.isfile(out_path):
        with open(out_path) as fh:
            res = json.load(fh)
    if res is None or res.get("error"):
        with open(log_path) as fh:
            log("".join(fh.readlines()[-40:]))
        print(json.dumps({"correct": False, "attempted": max(1, (res or {}).get("attempted", 1)),
                          "failed": max(1, (res or {}).get("failed", 1)), "metrics": {}}))
        return 1

    peak_mb, peak_workers_mb = tree.peaks(res["work_end"])
    e2e = {"setup_s": res["setup_s"], "work_s": res["work_s"],
           "op_p50_ms": res["op_p50_ms"], "peak_rss_mb": peak_mb}
    facts["jvm"] = res["info"].get("jvm", "unknown")
    record = {"e2e": e2e, "host": facts, "figures": res["figures"], "info": res["info"],
              "checks": res["checks"]}
    if args.trace:
        values = dict(res["layers"], **{"pyworker.peak_rss_mb": peak_workers_mb})
        report_overhead(base, args, record, trace_dir)
    else:
        values = e2e
        with open(os.path.join(base, f"untraced-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(record, fh)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    failed_checks = [c for c in res["checks"] if not c["ok"]]
    log(f"perfbench {args.workload} seed={args.seed} trace={args.trace}"
        + (" (analytics tables generated from the seed at sf"
           f"{ANALYTICS_SF})" if data else ""))
    for k, v in sorted(res["figures"].items()):
        if not k.startswith("q."):
            log(f"  {k:<28} {v:.4f}")
    if "search" in res["info"]:
        s = res["info"]["search"]
        log(f"  search tail = p{s['tail_percentile']:.0f} of {s['cold_samples']} cold samples"
            f" ({s['cached_samples']} cached)")
    log(f"  error_rate                   {res['failed'] / max(res['attempted'], 1):.4f}"
        f" ({res['failed']} of {res['attempted']})")
    for c in failed_checks:
        log(f"  CHECK FAILED {c['check']}: {c['detail']}")
    if args.trace:
        log(format_table(res["layer_table"]))
    for name, m in metrics.items():
        log(f"  {name:<28} {m['value']:.4f} {m['unit']}")
    print(json.dumps({
        "correct": not failed_checks and res["failed"] == 0,
        "attempted": max(1, res["attempted"]),
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def report_overhead(base: str, args, record: dict, trace_dir: str) -> None:
    """Traced minus untraced end-to-end figures, against the last untraced
    run of the same workload and seed in this checkout."""
    path = os.path.join(base, f"untraced-{args.workload}-seed{args.seed}.json")
    record["overhead"] = None
    if os.path.isfile(path):
        with open(path) as fh:
            plain = json.load(fh)["e2e"]
        record["overhead"] = {k: {"traced": v, "untraced": plain[k], "delta": v - plain[k]}
                              for k, v in record["e2e"].items()}
    with open(os.path.join(trace_dir, "run.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if record["overhead"] is None:
        log("  tracing overhead: no untraced run of this workload and seed to compare")
    else:
        for k, v in record["overhead"].items():
            log(f"  tracing overhead {k:<14} {v['delta']:+.4f} "
                f"({v['traced']:.4f} traced vs {v['untraced']:.4f})")
    log(f"  trace written to {trace_dir}")


if __name__ == "__main__":
    sys.exit(main())
