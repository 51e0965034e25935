"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds (or reuses) the seeded inputs and
their expected results under .bench_cache/ in a child process, pins the
measured process's environment, runs perfbench/worker.py, prints a
human-readable report and, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Exits non-zero without a
result when the engine is missing, the worker fails, or it overruns.
On every way out it stops and reaps every process it started, and every
process those started.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# files of the engine the benchmark drives; without them there is nothing
# to measure
REQUIRED = [
    "ccnet_spark_spark/__init__.py",
    "ccnet_spark_spark/plans/pipeline.py",
    "__spark_entry__.py",
    "tests/oracle_pandas.py",
]

DEADLINE_S = 170  # the whole run, inputs included, ends well within 180 s
DRIVER_MEM = "2g"  # far below host RAM, so the heap ceiling is fixed


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    return code


def pinned_env(cache: str) -> dict:
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_UI="false",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        PYTHONPATH=ROOT,
    )
    return env


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have every orphaned descendant (the JVM once the worker has exited,
    multiprocessing's resource tracker, PySpark's daemon) reparented to
    this process instead of init, so that stop_descendants can reap it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def descendants() -> dict[int, str]:
    """pid -> state of every process below this one, zombies included."""
    children: dict[int, list[int]] = {}
    state = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        state[int(d)] = fields[0]
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = state[c]
            todo.append(c)
    return out


def reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """SIGTERM, then SIGKILL after `grace` seconds, every process below this
    one, reaping each as it ends, until none is left. Call it only once
    every subprocess.Popen has been waited for."""
    deadline = time.time() + grace
    while True:
        reap_children()
        procs = descendants()
        if not procs:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for p, st in procs.items():
            if st != "Z":
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def report(workload: str, seed: int, env: dict, res: dict, metrics: dict) -> None:
    n_ops = len(res.get("ops", [])) or res.get("attempted", 0)
    pinned = " ".join(f"{k}={env[k]}" for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"))
    print(f"perfbench {workload} seed={seed} {pinned}")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:>14.4f} {m['unit']:6s} (n={m.get('n', 1)})")
    att, fl = res["attempted"], res["failed"]
    print(f"  {'failed_frac':40s} {fl / att:>14.4f} {'ratio':6s} (failed {fl} of {att} operations, n={n_ops})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t0 = time.time()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        return fail(f"engine files missing from {ROOT}: {missing}")
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    if args.workload not in inputs.SIZES:
        return fail(f"unknown workload {args.workload!r}; choose from {sorted(inputs.SIZES)}")
    if args.seed < 0 or args.seconds <= 0:
        return fail("--seed must be >= 0 and --seconds > 0")

    # a SIGTERM to the launcher still stops everything below it (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    try:
        return measure(args, t0)
    finally:
        stop_descendants()


def measure(args, t0: float) -> int:
    cache = os.path.join(ROOT, ".bench_cache")
    env = pinned_env(cache)

    def remaining() -> float:
        return max(5.0, DEADLINE_S - (time.time() - t0))

    # the inputs are built in a child: its process pool and multiprocessing's
    # resource tracker end with it, not with the launcher
    try:
        prep = subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", cache, args.workload, str(args.seed)],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=remaining(),
        )
    except subprocess.TimeoutExpired:
        return fail(f"building the inputs overran the {DEADLINE_S}s deadline", 3)
    if prep.returncode != 0:
        return fail(f"building the inputs exited with code {prep.returncode}", 1)
    inp = prep.stdout.strip().splitlines()[-1]
    work = os.path.join(cache, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", inp, "--work", work, "--result", result_file,
        "--spans", os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.json"),
    ]
    spawned_at = time.time()
    proc = subprocess.Popen(cmd + ["--spawned-at", repr(spawned_at)], cwd=ROOT, env=env, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=remaining())
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    try:
        if rc is None:
            return fail(f"worker overran the {DEADLINE_S}s deadline", 3)
        if rc != 0 or not os.path.exists(result_file):
            return fail(f"worker exited with code {rc}", 1)
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        from perfbench.worker import PER_LAYER

        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in res["per_layer"].items()}
    else:
        from perfbench.worker import END_TO_END

        ops = res["ops"]
        if not ops:
            return fail("no operation completed", 1)
        from perfbench.stats import median

        secs = [o["seconds"] for o in ops]
        values = {
            "setup_s": (res["setup_s"], 1),
            "images_per_s": (sum(o["pairs"] for o in ops) / sum(secs), len(ops)),
            "batch_p50_s": (median(secs), len(ops)),
            "peak_rss_mb": (res["peak_mem_bytes"] / 1e6, 1),
            "write_amp": (sum(o["out_bytes"] for o in ops) / sum(o["in_bytes"] for o in ops), len(ops)),
        }
        metrics = {k: {"value": values[k][0], "unit": END_TO_END[k], "n": values[k][1]} for k in END_TO_END}

    report(args.workload, args.seed, env, res, metrics)
    line = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
