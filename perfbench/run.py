#!/usr/bin/env python3
"""The repository's benchmark: seeded workloads, end-to-end and per-layer metrics.

Run from the repository root::

    python3 perfbench/run.py                      # all workloads, default seed
    python3 perfbench/run.py --trace 1            # the same, per-layer metrics
    python3 perfbench/run.py --workload graph-loops --seed 7 --seconds 8 --trace 0

Each workload runs in a fresh worker process (``worker.py``) at
``local[<cores>]`` with the environment pinned here; the workload, lake and
metric definitions are in ``workloads.py`` and ``BENCHMARK.json``. With
``--workload``, the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics, or with ``--trace 1`` the per-layer ones), and the exit code is 0
once that line is printed: a row that raised or mismatched shows as
``correct: false`` with its count in ``failed``. Without ``--workload``
every workload runs, and the exit code is non-zero if any row of any pass
failed.

Everything a run writes stays under ``perfbench/_work``: the lake, Spark's
local and checkpoint directories and temp files (removed after the run),
and one artifact per run in ``perfbench/_work/runs`` whose name carries
workload, seed, core count and start time.
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

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DEFAULT_SEED = 1
#: Time a worker may take beyond its timed window: JVM start, lake,
#: warm-up passes, expected answers, and a traced run's serial passes.
SETUP_ALLOWANCE_S = 150


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """A quarter of the box's memory, 1 to 4 GB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def _env(work: str) -> tuple[dict[str, str], dict[str, str]]:
    """The worker's environment, and the pinned part of it for the header."""
    tmp = os.path.join(work, "tmp")
    mem = _driver_mem()
    pinned = {
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SHE_CKPT_DIR": os.path.join(work, "ckpt"),
        "TMPDIR": tmp,
        # the driver heap is sized once and made resident at start, so
        # resident memory does not depend on when the collector grows the
        # heap or how many of its pages a run has touched so far
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+AlwaysPreTouch",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options=-Xms{mem} pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SF_DIR"}
    env.update(pinned)
    return env, pinned


def _reap(pgid: int, timeout_s: float = 10.0) -> None:
    """Stop every process left in the worker's process group and wait
    until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not procfs.group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + timeout_s
        while procfs.group_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def run_one(workload: str, seed: int, seconds: float, trace: int) -> tuple[int, dict | None]:
    """One run in a fresh worker. Returns (exit code, worker output)."""
    spawn = time.time()
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(spawn))
    work = os.path.join(WORK, f"{workload}_seed{seed}_{stamp}_{os.getpid()}")
    for d in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env, pinned = _env(work)
    header = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace, **pinned}
    for k, v in header.items():
        print(f"# {k}={v}")
    sys.stdout.flush()
    out = os.path.join(work, "out.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--spawn-time", repr(spawn),
        "--lake", os.path.join(work, f"lake_{workload}_{seed}"),
        "--out", out, "--artifacts", os.path.join(WORK, "runs"),
        "--header", json.dumps(header),
    ]
    timeout_s = seconds + SETUP_ALLOWANCE_S
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, timeout_s - (time.time() - spawn)))
        except subprocess.TimeoutExpired:
            rc = -1
            print(f"# worker exceeded {timeout_s:.0f} s", file=sys.stderr)
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            _reap(proc.pid)
    result = None
    if rc == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    else:
        with open(log_path, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        print(f"# worker failed (exit {rc}); log tail:\n{tail}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1, None
    return (0 if result["result"]["correct"] else 1), result


def _report(name: str, res: dict) -> None:
    r, s = res["result"], res["summary"]
    for line in res["failures"]:
        print(f"# FAILED {name} {line}")
    print(f"## {name}: {r['attempted']} row executions, {r['failed']} failed, "
          f"failed_frac={r['failed'] / r['attempted']:.4f} ratio")
    for k, m in r["metrics"].items():
        print(f"{name:14s} {k:42s} {m['value']:14.6g} {m['unit']}")
    q = s["pass_s_quartiles"]
    print(f"{name:14s} pass_s quartiles {q[0]:.3f} / {q[1]:.3f} / {q[2]:.3f} s "
          f"over {s['passes']} timed passes")
    for k in ("tracing_overhead", "row_span_coverage_min", "build_self_s", "traced_pass_s",
              "serial_pass_s"):
        if k in s:
            print(f"{name:14s} {k} {s[k]:.4f}")
    print(f"{name:14s} artifact {os.path.relpath(res['artifact'], ROOT)}")


def main() -> int:
    needed = ("streamline_hybrid_engine_spark/__init__.py", "tools/parity.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository: {', '.join(missing)} "
              "missing", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS),
                    help="one workload (default: all of them, one after another)")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]

    if a.workload:
        rc, res = run_one(a.workload, a.seed, seconds, a.trace)
        if res is None:
            return rc
        _report(a.workload, res)
        print(json.dumps(res["result"]))
        return 0

    worst, total = 0, {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        rc, res = run_one(name, a.seed, seconds, a.trace)
        worst = max(worst, rc)
        if res is None:
            total["correct"] = False
            continue
        _report(name, res)
        r = res["result"]
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(total))
    return worst


if __name__ == "__main__":
    sys.exit(main())
