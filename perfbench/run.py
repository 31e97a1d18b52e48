"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Reads the input tables checked in under
``perfbench/data/sf<scale>``, runs one workload in a fresh process whose
working directory and ``TMPDIR`` are a new scratch directory (deleted
afterwards),
prints a table of every metric with its unit, writes the full record
(host, statements, spans) to ``.perfbench/out/`` and prints the result as
one JSON line, last on standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170.0


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json lists them under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _stop_group(pgid: int, run_dir: str) -> None:
    """Stop every process the run left behind (its process group, and any
    process still working in the run directory) and wait until all are
    gone."""
    pids = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            if os.getpgid(int(d)) == pgid or os.readlink(f"/proc/{d}/cwd").startswith(run_dir):
                pids.add(int(d))
        except OSError:
            continue
    pids.discard(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in list(pids):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pids.discard(p)
        deadline = time.monotonic() + 5
        while pids and time.monotonic() < deadline:
            for p in list(pids):
                try:
                    os.kill(p, 0)
                except ProcessLookupError:
                    pids.discard(p)
            time.sleep(0.05)
        if not pids:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="scale factor override (self-check)")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "ballista_mvp_spark", "engine.py")):
        print("engine package ballista_mvp_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sf = args.sf if args.sf is not None else workloads.SF
    data = os.path.join(HERE, "data", f"sf{sf:g}")
    if not os.path.isdir(data):
        print(f"no tables for scale factor {sf:g} in {data}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)

    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(STATE, "runs"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PERFBENCH_SPAWN=repr(time.monotonic()),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--sf", str(sf), "--result", result,
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc.pid, run_dir)
        proc.wait()
    out = None
    if code == 0 and os.path.isfile(result):
        with open(result) as f:
            out = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        print(f"run failed (exit {code})", file=sys.stderr)
        return 1

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(STATE, "out", name), "w") as f:
        json.dump(out, f, default=str)

    units = _units("per_layer" if args.trace else "end_to_end")
    source = out["per_layer"] if args.trace else out["end_to_end"]
    metrics = {k: {"value": source[k], "unit": u} for k, u in units.items()}
    h, t = out["host"], out["tail"]
    print(f"workload {args.workload}  seed {args.seed}  sf {sf:g}  trace {args.trace}  "
          f"master {h['master']}  parallelism {h['default_parallelism']}  "
          f"driver memory {h['driver_memory']}")
    print(f"loadavg {h['loadavg_before'][0]:.2f} -> {h['loadavg_after'][0]:.2f}  calibration "
          f"{h['calibration_s_before']:.4f} s -> {h['calibration_s_after']:.4f} s")
    print(f"steady: {out['steady_passes']} passes, {out['steady_statements']} statements; "
          f"tail = p{t['percentile']} of {t['samples']} samples ({t['beyond']} beyond)")
    print(f"  {'error_rate':32s} {out['end_to_end']['error_rate']:>14.6g} ratio  "
          f"({out['failed']} of {out['attempted']} attempted)")
    for k, m in metrics.items():
        print(f"  {k:32s} {m['value']:>14.6g} {m['unit']}")
    for key in out["failed_statements"]:
        bad = next(r for r in out["statements"] if r["key"] == key and not r["ok"])
        print(f"  FAILED {key}: {bad['check']}")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
