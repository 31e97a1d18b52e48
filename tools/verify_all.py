"""One-command full verification: pytest + both-scale oracle sweeps +
bench, with a compact summary line per gate.

    python tools/verify_all.py [--skip-bench]

Exit code 0 only if every gate passes. This is the pre-handoff check;
the per-change loop is `tools/run_oracle.py <sf_dir> <prefix>`.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str]) -> tuple[bool, str]:
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    # persist full gate output so the post-battery sweep-log audits
    # (tools/sweep_audit.py) can run without re-sweeping
    slug = name.replace(" ", "_").replace(".", "")
    with open(f"/tmp/verify_{slug}.log", "w") as fh:
        fh.write(p.stdout + p.stderr)
    out = (p.stdout + p.stderr).strip().splitlines()
    # prefer the gate's summary line over trailing log noise
    summary = [
        ln for ln in out
        if "failures /" in ln or "flagged /" in ln or '"metric"' in ln
        or " passed" in ln
    ]
    tail = (summary or out)[-1] if out else ""
    ok = p.returncode == 0
    print(f"[{'OK ' if ok else 'FAIL'}] {name}: {tail}  ({time.time() - t:.0f}s)")
    return ok, tail


def main() -> int:
    gates = [
        ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
        ("oracle sf0.01 strict",
         [sys.executable, "tools/run_oracle.py", "/root/testdata/sf0.01"]),
        ("oracle sf0.1 strict",
         [sys.executable, "tools/run_oracle.py", "/root/testdata/sf0.1"]),
        # the driver's EXACT conditions: default-config ANSI session —
        # catches divergence that only appears without build_session's
        # tuning (e.g. the non-arrow toPandas path)
        ("oracle sf0.01 strict vanilla",
         [sys.executable, "tools/run_oracle.py", "--vanilla",
          "/root/testdata/sf0.01"]),
        # plan hygiene: every registry plan classified for unadjudicated
        # broadcast pins / cartesians / bare single-partition exchanges
        ("plan audit",
         [sys.executable, "tools/plan_audit.py", "/root/testdata/sf0.001"]),
        # streaming-plan hygiene: no un-pinned stream-static joins (no
        # AQE in micro-batch plans — the pin IS the contract, VERDICT r9 #2)
        ("stream plan audit",
         [sys.executable, "tools/stream_plan_audit.py", "/root/testdata/sf0.001"]),
        # cross-scale row/time audits over the two sweep logs just saved
        # by the gates above (vacuity / anti-scaling / super-linear /
        # time-ratio — the round-7 vacuous-cert catchers)
        ("sweep audit",
         [sys.executable, "tools/sweep_audit.py",
          "/tmp/verify_oracle_sf001_strict.log",
          "/tmp/verify_oracle_sf01_strict.log"]),
    ]
    if "--skip-bench" not in sys.argv:
        gates.append(("bench", [sys.executable, "bench.py"]))
    ok_all = True
    for name, cmd in gates:
        ok, tail = run(name, cmd)
        ok_all = ok_all and ok
        if name == "bench" and ok:
            try:
                d = json.loads(tail)
                print(
                    f"       cold={d['value']}s warm={d['warm_suite_seconds']}s"
                    f" sf={d['sf']}"
                )
            except (json.JSONDecodeError, KeyError):
                pass
    print("ALL GREEN" if ok_all else "FAILURES PRESENT")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
