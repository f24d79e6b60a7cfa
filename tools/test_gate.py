#!/usr/bin/env python3
"""Test gate: distinguish flake from regression in the sbt suite.

bench_gate.py gates query timings; this gates the TEST SUITE with the
same philosophy — a single noisy observation is not a verdict. Round 7
shipped with 187/188 in one full run where the lone failure passed
11/11 in isolation (load flake: 32 saturated cores pushed a reconnect
ack past its deadline). This tool encodes that adjudication path:

  1. run the FULL suite (optionally N times);
  2. if a run fails, parse the failed suites from sbt's
     "[error] Failed tests:" block;
  3. re-run each failed suite IN ISOLATION (`testOnly <suite>`);
  4. classify: passes isolated -> FLAKE (suite noise, still worth
     fixing the test's headroom); fails isolated -> REGRESSION
     (a real product/test bug — the gate fails).

Each sbt invocation keeps its output in its own directory under
target/test-gate/ (cleared at start): `run<N>/` for full run N and
`run<N>-<suite>/` for that suite's isolated re-run, each holding
`sbt.log` and a copy of that invocation's `target/test-reports`, so a
re-run never overwrites the failing run's `TEST-<suite>.xml`.

Exit 0 iff no REGRESSION (flakes are reported, listed, and make the
gate exit 0 only with --allow-flakes; default treats any flake as a
failure too, because the round bar is "one full run green").

Usage:
  python3 tools/test_gate.py [--runs N] [--allow-flakes] [--out FILE]
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

SBT = ["sbt", "-batch"]
REPORTS = os.path.join("target", "test-reports")
KEEP = os.path.join("target", "test-gate")


def run(cmd, keep_dir):
    """Run one sbt invocation; keep its log and test reports in keep_dir."""
    shutil.rmtree(REPORTS, ignore_errors=True)
    p = subprocess.run(cmd, capture_output=True, text=True)
    out = p.stdout + p.stderr
    os.makedirs(keep_dir)
    with open(os.path.join(keep_dir, "sbt.log"), "w") as f:
        f.write(out)
    if os.path.isdir(REPORTS):
        shutil.copytree(REPORTS, os.path.join(keep_dir, "test-reports"))
    return p.returncode, out


def failed_suites(output):
    """Parse fully-qualified suite names from sbt's failure summary."""
    suites = []
    in_block = False
    for line in output.splitlines():
        if "Failed tests:" in line:
            in_block = True
            continue
        if in_block:
            m = re.match(r"\[error\]\s+([\w.$]+)\s*$", line)
            if m:
                suites.append(m.group(1))
            else:
                in_block = False
    return suites


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=1,
                    help="full-suite runs (default 1)")
    ap.add_argument("--allow-flakes", action="store_true",
                    help="exit 0 when failures pass in isolation")
    ap.add_argument("--out", default=None, help="write JSON verdict here")
    args = ap.parse_args()

    verdict = {"runs": [], "flakes": [], "regressions": []}
    shutil.rmtree(KEEP, ignore_errors=True)
    for i in range(args.runs):
        print(f"[test_gate] full-suite run {i + 1}/{args.runs} ...",
              flush=True)
        run_dir = os.path.join(KEEP, f"run{i + 1}")
        rc, out = run(SBT + ["test"], run_dir)
        suites = failed_suites(out) if rc != 0 else []
        # a nonzero rc with no parsable suites is a build/infra error:
        # fail closed, never classify it as green
        if rc != 0 and not suites:
            tail = "\n".join(out.splitlines()[-30:])
            print(f"[test_gate] run {i + 1}: sbt failed without a "
                  f"failed-tests block (build error?)\n{tail}")
            verdict["runs"].append({"run": i + 1, "ok": False,
                                    "failed_suites": ["<build-error>"],
                                    "dir": run_dir})
            verdict["regressions"].append("<build-error>")
            break
        verdict["runs"].append({"run": i + 1, "ok": rc == 0,
                                "failed_suites": suites, "dir": run_dir})
        print(f"[test_gate] run {i + 1}: "
              f"{'GREEN' if rc == 0 else 'failed suites: ' + ', '.join(suites)}",
              flush=True)
        for suite in suites:
            print(f"[test_gate] re-running {suite} in isolation ...",
                  flush=True)
            rc2, _ = run(SBT + [f"testOnly {suite}"],
                         os.path.join(KEEP, f"run{i + 1}-{suite}"))
            kind = "FLAKE" if rc2 == 0 else "REGRESSION"
            print(f"[test_gate] {suite}: {kind}", flush=True)
            verdict["flakes" if rc2 == 0 else "regressions"].append(suite)

    greens = sum(1 for r in verdict["runs"] if r["ok"])
    verdict["green_runs"] = greens
    verdict["total_runs"] = len(verdict["runs"])
    ok = not verdict["regressions"] and (
        args.allow_flakes or not verdict["flakes"])
    verdict["pass"] = ok
    line = json.dumps(verdict, indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    print(line)
    print(f"[test_gate] {'PASS' if ok else 'FAIL'}: {greens}/"
          f"{verdict['total_runs']} full runs green, "
          f"{len(verdict['flakes'])} flake(s), "
          f"{len(verdict['regressions'])} regression(s)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
