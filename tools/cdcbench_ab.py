#!/usr/bin/env python3
"""Interleaved A/B of the CDC benchmark: a base revision against this checkout.

Exports the base revision's committed files into a fresh directory
(``git archive``, the way the benchmark is run on a commit), then runs
``python3 cdcbench/run.py`` once per side for every seed and workload,
alternating, within each workload, which side runs first from one seed
to the next. Each run's last stdout line (the benchmark's result JSON)
is kept in ``evidence/<name>.json`` as ``{what, runs: [{side,
workload, seed, result}]}``, rewritten after every run. The summary gives, per workload
and metric, each side's median and quartiles, how many pairs the change
won, and the change of the medians against the metric's
``BENCHMARK.json`` bound. ``BENCHMARK.json`` is only read.

    python3 tools/cdcbench_ab.py --base HEAD --work /tmp/ab --seeds 101-110 \\
        --workloads spool_gzip --name my_ab
    python3 tools/cdcbench_ab.py --base HEAD --work /tmp/ab --seeds 111-113 \\
        --workloads spool_gzip --cores 1 --name my_ab_c1
    python3 tools/cdcbench_ab.py --name my_ab --report-only

Run it on an otherwise idle host: the two sides share the machine.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def seeds_arg(text):
    """'101-110' or '5,7,9' (or a mix) -> [int]."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export(rev, work):
    sha = subprocess.check_output(["git", "rev-parse", rev], cwd=ROOT, text=True).strip()
    dest = os.path.join(work, "base-" + sha[:12])
    if not os.path.isdir(dest):
        tmp = dest + ".tmp"
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", tmp], stdin=archive.stdout)
        if archive.wait() != 0:
            sys.exit("git archive %s failed" % sha)
        os.rename(tmp, dest)
    return sha, dest


def run_one(checkout, workload, seed, seconds, trace, cores):
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "error": "exit %d" % p.returncode,
                "stderr_tail": p.stderr.splitlines()[-20:]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(doc):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}
    runs = doc["runs"]
    bad = [r for r in runs if not r["result"].get("correct") or r["result"].get("failed")]
    print("runs: %d, not correct or with failed transactions: %d" % (len(runs), len(bad)))
    for r in bad:
        print("  %s %s seed %d: %s" % (r["side"], r["workload"], r["seed"],
                                       {k: v for k, v in r["result"].items() if k != "metrics"}))
    worst = {}
    for workload in sorted({r["workload"] for r in runs}):
        by = {}
        for r in runs:
            if r["workload"] == workload and "metrics" in r["result"]:
                by[(r["side"], r["seed"])] = r["result"]["metrics"]
        seeds = sorted({s for side, s in by if (SIDES[0], s) in by and (SIDES[1], s) in by})
        if not seeds:
            continue
        print("\n%s, %d pairs (seeds %s)" % (workload, len(seeds), ",".join(map(str, seeds))))
        print("  %-36s %24s %24s %6s %8s %6s" % ("metric", "parent median [q1, q3]",
                                               "change median [q1, q3]", "wins", "change", "bound"))
        for m in by[(SIDES[0], seeds[0])]:
            vals = {side: [by[(side, s)][m]["value"] for s in seeds] for side in SIDES}
            if any(v is None for side in SIDES for v in vals[side]):
                continue
            lower = better.get(m, "lower") == "lower"
            wins = sum(1 for a, b in zip(vals["parent"], vals["change"]) if (b < a if lower else b > a))
            med = {side: statistics.median(vals[side]) for side in SIDES}
            q = {side: quartiles(vals[side]) for side in SIDES}
            rel = (med["change"] / med["parent"] - 1.0) if med["parent"] else 0.0
            worse = rel if lower else -rel
            bound = bounds.get(m, {}).get("bound")
            if bound is not None and worse > worst.get(m, (float("-inf"), ""))[0]:
                worst[m] = (worse, workload)
            iqr = q["parent"][1] - q["parent"][0]
            gain = (len(seeds) >= 10 and wins >= 0.9 * len(seeds)
                    and abs(med["change"] - med["parent"]) > iqr)
            print("  %-36s %8.4g [%6.4g, %6.4g] %8.4g [%6.4g, %6.4g] %3d/%-2d %+7.1f%% %6s%s" % (
                m, med["parent"], q["parent"][0], q["parent"][1],
                med["change"], q["change"][0], q["change"][1], wins, len(seeds), 100 * rel,
                "" if bound is None else "%d%%" % round(100 * bound),
                "  gain: >= 10 pairs, wins >= 90%, |median change| > parent IQR" if gain else ""))
    if worst:
        print("\nworst change per end-to-end metric (positive = worse), against its bound")
        for m, (w, workload) in sorted(worst.items()):
            b = bounds[m]["bound"]
            print("  %-28s %+7.1f%% on %-16s bound %d%%%s" % (
                m, 100 * w, workload, round(100 * b), "  OVER BOUND" if w > b else ""))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--name", required=True, help="evidence/<name>.json")
    p.add_argument("--base", help="the base revision (e.g. HEAD or a commit)")
    p.add_argument("--work", help="directory for the base revision's export")
    p.add_argument("--seeds", type=seeds_arg, help="e.g. 101-110")
    p.add_argument("--workloads", default="spool_gzip,filtered_fanout")
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="Spark task threads, local[N], passed to run.py (default: its own)")
    p.add_argument("--what", default=None, help="the evidence file's description")
    p.add_argument("--report-only", action="store_true", help="summarize an existing evidence file")
    a = p.parse_args()
    path = os.path.join(ROOT, "evidence", a.name + ".json")
    if a.report_only:
        with open(path) as f:
            report(json.load(f))
        return
    if not (a.base and a.work and a.seeds):
        p.error("--base, --work and --seeds are required unless --report-only")
    sha, base_dir = export(a.base, os.path.abspath(a.work))
    checkouts = {"parent": base_dir, "change": ROOT}
    doc = {"what": a.what or (
        "cdcbench interleaved A/B, parent %s vs this change, --seconds %d%s%s, one run at a time, "
        "side order alternating per pair" % (sha[:12], a.seconds, ", traced" if a.trace else "",
                                              ", --cores %d" % a.cores if a.cores else "")),
        "runs": []}
    for i, seed in enumerate(a.seeds):
        for j, workload in enumerate(a.workloads.split(",")):
            # each workload's side order alternates from seed to seed
            order = SIDES if (i + j) % 2 == 0 else SIDES[::-1]
            for side in order:
                result = run_one(checkouts[side], workload, seed, a.seconds, a.trace, a.cores)
                if any("build failed" in l for l in result.get("stderr_tail", [])):
                    # nothing was measured; sbt's server socket path under
                    # <checkout>/cdcbench/target must fit the ~108-byte
                    # unix socket limit, so keep --work short
                    sys.exit("%s side did not build: %s" % (side, result["stderr_tail"][-1]))
                doc["runs"].append({"side": side, "workload": workload, "seed": seed,
                                    "result": result})
                with open(path, "w") as f:
                    json.dump(doc, f, indent=1)
                m = result.get("metrics", {})
                print("%-7s %-16s seed %-5d correct=%s failed=%s ack_p50=%s" % (
                    side, workload, seed, result.get("correct"), result.get("failed"),
                    m.get("ack_latency_p50_ms", {}).get("value")), file=sys.stderr, flush=True)
    report(doc)


if __name__ == "__main__":
    main()
