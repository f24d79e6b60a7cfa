#!/usr/bin/env python3
"""End-to-end CDC benchmark: WAL line in, acked LSN out.

    python3 cdcbench/run.py --workload spool_gzip --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's JVM half from source (sbt, offline) into cdcbench/target.

One run: generate the workload from the seed (gen.py), write the
backlog into a fresh spool, start the pipeline JVM (CdcBench.scala),
drain the backlog, feed transactions open-loop at a fixed rate for
--seconds (plus a 2 s cool-down), pause three trigger intervals,
commit one final transaction, idle 10 s, stop. Then check every
delivered record against the model (check.py) and print one JSON line.
--trace 1 adds the per-layer table (prefix plans, batch phases, spans)
and writes it to cdcbench/out/<workload>.layers.json.
"""

import argparse
import bisect
import glob
import gzip
import hashlib
import json
import os
import queue
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the tree

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("spool_gzip", "filtered_fanout")
TRIGGER_S = 1.0          # the CLI's default --batch-flush-max-age
FINAL_PAUSE_S = 3 * TRIGGER_S
FINAL_IDLE_S = 10.0      # the reference's forced-ack cadence
GEN_TICK_S = 0.010       # generator wakes at most this often
JVM_HEAP = "1g"
OUT_DIR = os.path.join(HERE, "out")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# layer metric -> (end-to-end metric it should move, workload where it does)
LAYER_MAP = {
    "sources.read_ms_per_10k_lines": ("records_per_s", "spool_gzip"),
    "sources.latest_offset_ms_p50": ("ack_latency_p50_ms", "all paced phases"),
    "sources.backlog_lines_max": ("ack_latency_p99_ms", "all"),
    "parser.prelude_ms_per_1m_lines": ("records_per_s, cpu_s_per_1m_records", "spool_gzip"),
    "parser.parse_ms_per_1m_lines": ("records_per_s, cpu_s_per_1m_records", "spool_gzip"),
    "operators.filter_ms_per_1m_lines": ("cpu_s_per_1m_records", "filtered_fanout"),
    "operators.filter_pass_ratio": ("cpu_s_per_1m_records", "filtered_fanout"),
    "operators.partition_ms_per_1m_rows": ("records_per_s", "spool_gzip"),
    "operators.marshal_ms_per_1m_rows": ("records_per_s", "spool_gzip"),
    "operators.route_ms_per_1m_rows": ("delivery_latency_p50_ms", "filtered_fanout"),
    "operators.shuffle_bytes_per_record": ("delivery_latency_p50_ms", "filtered_fanout"),
    "streaming.sink_ms_per_1m_records": ("records_per_s", "spool_gzip, filtered_fanout"),
    "streaming.sink_bytes_per_record": ("records_per_s", "spool_gzip, filtered_fanout"),
    "streaming.records_per_chunk": ("records_per_s", "spool_gzip, filtered_fanout"),
    "streaming.transport_sends": ("records_per_s", "spool_gzip, filtered_fanout"),
    "streaming.add_batch_ms_p50": ("delivery_latency_p50_ms, ack_latency_p50_ms", "all paced phases"),
    "streaming.query_planning_ms_p50": ("delivery_latency_p50_ms, ack_latency_p50_ms", "all paced phases"),
    "streaming.wal_commit_ms_p50": ("delivery_latency_p50_ms, ack_latency_p50_ms", "all paced phases"),
    "streaming.commit_offsets_ms_p50": ("delivery_latency_p50_ms, ack_latency_p50_ms", "all paced phases"),
    "streaming.trigger_ms_p50": ("delivery_latency_p50_ms, ack_latency_p50_ms", "all paced phases"),
    "streaming.batches": ("delivery_latency_p50_ms, ack_latency_p50_ms", "all paced phases"),
    "streaming.batch_end_to_ack_ms_p50": ("ack_latency_p50_ms", "all"),
    "jvm.gc_ms_per_s": ("peak_rss_mb, cpu_s_per_1m_records", "all"),
    "jvm.heap_used_max_mb": ("peak_rss_mb, cpu_s_per_1m_records", "all"),
}
LAYER_UNITS = {
    "sources.read_ms_per_10k_lines": "ms", "sources.latest_offset_ms_p50": "ms",
    "sources.backlog_lines_max": "lines", "parser.prelude_ms_per_1m_lines": "ms",
    "parser.parse_ms_per_1m_lines": "ms", "operators.filter_ms_per_1m_lines": "ms",
    "operators.filter_pass_ratio": "ratio", "operators.partition_ms_per_1m_rows": "ms",
    "operators.marshal_ms_per_1m_rows": "ms", "operators.route_ms_per_1m_rows": "ms",
    "operators.shuffle_bytes_per_record": "bytes", "streaming.sink_ms_per_1m_records": "ms",
    "streaming.sink_bytes_per_record": "bytes", "streaming.records_per_chunk": "count",
    "streaming.transport_sends": "count", "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.trigger_ms_p50": "ms",
    "streaming.batches": "count", "streaming.batch_end_to_ack_ms_p50": "ms",
    "jvm.gc_ms_per_s": "ms/s", "jvm.heap_used_max_mb": "MB",
}
E2E_UNITS = {
    "setup_s": "s", "records_per_s": "1/s",
    "delivery_latency_p50_ms": "ms", "delivery_latency_p99_ms": "ms",
    "ack_latency_p50_ms": "ms", "ack_latency_p99_ms": "ms",
    "cpu_s_per_1m_records": "s", "peak_rss_mb": "MB",
}


LSN_FIELD = re.compile(r'"lsn":"([0-9A-F]+/[0-9A-F]+)"')
NEVER = 1 << 62  # delivery time of a record no finished batch covers


class Stop(Exception):
    pass


def fail(msg, code=1):
    print("cdcbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the JVM half when their sources changed;
    returns the seconds spent building."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "cdcbench.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return 0.0
    t = time.monotonic()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
            "-J-XX:-UsePerfData", "-J-Djava.io.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        # products = compile + copy resources (the graft-wal service registration)
        rc = subprocess.call(["sbt", "--batch"] + opts + ["Compile/products"], cwd=HERE,
                             stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=env, timeout=840)
    if rc != 0:
        fail("build failed (exit %d); see %s" % (rc, log))
    with open(stamp, "w") as f:
        f.write(digest)
    return time.monotonic() - t


# ---------------------------------------------------------------- helpers

def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def write_segment(spool, start_line, text):
    tmp = os.path.join(spool, ".tmp-%d" % start_line)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.rename(tmp, os.path.join(spool, "%012d.wal" % start_line))


class Jvm:
    """The pipeline process and its EVENT stream."""

    def __init__(self, cmd, log_path):
        self.log = open(log_path, "wb")
        # bind the driver to loopback: no host-name lookup at start-up
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, cwd=ROOT, env=env)
        self.events = queue.Queue()
        self.seen = {}  # first time each event name was reported
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for raw in self.proc.stdout:
            line = raw.decode("utf-8", "replace").strip()
            if line.startswith("EVENT "):
                ev = line.split()[1:]
                self.seen.setdefault(ev[0], int(ev[1]))
                self.events.put(ev)
        self.events.put(None)

    def wait_event(self, name, timeout):
        deadline = time.monotonic() + timeout
        while True:
            try:
                ev = self.events.get(timeout=max(0.01, deadline - time.monotonic()))
            except queue.Empty:
                raise Stop("pipeline did not report '%s' within %.0f s" % (name, timeout))
            if ev is None:
                raise Stop("pipeline exited (code %s) before '%s'" % (self.proc.wait(), name))
            if ev[0] == name:
                return [int(x) for x in ev[1:]]

    def wait_until_line(self, line, timeout):
        """Wait for a batch whose end offset reaches `line`; its end time."""
        deadline = time.monotonic() + timeout
        while True:
            _, end_nanos, end_lsn = self.wait_event("progress", deadline - time.monotonic())
            if end_lsn >= line:
                return end_nanos

    def stop(self):
        """Stop the pipeline on every path: ask, then terminate, then kill."""
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(b"stop\n")
                self.proc.stdin.close()
            except OSError:
                pass
            for sig, wait in ((None, 30), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
                if sig is not None and self.proc.poll() is None:
                    self.proc.send_signal(sig)
                try:
                    self.proc.wait(timeout=wait)
                    break
                except subprocess.TimeoutExpired:
                    continue
        self.log.close()


# ---------------------------------------------------------------- run

def read_outputs(model, work):
    out = os.path.join(work, "out")
    acks = []
    with open(os.path.join(out, "acks.tsv")) as f:
        for line in f:
            t, lsn = line.split("\t")
            acks.append((int(t), int(lsn)))
    with open(os.path.join(out, "batches.jsonl")) as f:
        batches = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(out, "stats.json")) as f:
        stats = json.load(f)
    delivered = []
    sink_files = []
    if model.name == "filtered_fanout":
        with open(os.path.join(out, "delivered.tsv"), encoding="utf-8") as f:
            for line in f:
                t, worker, key, raw = line.rstrip("\n").split("\t", 3)
                delivered.append(check.Delivered(int(t), int(worker), key, raw))
    else:
        # a file-sink record is delivered when the batch that covers its
        # line reports progress
        ends = sorted((b["endLsn"], b["endNanos"]) for b in batches if b["numInputRows"] > 0)
        end_lsns = [e for e, _ in ends]
        sink_files = [p for p in glob.glob(os.path.join(work, "sink", "**", "*.gz"), recursive=True)
                      if "_spark_metadata" not in p]
        for p in sink_files:
            with gzip.open(p, "rt", encoding="utf-8") as f:
                for raw in f:
                    raw = raw.rstrip("\n")
                    m = LSN_FIELD.search(raw)
                    i = bisect.bisect_left(end_lsns, check.lsn_to_line(m.group(1))) if m else len(ends)
                    t = ends[i][1] if i < len(ends) else NEVER
                    delivered.append(check.Delivered(t, -1, None, raw))
    layers = None
    lp = os.path.join(out, "layers.json")
    if os.path.exists(lp):
        with open(lp) as f:
            layers = json.load(f)
    return acks, batches, stats, delivered, sink_files, layers


def e2e_metrics(model, t_launch, t_warm, acks, batches, stats, at):
    """End-to-end metrics and their sample counts. `at`: line -> delivery time."""
    ack_lsns = [lsn for _, lsn in acks]
    ack_ts = [t for t, _ in acks]

    def ack_time(line):
        i = bisect.bisect_left(ack_lsns, line)
        return ack_ts[i] if i < len(ack_ts) else None

    backlog_lines = [t.first_line + 2 + i for t in model.txns if t.phase == "backlog"
                     for i, c in enumerate(t.changes) if model.kept(c)]
    drain_end = max(at.get(line, NEVER) for line in backlog_lines)
    data = [b for b in batches if b["numInputRows"] > 0]
    first = next(b for b in data if b["endLsn"] > model.warmup_lines)
    warm = [b for b in data if b["endLsn"] <= model.warmup_lines][-1]
    last = next(b for b in data if b["endLsn"] >= model.backlog_lines)
    drain_s = (drain_end - first["startNanos"]) / 1e9
    deliv, ackl = [], []
    for t in model.txns:
        if t.phase != "paced":
            continue
        kept = [t.first_line + 2 + i for i, c in enumerate(t.changes) if model.kept(c)]
        if kept and all(line in at for line in kept):
            deliv.append((max(at[line] for line in kept) - t.due_ns) / 1e6)
        a = ack_time(t.commit_line)
        if a is not None:
            ackl.append((a - t.due_ns) / 1e6)
    m = {
        "setup_s": (t_warm - t_launch) / 1e9,
        "records_per_s": len(backlog_lines) / drain_s,
        "delivery_latency_p50_ms": statistics.median(deliv) if deliv else None,
        "delivery_latency_p99_ms": pct(deliv, 99) if deliv else None,
        "ack_latency_p50_ms": statistics.median(ackl) if ackl else None,
        "ack_latency_p99_ms": pct(ackl, 99) if ackl else None,
        "cpu_s_per_1m_records":
            (last["cpuNanos"] - warm["cpuNanos"]) / 1e9 / len(backlog_lines) * 1e6,
        "peak_rss_mb": stats["vmHwmKb"] / 1024.0,
    }
    samples = {"drain_records": len(backlog_lines), "drain_s": drain_s,
               "delivery_latency": len(deliv), "ack_latency": len(ackl)}
    return m, samples


def layer_metrics(model, paced_t0, paced_t1, gen_log, acks, batches, stats, delivered,
                  sink_files, layers):
    probe = layers["probe"]
    pre = probe["prefixMs"]
    lines, records = probe["lines"], max(1, probe["records"])

    def per(a, b, n, scale):
        return (pre[a] - pre[b]) / n * scale

    paced = [b for b in batches if paced_t0 <= b["startNanos"] <= paced_t1]
    data_paced = [b for b in paced if b["numInputRows"] > 0]

    def phase_p50(key):
        xs = [b["durationMs"].get(key, 0) for b in data_paced]
        return float(statistics.median(xs)) if xs else 0.0

    # backlog over the paced phase: lines written minus lines acked
    events = sorted([(t, n, 0) for t, n in gen_log] + [(t, lsn, 1) for t, lsn in acks])
    written = model.backlog_lines
    acked = 0
    backlog_max = 0
    for t, v, kind in events:
        if kind == 0:
            written = v
        else:
            acked = max(acked, v)
        if paced_t0 <= t <= paced_t1:
            backlog_max = max(backlog_max, written - acked)
    ack_lsns = [lsn for _, lsn in acks]
    to_ack = []
    for b in data_paced:
        i = bisect.bisect_left(ack_lsns, b["endLsn"])
        if i < len(acks):
            to_ack.append((acks[i][0] - b["endNanos"]) / 1e6)
    n_deliv = max(1, len(delivered))
    if model.name == "filtered_fanout":
        sends = stats["sends"]
        sink_bytes = stats["sendBytes"]
    else:
        sends = len(sink_files)
        sink_bytes = sum(os.path.getsize(p) for p in sink_files)
    run_s = (stats["stoppedNanos"] - stats["startedNanos"]) / 1e9
    return {
        "sources.read_ms_per_10k_lines": probe["readMsPer10kLines"],
        "sources.latest_offset_ms_p50": phase_p50("latestOffset"),
        "sources.backlog_lines_max": backlog_max,
        "parser.prelude_ms_per_1m_lines": per("prelude", "scan", lines, 1e6),
        "parser.parse_ms_per_1m_lines": per("parse", "filter", lines, 1e6),
        "operators.filter_ms_per_1m_lines": per("filter", "scan", lines, 1e6),
        "operators.filter_pass_ratio": probe["passRows"] / max(1, probe["dataRows"]),
        "operators.partition_ms_per_1m_rows": per("partition", "parse", records, 1e6),
        "operators.marshal_ms_per_1m_rows": per("marshal", "partition", records, 1e6),
        "operators.route_ms_per_1m_rows": per("route", "marshal", records, 1e6),
        "operators.shuffle_bytes_per_record": stats["shuffleBytes"] / n_deliv,
        "streaming.sink_ms_per_1m_records": per("sink", "route", records, 1e6),
        "streaming.sink_bytes_per_record": sink_bytes / n_deliv,
        "streaming.records_per_chunk": n_deliv / max(1, sends),
        "streaming.transport_sends": sends,
        "streaming.add_batch_ms_p50": phase_p50("addBatch"),
        "streaming.query_planning_ms_p50": phase_p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": phase_p50("walCommit"),
        "streaming.commit_offsets_ms_p50": phase_p50("commitOffsets"),
        "streaming.trigger_ms_p50": phase_p50("triggerExecution"),
        "streaming.batches": len(batches),
        "streaming.batch_end_to_ack_ms_p50": statistics.median(to_ack) if to_ack else 0.0,
        "jvm.gc_ms_per_s": stats["gcMillis"] / run_s,
        "jvm.heap_used_max_mb": stats["heapPeakBytes"] / 2 ** 20,
    }


def run(args):
    build_s = build()
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    jvm = None
    try:
        spool = os.path.join(work, "spool")
        os.makedirs(spool)
        os.makedirs(os.path.join(work, "tmp"))
        model = gen.Workload(args.workload, args.seed, args.seconds)
        for start, text in model.segments("warmup"):
            write_segment(spool, start, text)
        later = [t for t in model.txns if t.phase not in ("warmup", "backlog")]
        texts = {id(t): "\n".join(t.lines()) + "\n" for t in later}
        backlog_segments = model.segments("backlog")

        classes = os.path.join(HERE, "target", "scala-2.13", "classes")
        spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
        cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dspark.ui.enabled=false"]
               + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", classes + os.pathsep + spark_jars, "cdcbench.CdcBench",
                  "--work", work, "--out", os.path.join(work, "out"),
                  "--trace", str(args.trace),
                  "--backlog-from", str(model.warmup_lines),
                  "--backlog-until", str(model.backlog_lines),
                  "--cores", str(args.cores), "--"]
               + model.replicate_args(spool, work))
        # set-up: from the pipeline process's start until its first
        # (warm-up) batch has been delivered
        t_launch = time.monotonic_ns()
        jvm = Jvm(cmd, os.path.join(work, "jvm.log"))
        t_warm = jvm.wait_until_line(model.warmup_lines, 150)

        # drain: the backlog lands at once; capacity is measured from
        # the first batch that reads it
        for start, text in backlog_segments:
            write_segment(spool, start, text)
        jvm.wait_until_line(model.backlog_lines, 150)

        # paced phase: open loop, each transaction timed from when it was due
        gen_log = []  # (rename time, lines written so far)
        spans = []
        paced = [t for t in later if t.phase in ("paced", "cooldown")]
        t0 = time.monotonic_ns()
        step = 1e9 / model.rate
        for i, t in enumerate(paced):
            t.due_ns = t0 + int(i * step)
        i = 0
        last_write = 0
        while i < len(paced):
            now = time.monotonic_ns()
            wake = max(paced[i].due_ns, last_write + int(GEN_TICK_S * 1e9))
            if now < wake:
                time.sleep((wake - now) / 1e9)
                now = time.monotonic_ns()
            j = i
            while j < len(paced) and paced[j].due_ns <= now:
                j += 1
            group = paced[i:j]
            write_segment(spool, group[0].first_line, "".join(texts[id(t)] for t in group))
            last_write = time.monotonic_ns()
            for t in group:
                t.avail_ns = last_write
            gen_log.append((last_write, group[-1].first_line + group[-1].n_lines))
            spans.append({"layer": "generator", "name": "commit", "start": now,
                          "end": last_write, "count": len(group)})
            i = j
        t_paced_end = t0 + int(model.paced_seconds * 1e9)
        time.sleep(FINAL_PAUSE_S)
        final = model.txns[-1]
        final.due_ns = time.monotonic_ns()
        write_segment(spool, final.first_line, texts[id(final)])
        final.avail_ns = time.monotonic_ns()
        gen_log.append((final.avail_ns, final.first_line + final.n_lines))
        time.sleep(FINAL_IDLE_S)
        jvm.proc.stdin.write(b"stop\n")
        jvm.proc.stdin.flush()
        jvm.wait_event("done", 150)
        jvm.proc.wait(timeout=60)

        acks, batches, stats, delivered, sink_files, layers = read_outputs(model, work)
        slack = check.FILE_SINK_SLACK_NS if args.workload == "spool_gzip" else 0
        violations, failed, delivered_at = check.check(model, delivered, acks, slack)
        metrics, samples = e2e_metrics(model, t_launch, t_warm, acks, batches, stats, delivered_at)
        late = [(t.avail_ns - t.due_ns) / 1e6 for t in paced]
        summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "samples": samples, "violations": violations,
                   "failed_txns": [model.txns[i].phase for i in sorted(failed)],
                   "generator_late_ms_p50": statistics.median(late),
                   "generator_late_ms_max": max(late), "build_s": build_s,
                   "startup_s": {k: (v - t_launch) / 1e9 for k, v in jvm.seen.items()
                                 if k != "progress"},
                   "metrics": metrics}
        if args.trace:
            lm = layer_metrics(model, t0, t_paced_end, gen_log, acks, batches, stats, delivered,
                               sink_files, layers)
            selftest = check.self_test(model, delivered, acks, slack)
            if not all(selftest.values()):
                violations.append("self-test: mutations not detected: %s"
                                  % [k for k, v in selftest.items() if not v])
            untraced = None
            ref = os.path.join(OUT_DIR, "%s.e2e.json" % args.workload)
            if os.path.exists(ref):
                with open(ref) as f:
                    untraced = json.load(f)["metrics"]
            overhead = {k: (metrics[k] / untraced[k] - 1.0)
                        for k in ("records_per_s", "delivery_latency_p50_ms", "ack_latency_p50_ms",
                                  "cpu_s_per_1m_records")
                        if untraced and untraced.get(k) and metrics.get(k) is not None}
            table = {
                "workload": args.workload, "seed": args.seed,
                "layers": {k: {"value": v, "unit": LAYER_UNITS[k], "should_move": LAYER_MAP[k][0],
                               "on": LAYER_MAP[k][1]} for k, v in lm.items()},
                "prefix_plans_ms": layers["probe"]["prefixMs"],
                "probe_counts": {k: layers["probe"][k] for k in
                                 ("lines", "dataRows", "passRows", "records", "admissionLines")},
                "traced_end_to_end": metrics,
                "untraced_end_to_end": untraced,
                "tracing_overhead": overhead,
                "selftest": selftest,
                "spans": layers["spans"] + spans,
            }
            with open(os.path.join(OUT_DIR, "%s.layers.json" % args.workload), "w") as f:
                json.dump(table, f, indent=1)
            summary["selftest"] = selftest
            summary["tracing_overhead"] = overhead
            out_metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in lm.items()}
        else:
            with open(os.path.join(OUT_DIR, "%s.e2e.json" % args.workload), "w") as f:
                json.dump(summary, f, indent=1)
            out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        print(json.dumps(summary, sort_keys=True))
        print(json.dumps({"correct": not violations, "attempted": len(model.txns),
                          "failed": len(failed), "metrics": out_metrics}))
    except Stop:
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):  # the pipeline's own account of the failure
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        raise
    finally:
        if jvm is not None:
            jvm.stop()
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 4),
                   help="Spark task threads, local[N] (default: min(4, nproc))")
    args = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not next to %s" % HERE, 2)

    def on_signal(signum, _frame):
        raise Stop("signal %d" % signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        run(args)
    except Stop as e:
        fail(str(e))


if __name__ == "__main__":
    main()
