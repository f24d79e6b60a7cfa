"""Output checker for the CDC benchmark.

Compares what the pipeline delivered against the generator's model
(gen.Workload) and checks the delivery properties. Delivered records
are compared as a multiset after dropping ``lsn``, ``time``,
``time_ms`` and ``txn``, the rule of the reference's integration tests
(itests/common.bash).

``check`` returns (violations, failed_txn_indices, delivery time by
line). A violation makes the run incorrect; a failed transaction is one
whose records are missing or wrong, or whose COMMIT was never acked.
"""

import collections
import json
import zlib

from gen import FANOUT_PARTITION_COUNT, canon

STRIP = ("lsn", "time", "time_ms", "txn")

# Delivery time of a file-sink record is its batch's end as the engine
# reports it (millisecond timestamp plus millisecond duration), so it
# can read up to this much late against a nanosecond ack time.
FILE_SINK_SLACK_NS = 3_000_000


class Delivered:
    """One delivered record: when, by which worker, under which key."""
    __slots__ = ("t", "worker", "key", "raw", "_parsed")

    def __init__(self, t, worker, key, raw):
        self.t = t
        self.worker = worker
        self.key = key
        self.raw = raw
        self._parsed = None

    def parsed(self):
        """(line, txn, canonical record without STRIP fields), or None
        when the record is not JSON with an lsn. Parsed once."""
        if self._parsed is None:
            try:
                rec = json.loads(self.raw)
                self._parsed = (lsn_to_line(rec["lsn"]), rec.get("txn"),
                                canon({k: v for k, v in rec.items() if k not in STRIP}))
            except (ValueError, KeyError, AttributeError):
                self._parsed = False
        return self._parsed or None


def lsn_to_line(lsn):
    hi, lo = lsn.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def expected_records(model):
    """1-based line number -> (txn index, canonical record), and the
    number of filtered rows. Computed once per model."""
    if getattr(model, "_expected", None) is None:
        expected = {}
        n_filtered = 0
        for ti, t in enumerate(model.txns):
            for ci, c in enumerate(t.changes):
                if model.kept(c):
                    expected[t.first_line + 2 + ci] = (ti, canon(c.expected()))
                else:
                    n_filtered += 1
        model._expected = (expected, n_filtered)
    return model._expected


def check(model, delivered, acks, slack_ns=0):
    """model: gen.Workload; delivered: [Delivered]; acks: [(t_ns, line)]."""
    violations = []
    txns = model.txns
    expected, n_filtered = expected_records(model)
    n_begin_commit = 2 * len(txns)
    total_lines = model.total_lines

    failed = set()
    seen_lines = collections.Counter()
    got = collections.Counter()
    delivered_at = {}  # line -> latest delivery time
    key_workers = collections.defaultdict(set)
    bad_txn = bad_bucket = bad_lsn = 0
    for d in delivered:
        p = d.parsed()
        if p is None:
            bad_lsn += 1
            continue
        line, txn, stripped = p
        got[stripped] += 1
        seen_lines[line] += 1
        exp = expected.get(line)
        if exp is None:
            bad_lsn += 1
            continue
        ti, want = exp
        t = txns[ti]
        if stripped != want:
            failed.add(ti)
        if txn != "%d-0" % t.xid:
            bad_txn += 1
        if model.name == "filtered_fanout":
            if d.key != str(zlib.crc32(str(t.xid).encode()) % FANOUT_PARTITION_COUNT):
                bad_bucket += 1
            key_workers[d.key].add(d.worker)
        delivered_at[line] = max(delivered_at.get(line, 0), d.t)

    want_ms = collections.Counter(rec for _, rec in expected.values())
    missing = want_ms - got
    extra = got - want_ms
    if missing:
        violations.append("multiset: %d expected records not delivered" % sum(missing.values()))
    if extra:
        violations.append("multiset: %d delivered records not expected" % sum(extra.values()))
    dups = sum(n - 1 for n in seen_lines.values() if n > 1)
    if dups:
        violations.append("duplicate delivery: %d records delivered more than once" % dups)
    if bad_lsn:
        violations.append("lsn: %d records carry an lsn outside the kept records" % bad_lsn)
    if bad_txn:
        violations.append("txn: %d records carry another transaction's txn" % bad_txn)
    if bad_bucket:
        violations.append("partition key: %d keys differ from crc32(txn) %% %d"
                          % (bad_bucket, FANOUT_PARTITION_COUNT))
    split = sum(1 for w in key_workers.values() if len(w) > 1)
    if split:
        violations.append("routing: %d partition keys reached more than one worker" % split)
    n_delivered = sum(1 for line in seen_lines if line in expected)
    if total_lines != n_begin_commit + n_filtered + n_delivered:
        violations.append("accounting: lines in %d != BEGIN+COMMIT %d + filtered %d + delivered %d"
                          % (total_lines, n_begin_commit, n_filtered, n_delivered))
    for line, (ti, _) in expected.items():
        if line not in seen_lines:
            failed.add(ti)

    # acks: monotone, and never past the delivered frontier
    prev = -1
    order = sorted(expected)
    for t_ack, lsn in acks:
        if lsn < prev:
            violations.append("ack order: ack %d after ack %d" % (lsn, prev))
            break
        prev = lsn
    else:
        pending = [(line, delivered_at.get(line)) for line in order]
        i = 0
        for t_ack, lsn in sorted(acks, key=lambda a: a[0]):
            while i < len(pending) and pending[i][0] <= lsn:
                line, when = pending[i]
                if when is None or when > t_ack + slack_ns:
                    violations.append("ack frontier: ack %d covers line %d before it was delivered"
                                      % (lsn, line))
                    break
                i += 1
            else:
                continue
            break
    max_ack = max((lsn for _, lsn in acks), default=0)
    for ti, t in enumerate(txns):
        if t.commit_line > max_ack:
            failed.add(ti)
    return violations, failed, delivered_at


def self_test(model, delivered, acks, slack_ns=0):
    """Mutate a copy of a run's output and require the checker to flag
    each mutation. Returns {mutation: detected}."""
    results = {}
    kept = [d for d in delivered if d.parsed()]

    def flagged(dl, ak):
        return bool(check(model, dl, ak, slack_ns)[0])

    if kept:
        victim = kept[len(kept) // 2]
        results["dropped_record"] = flagged([d for d in delivered if d is not victim], acks)
        results["duplicated_record"] = flagged(delivered + [victim], acks)
        rec = json.loads(victim.raw)
        col = sorted(rec["columns"])[0]
        side = "new" if "new" in rec["columns"][col] else "old"
        rec["columns"][col][side]["v"] += "x"
        changed = Delivered(victim.t, victim.worker, victim.key, json.dumps(rec))
        results["changed_value"] = flagged(
            [changed if d is victim else d for d in delivered], acks)
        rec = json.loads(victim.raw)
        rec["txn"] = "0-0"
        results["foreign_txn"] = flagged(
            [Delivered(d.t, d.worker, d.key, json.dumps(rec)) if d is victim else d
             for d in delivered], acks)
        if model.name == "filtered_fanout":
            moved = Delivered(victim.t, victim.worker + 1, victim.key, victim.raw)
            twin = next((d for d in delivered if d.key == victim.key and d is not victim), None)
            if twin is not None:
                results["split_key"] = flagged([moved if d is victim else d for d in delivered], acks)
            results["wrong_bucket"] = flagged(
                [Delivered(d.t, d.worker, "x", d.raw) if d is victim else d for d in delivered],
                acks)
    if len(acks) >= 2:
        swapped = list(acks)
        i = len(swapped) // 2
        (t_a, a), (t_b, b) = swapped[i - 1], swapped[i]
        if a == b:
            swapped[i] = (t_b, a - 1)
        else:
            swapped[i - 1], swapped[i] = (t_a, b), (t_b, a)
        results["out_of_order_ack"] = flagged(delivered, swapped)
        early = [(t - 10**12, lsn) if k == len(acks) // 2 else (t, lsn)
                 for k, (t, lsn) in enumerate(acks)]
        results["ack_before_delivery"] = flagged(delivered, early)
    return results
