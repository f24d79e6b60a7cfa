"""Workload generator and expected-output model for the CDC benchmark.

Every change is built as structured values (table, operation, typed
column values). Two things are derived from those values independently:

* the ``test_decoding`` line the pipeline reads, and
* the record the pipeline must deliver, following the reference
  marshaller's merge rules (pg-bifrost marshaller/marshaller.go).

The expected record is never obtained by parsing the rendered line.
"""

import json
import random

TOAST = object()  # an unchanged TOASTed value: rendered as the sentinel

# test_decoding prints these types unquoted; everything else is quoted
# with '' escapes (contrib/test_decoding print_literal)
UNQUOTED = {"integer", "bigint", "smallint", "numeric", "double precision", "boolean"}

WIDE_TYPES = ["integer", "bigint", "smallint", "numeric", "double precision", "boolean",
              "text", "character varying", "timestamp with time zone", "date", "uuid", "jsonb"]

TEXT_ALPHABET = ("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
                 "      ''\"\\,.:;[]{}()-_=+!?/éüñ中文")

FANOUT_TABLES = ["public.t%02d" % i for i in range(20)]
FANOUT_WHITELIST = ["public.t03", "public.t07", "public.t11", "public.t16"]
FANOUT_PARTITION_COUNT = 16

SEGMENT_LINES = 10000
COOLDOWN_S = 2


class Change:
    __slots__ = ("table", "op", "cols", "old")

    def __init__(self, table, op, cols, old=None):
        self.table = table
        self.op = op
        self.cols = cols  # [(name, type, value)] value: str | None | TOAST
        self.old = old    # [(name, type, value)] or None

    def render(self):
        def one(name, typ, v):
            if v is None:
                lit = "null"
            elif v is TOAST:
                lit = "unchanged-toast-datum"
            elif typ in UNQUOTED:
                lit = v
            else:
                lit = "'" + v.replace("'", "''") + "'"
            return "%s[%s]:%s" % (name, typ, lit)
        body = " ".join(one(*c) for c in self.cols)
        if self.old is not None:
            body = "old-key: %s new-tuple: %s" % (" ".join(one(*c) for c in self.old), body)
        return "table %s: %s: %s" % (self.table, self.op, body)

    def expected(self):
        """The delivered record minus lsn/time/time_ms/txn."""
        def cv(typ, v):
            if v is None:
                return {"v": "null", "t": typ, "q": "false"}
            if v is TOAST:
                return {"v": "unchanged-toast-datum", "t": typ, "q": "false"}
            return {"v": v, "t": typ, "q": "false" if typ in UNQUOTED else "true"}

        def vstr(v):
            return "null" if v is None else ("unchanged-toast-datum" if v is TOAST else v)

        old = {n: (t, v) for n, t, v in (self.old or [])}
        columns = {}
        for name, typ, v in self.cols:
            if self.op == "DELETE":
                columns[name] = {"old": cv(typ, v)}
                continue
            o = old.get(name)
            changed = o is not None and vstr(o[1]) != vstr(v)
            if changed and v is TOAST:
                columns[name] = {"new": cv(*o), "old": cv(*o)}
            elif changed:
                columns[name] = {"new": cv(typ, v), "old": cv(*o)}
            elif o is None and self.op == "UPDATE" and v is not None:
                columns[name] = {"new": cv(typ, v), "old": {"v": "null", "t": typ, "q": "false"}}
            else:
                columns[name] = {"new": cv(typ, v)}
        return {"table": self.table, "operation": self.op, "columns": columns}


class Txn:
    __slots__ = ("xid", "changes", "first_line", "phase", "due_ns", "avail_ns")

    def __init__(self, xid, changes, phase):
        self.xid = xid
        self.changes = changes
        self.phase = phase  # warmup | backlog | paced | cooldown | final
        self.first_line = -1
        self.due_ns = None
        self.avail_ns = None

    def lines(self):
        return (["BEGIN %d" % self.xid] + [c.render() for c in self.changes]
                + ["COMMIT %d" % self.xid])

    @property
    def n_lines(self):
        return len(self.changes) + 2

    @property
    def commit_line(self):
        """1-based global number of the COMMIT line: acked once ack >= it."""
        return self.first_line + self.n_lines


def canon(rec):
    return json.dumps(rec, sort_keys=True, ensure_ascii=False, separators=(",", ":"))


class Workload:
    """A fully generated run: backlog, paced and final transactions."""

    def __init__(self, name, seed, seconds):
        self.name = name
        self.rng = random.Random("%s:%d" % (name, seed))
        self.xid = 1000 + self.rng.randrange(1 << 20)
        # text values are random slices of one random pool (fast to cut)
        self.pool = "".join(self.rng.choices(TEXT_ALPHABET, k=1 << 18))
        self.txns = []
        if name == "spool_gzip":
            self._wide_schemas()
            self.rate = 40.0
            # the warm-up fills one admission range (just under 10 000
            # lines), so JIT and codegen are done before the drain
            warmup = [self._wide_txn(n) for n in self._sizes(360)]
            backlog = [self._wide_txn(n) for n in self._sizes(1400)]
            for pos in (280, 560, 840, 1120):
                backlog.insert(pos, self._wide_txn(2500))
            self.whitelist = None
            sizes = iter(self._sizes(int(round(self.rate * (seconds + COOLDOWN_S)))))
            make_paced = lambda: self._wide_txn(next(sizes))
            final = self._wide_txn(1, table="public.wide_0")
        elif name == "filtered_fanout":
            self.rate = 500.0
            warmup = [self._narrow_txn() for _ in range(3300)]
            backlog = [self._narrow_txn() for _ in range(20000)]
            self.whitelist = set(FANOUT_WHITELIST)
            make_paced = self._narrow_txn
            final = self._narrow_txn(table=FANOUT_WHITELIST[0], op="INSERT")
        else:
            raise ValueError("unknown workload " + name)
        for t in warmup:
            t.phase = "warmup"
        self._append(warmup)
        self.warmup_lines = self._next_line
        for t in backlog:
            t.phase = "backlog"
        self._append(backlog)
        self.backlog_lines = self._next_line
        # paced: `seconds` measured, then 2 s of cool-down at the same
        # rate so the last measured transactions are acked by a batch
        # that still has data behind it
        self.paced_seconds = seconds
        self.cooldown_seconds = COOLDOWN_S
        n_paced = int(round(self.rate * seconds))
        n_cool = int(round(self.rate * self.cooldown_seconds))
        paced = []
        for i in range(n_paced + n_cool):
            t = make_paced()
            t.phase = "paced" if i < n_paced else "cooldown"
            paced.append(t)
        self._append(paced)
        final.phase = "final"
        self._append([final])
        self.total_lines = self._next_line

    _next_line = 0

    def _append(self, txns):
        for t in txns:
            t.first_line = self._next_line
            self._next_line += t.n_lines
            self.txns.append(t)

    def _new_xid(self):
        self.xid += 1 + (self.rng.random() < 0.1)
        return self.xid

    # ---- spool_gzip: wide rows -------------------------------------
    def _wide_schemas(self):
        self.schemas = {}
        # the same six schemas for every seed: 8 to 20 columns
        for i, n in enumerate((8, 10, 12, 15, 18, 20)):
            cols = [("id", "bigint")]
            for j in range(1, n):
                cols.append(("c%02d_%s" % (j, WIDE_TYPES[(i + j) % len(WIDE_TYPES)].split()[0]),
                             WIDE_TYPES[(i + j) % len(WIDE_TYPES)]))
            self.schemas["public.wide_%d" % i] = cols

    def _text(self, long_ok=True):
        r = self.rng
        n = r.randint(400, 2000) if long_ok and r.random() < 0.08 else r.randint(0, 60)
        o = r.randrange(len(self.pool) - n)
        return self.pool[o:o + n]

    def _value(self, typ):
        r = self.rng
        b = r.getrandbits
        if typ == "integer":
            return str(b(32) - 2**31)
        if typ == "bigint":
            return str(b(64) - 2**63)
        if typ == "smallint":
            return str(b(16) - 2**15)
        if typ == "numeric":
            return "%d.%04d" % (b(21) - 2**20, b(13) % 10000)
        if typ == "double precision":
            return "%.6f" % ((r.random() - 0.5) * 2e6)
        if typ == "boolean":
            return "true" if b(1) else "false"
        if typ == "text":
            return self._text()
        if typ == "character varying":
            return self._text(long_ok=False)
        if typ == "timestamp with time zone":
            return "20%02d-%02d-%02d %02d:%02d:%02d.%06d+00" % (
                b(5) % 31, 1 + b(4) % 12, 1 + b(5) % 28,
                b(5) % 24, b(6) % 60, b(6) % 60, b(20) % 1000000)
        if typ == "date":
            return "20%02d-%02d-%02d" % (b(5) % 31, 1 + b(4) % 12, 1 + b(5) % 28)
        if typ == "uuid":
            return "%08x-%04x-%04x-%04x-%012x" % (b(32), b(16), b(16), b(16), b(48))
        if typ == "jsonb":
            return json.dumps({"k": b(7), "s": self._text(long_ok=False)}, ensure_ascii=False)
        raise ValueError(typ)

    def _row(self, schema):
        out = []
        for name, typ in schema:
            v = None if name != "id" and self.rng.random() < 0.05 else self._value(typ)
            out.append((name, typ, v))
        return out

    def _wide_change(self, table):
        r = self.rng
        schema = self.schemas[table]
        op = r.choices(("INSERT", "UPDATE", "DELETE"), (6, 3, 1))[0]
        row = self._row(schema)
        if op == "INSERT":
            return Change(table, op, row)
        if op == "DELETE":
            return Change(table, op, row)  # REPLICA IDENTITY FULL: whole old row
        # UPDATE under REPLICA IDENTITY FULL: old-key carries the full
        # old row; some columns change, unchanged TOASTed text shows the
        # sentinel in the new tuple
        new = []
        for name, typ, v in row:
            x = r.random()
            if name == "id" or x < 0.5:
                new.append((name, typ, v))
            elif typ == "text" and v is not None and x < 0.7:
                new.append((name, typ, TOAST))
            else:
                new.append((name, typ, None if r.random() < 0.05 else self._value(typ)))
        return Change(table, op, new, old=row)

    def _sizes(self, n):
        """n transaction sizes from 1 to 50 rows: whole shuffled blocks of
        1..50, so every seed offers the same row count."""
        out = []
        while len(out) < n:
            block = list(range(1, 51))
            self.rng.shuffle(block)
            out.extend(block)
        return out[:n]

    def _wide_txn(self, rows, table=None):
        tables = sorted(self.schemas)
        ch = [self._wide_change(table or self.rng.choice(tables)) for _ in range(rows)]
        return Txn(self._new_xid(), ch, "")

    # ---- filtered_fanout: narrow single-row transactions -----------
    def _narrow_txn(self, table=None, op=None):
        r = self.rng
        table = table or r.choice(FANOUT_TABLES)
        op = op or r.choices(("INSERT", "UPDATE", "DELETE"), (7, 2, 1))[0]
        row = [("id", "integer", str(r.randint(1, 10**6))),
               ("val", "text", self._text(long_ok=False)[:24]),
               ("n", "bigint", str(r.randint(-2**40, 2**40))),
               ("flag", "boolean", r.choice(("true", "false")))]
        if op == "UPDATE":
            new = [row[0], ("val", "text", "v%d" % r.randint(0, 999)), row[2],
                   ("flag", "boolean", r.choice(("true", "false")))]
            return Txn(self._new_xid(), [Change(table, op, new, old=row)], "")
        return Txn(self._new_xid(), [Change(table, op, row)], "")

    def replicate_args(self, spool, work):
        """The workload's `replicate` command line, as a user would type it."""
        if self.name == "spool_gzip":
            return ["replicate", "s3", "--spool-dir", spool,
                    "--out-path", work + "/sink", "--checkpoint", work + "/checkpoint",
                    "--partition-method", "tablename", "--workers", "1"]
        return (["replicate", "kinesis", "--spool-dir", spool,
                 "--checkpoint", work + "/checkpoint", "--kinesis-stream", "cdcbench",
                 "--partition-method", "transaction-bucket",
                 "--partition-count", str(FANOUT_PARTITION_COUNT),
                 "--workers", "4", "--batcher-routing-method", "partition"]
                + [x for t in FANOUT_WHITELIST for x in ("--whitelist", t)])

    # ---- model queries ---------------------------------------------
    def kept(self, change):
        return self.whitelist is None or change.table in self.whitelist

    def segments(self, phase):
        """One phase's text cut into receiver-style fixed-size segments:
        [(start_line, text)]."""
        txns = [t for t in self.txns if t.phase == phase]
        lines = []
        for t in txns:
            lines.extend(t.lines())
        start = txns[0].first_line if txns else 0
        return [(start + i, "\n".join(lines[i:i + SEGMENT_LINES]) + "\n")
                for i in range(0, len(lines), SEGMENT_LINES)]
