"""Deterministic CDC input generator for the benchmark.

Everything here is a pure function of the seed. `CdcLog` writes CDC wire
records (ChangeIngest's JSON line format) for two routed tables, `orders`
and `customer`, plus an unrouted `lineitem` table and a few malformed
lines. Keys are Zipf-skewed; the log carries deletes, redelivered
duplicates and out-of-order sequences. Sequence timestamps come from a
logical clock, so the final table contents repeat exactly. The generator
keeps the expected state (latest row per key under `(ts, event_id)`,
deletes applied) and the unrouted and malformed counts.

The batch workload generates nothing: it reads graft's sf0.01 tables,
copied under `data/sf0.01`.
"""
import heapq
import os
import time

import numpy as np

BASE_TS = 1704067200  # 2024-01-01 00:00:00 UTC, the logical clock's origin
UPDATE_TYPES = ("click", "view", "purchase", "signup")
DELETE_TYPE = "error"  # graft.streaming.CdcStream.applied: "error" is a delete
LOG_EVENT_ID0 = 10_000_000


def fmt_ts(sec):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))


def wire(table, event_id, ts, key, etype, value):
    return ('{"table":"%s","event_id":%d,"ts":"%s","user_id":%d,'
            '"event_type":"%s","value":%r}'
            % (table, event_id, fmt_ts(ts), key, etype, value))


class CdcLog:
    """Seeded CDC change log with its expected-state oracle.

    `keys` maps each routed table to its key count. Records are drawn with
    `next_lines(n)`; the oracle (`state`, `unrouted`, `malformed`) covers
    the seed snapshot plus every line handed out so far.
    """

    def __init__(self, seed, keys, delete_p=0.02, dup_p=0.02, late_p=0.03,
                 unrouted_p=0.10, malformed_p=0.001, zipf_a=1.2):
        self.rng = np.random.default_rng(seed)
        self.keys = dict(keys)
        self.p = dict(delete=delete_p, dup=dup_p, late=late_p,
                      unrouted=unrouted_p, malformed=malformed_p)
        self.zipf_a = zipf_a
        self.clock = 0
        self.next_id = LOG_EVENT_ID0
        self.pending = []  # heap of (due index, index, line, record) redeliveries
        self.bi = 8192  # forces a first _draw()
        self.emitted = 0
        self.unrouted = 0
        self.malformed = 0
        self.records = 0
        # table -> key -> (ts, event_id, value, deleted)
        self.state = {t: {} for t in self.keys}
        total = sum(self.keys.values())
        self.tables = sorted(self.keys)
        self.table_p = [self.keys[t] / total for t in self.tables]

    def seed_lines(self, table):
        """The table's initial snapshot: one insert per key, before the log."""
        n = self.keys[table]
        vals = np.round(self.rng.uniform(1.0, 500.0, n), 2)
        st = self.state[table]
        ts = BASE_TS - 86400
        out = []
        for k in range(n):
            v = float(vals[k])
            st[k] = (ts, k, v, False)
            out.append(wire(table, k, ts, k, "signup", v))
        return out

    def _apply(self, table, eid, ts, key, deleted, value):
        st = self.state[table]
        cur = st.get(key)
        if cur is None or (ts, eid) > (cur[0], cur[1]):
            st[key] = (ts, eid, value, deleted)

    def _draw(self):
        """Refills the block of random draws the next records consume."""
        r, n = self.rng, 8192
        ntab = np.searchsorted(np.cumsum(self.table_p), r.random(n), side="right")
        self.buf = dict(
            u=r.random(n), late=r.random(n), late_by=r.integers(1, 3600, n),
            value=np.round(r.uniform(0.01, 500.0, n), 2),
            table=np.minimum(ntab, len(self.tables) - 1),
            rank=r.zipf(self.zipf_a, n) - 1, delete=r.random(n),
            etype=r.integers(0, len(UPDATE_TYPES), n), dup=r.random(n),
            dup_in=r.integers(1, 4000, n), far_key=r.integers(0, 600_000, n),
            bad=r.integers(0, 3, n))
        self.bi = 0

    def _fresh(self):
        if self.bi >= 8192:
            self._draw()
        b, i = self.buf, self.bi
        self.bi += 1
        u = b["u"][i]
        eid = self.next_id
        self.next_id += 1
        if u < self.p["malformed"]:
            kind = b["bad"][i]
            if kind == 0:
                line = '{"table":"orders","event_id":%d,"ts":"2024-01-0' % eid
            elif kind == 1:
                line = ('{"table":"orders","event_id":"x%d","ts":"%s","user_id":1,'
                        '"event_type":"view","value":1.0}' % (eid, fmt_ts(BASE_TS)))
            else:
                line = "not a change record %d" % eid
            return line, ("malformed",), False
        self.clock += 1
        ts = BASE_TS + self.clock
        if b["late"][i] < self.p["late"]:
            ts -= int(b["late_by"][i])
        value = float(b["value"][i])
        dup = b["dup"][i] < self.p["dup"]
        if u < self.p["malformed"] + self.p["unrouted"]:
            key = int(b["far_key"][i])
            return (wire("lineitem", eid, ts, key, "view", value), ("unrouted",), dup)
        table = self.tables[b["table"][i]]
        # scatter hot ranks over the key space (and so over partitions)
        key = (int(b["rank"][i]) * 2654435761 + 12345) % self.keys[table]
        deleted = bool(b["delete"][i] < self.p["delete"])
        etype = DELETE_TYPE if deleted else UPDATE_TYPES[b["etype"][i]]
        return (wire(table, eid, ts, key, etype, value),
                ("routed", table, eid, ts, key, deleted, value), dup)

    def _account(self, rec):
        if rec[0] == "malformed":
            self.malformed += 1
        elif rec[0] == "unrouted":
            self.unrouted += 1
        else:
            self._apply(*rec[1:])
        self.records += 1

    def next_lines(self, n):
        """The next `n` lines of the log, redeliveries included."""
        out = []
        for _ in range(n):
            idx = self.emitted
            if self.pending and self.pending[0][0] <= idx:
                _, _, line, rec = heapq.heappop(self.pending)
            else:
                line, rec, dup = self._fresh()
                if dup:  # redeliver the same record later in the log
                    due = idx + int(self.buf["dup_in"][self.bi - 1])
                    heapq.heappush(self.pending, (due, idx, line, rec))
            self._account(rec)
            out.append(line)
            self.emitted += 1
        return out

    def expected(self, table):
        """Live rows of `table`: {key: (event_id, ts seconds, value)}."""
        return {k: (e, ts, v) for k, (ts, e, v, d) in self.state[table].items()
                if not d}


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return os.path.getsize(path)

