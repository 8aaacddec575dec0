"""Seeded input generators for the CDC drain benchmark.

Two feeds, both written as parquet segments (one file = one binlog segment =
one micro-batch, since the pipeline reads one file per trigger):

* replay feeds in ``CdcPipeline.replaySchema`` (the events table shape the
  replay path maps to binlog events), and
* Debezium wire feeds in ``CdcPipeline.wireSchema`` (Kafka-shaped frames: one
  schema-change topic named after the cluster plus one data topic per table).

Alongside the inputs the generator records what the program must output
(``expect_*.parquet``): for the wire feed that is every data row with the
schema version and column set active at its position, derived here while the
feed is built. For replay feeds the expectation is derived later, in DuckDB,
from the input segments themselves (see checks.py).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLAY_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
    ("props", pa.string()), ("ts_us", pa.int64())])

WIRE_SCHEMA = pa.schema([
    ("topic", pa.string()), ("key", pa.binary()), ("value", pa.binary()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])))])

EXPECT_SCHEMA = pa.schema([
    ("log_file", pa.string()), ("log_pos", pa.int64()), ("row_idx", pa.int32()),
    ("topic", pa.string()), ("schema_version", pa.int64()), ("cols", pa.string())])

CLUSTER = "benchcluster"
WIRE_DB = "appdb"
GHOST_TABLE = "ghost_orders"  # rows arrive, but no CREATE is ever sent
BASE_TS_US = 1_700_000_000_000_000

# Replay inputs follow events.parquet of the reference data set (sf0.1,
# 100,000 events), measured with DuckDB (see README.md): the five event types
# in the counts below (~20 % each); k of props uniform over 0..99; user_id
# uniform over 0..1499; value exponential with mean ~50. The replay maps
# 'error' events with k not 4 mod 5 to DDL statements (15.9 % of all events),
# 'view' events to heartbeats, and every data row with k = 0 mod 10 to a
# refresh row. The "data" mix keeps only the data event types, in the same
# proportions.
REFERENCE_COUNTS = {"signup": 20302, "purchase": 20084, "view": 19941, "click": 19863,
                    "error": 19810}
REFERENCE_K = 100
REFERENCE_USERS = 1500
REFERENCE_MEAN_VALUE = 50.0


def _mix(types):
    n = sum(REFERENCE_COUNTS[t] for t in types)
    return types, [REFERENCE_COUNTS[t] / n for t in types]


REPLAY_MIXES = {
    "data": _mix(["signup", "purchase", "click"]),
    "reference": _mix(["signup", "purchase", "view", "click", "error"]),
}

# Per-workload input shape. Segment groups: `warm` (one segment for the
# untimed warm-up, in directories of its own; small, since it is there to
# compile code, not to measure), `backlog` (the timed drain), `pool` (one
# segment per restart cycle; every run uses all of them). A wire backlog is
# a list of batch kinds: "create" opens with a CREATE per table, "alter"
# carries a migration, "plain" carries rows only.
WORKLOADS = {
    "replay_trickle_ddl": dict(kind="replay", mix="reference", seg_events=1_000,
                               warm_events=1_000, pool_events=1_000, backlog=6, cycles=5),
    "wire_wide_ddl": dict(kind="wire", tables=16, seg_rows=300, warm_tables=2, warm_rows=100,
                          backlog=("create", "plain", "alter", "plain", "plain"), cycles=5),
}

# Planted per wire segment: Debezium delete tombstones (null value, dropped
# by contract), records that do not parse (quarantined as __unparsed), and
# rows for a table no CREATE ever named (quarantined as __unregistered).
WIRE_TOMBSTONES = 4
WIRE_MALFORMED = 3
WIRE_GHOST_ROWS = 5


def replay_segment(rng, first_id, n, mix):
    """n consecutive events starting at event id `first_id`."""
    types, probs = REPLAY_MIXES[mix]
    eid = np.arange(first_id, first_id + n, dtype=np.int64)
    k = rng.integers(0, REFERENCE_K, n)
    return pa.table({
        "event_id": eid,
        "user_id": rng.integers(0, REFERENCE_USERS, n, dtype=np.int64),
        "event_type": np.array(types)[rng.choice(len(types), n, p=probs)],
        "value": np.round(rng.exponential(REFERENCE_MEAN_VALUE, n), 2),
        "props": ['{"k": %d}' % x for x in k],
        "ts_us": BASE_TS_US + eid * 1000,
    }, schema=REPLAY_SCHEMA)


def replay_ddl_statements(seg):
    """(database, statement, event_id) for each event of `seg` the replay
    maps to a DDL statement: an 'error' event whose k is not 4 mod 5. The
    statement text follows the replay's k mod 8 statement classes."""
    out = []
    for eid, uid, et, props in zip(seg["event_id"].to_pylist(), seg["user_id"].to_pylist(),
                                   seg["event_type"].to_pylist(), seg["props"].to_pylist()):
        k = json.loads(props)["k"]
        if et != "error" or k % 5 == 4:
            continue
        db = "mysql" if uid % 17 == 0 else "test" if uid % 17 == 1 else "db%d" % (uid % 3)
        t = "t%d" % (uid % 5)
        stmt = [
            "CREATE TABLE `%s`.`%s` (id INT PRIMARY KEY, name VARCHAR(64))" % (db, t),
            "ALTER TABLE %s ADD location VARCHAR(128) DEFAULT NULL" % t,
            "ALTER TABLE `%s` RENAME TO `%s_v2`" % (t, t),
            "RENAME TABLE `%s` TO `%s_new`" % (t, t),
            'DROP TABLE IF EXISTS "%s"' % t,
            "CREATE DATABASE IF NOT EXISTS %s" % db,
            "BEGIN",
            "INSERT INTO %s VALUES (1)" % t,
        ][k % 8]
        out.append((db, stmt, eid))
    return out


class WireFeed:
    """A Debezium feed over `n_tables` tables of one database. Tracks each
    table's active columns and ALTER count so every emitted data row carries
    its expected schema version and column set."""

    def __init__(self, rng, n_tables, seg_rows):
        self.rng = rng
        self.tables = ["w%02d" % i for i in range(n_tables)]
        self.seg_rows = seg_rows
        self.cols = {t: ["id", "v", "s", "k"] for t in self.tables}
        self.versions = {t: 1 for t in self.tables}
        self.migrations = 0
        self.next_id = 1
        self.file_seq = 0
        self.ddl = []  # (cluster, database, statement, packed position)
        self.last_pos = None

    def _source(self, table, file, pos):
        return {"version": "2.6", "connector": "mysql", "name": CLUSTER,
                "ts_ms": 1_700_000_000_000 + pos, "db": WIRE_DB, "table": table,
                "server_id": 1, "gtid": None, "file": file, "pos": pos, "row": 0}

    def _schema_change(self, file, pos, table, ddl, typ):
        self.ddl.append((CLUSTER, WIRE_DB, ddl, (self.file_seq << 40) + pos))
        self.last_pos = (file, pos)
        return (CLUSTER, json.dumps({"payload": {
            "source": self._source(table, file, pos), "ts_ms": 1_700_000_000_000 + pos,
            "databaseName": WIRE_DB, "schemaName": None, "ddl": ddl,
            "tableChanges": [{"type": typ, "id": '"%s"."%s"' % (WIRE_DB, table)}]}}))

    def _image(self, table):
        img = {"id": str(self.next_id), "v": "%.2f" % (self.rng.random() * 1000),
               "s": "s%d" % self.rng.integers(0, 10 ** 6), "k": str(self.rng.integers(0, 1000))}
        self.next_id += 1
        for c in self.cols.get(table, [])[4:]:
            img[c] = str(self.rng.integers(0, 10 ** 9))
        return img

    def _data(self, table, file, pos):
        op = "cud"[self.rng.choice(3, p=[0.6, 0.3, 0.1])]
        img = self._image(table)
        before = None if op == "c" else img if op == "d" else dict(img, k="0")
        after = None if op == "d" else img
        self.last_pos = (file, pos)
        return ("%s.%s.%s" % (CLUSTER, WIRE_DB, table), json.dumps({"payload": {
            "before": before, "after": after, "source": self._source(table, file, pos),
            "op": op, "ts_ms": 1_700_000_000_000 + pos}}))

    def segment(self, create=False, alter=False):
        """One segment in its own binlog file: with `create`, a CREATE per
        table ahead of the rows; with `alter`, a migration halfway through
        the rows that adds one column to every other table (one ALTER each,
        at consecutive positions; successive migrations alternate between
        the two halves, so every table is altered every second migration).
        Returns (frames, expected rows, number of DDL statements)."""
        self.file_seq += 1
        file = "mysql-bin.%06d" % self.file_seq
        pos = 4
        frames, expect, n_ddl = [], [], 0
        if create:
            for t in self.tables:
                frames.append(self._schema_change(
                    file, pos, t, "CREATE TABLE `%s` (id BIGINT NOT NULL, v DOUBLE, "
                    "s VARCHAR(32), k INT, PRIMARY KEY (id))" % t, "CREATE"))
                pos += 100
                n_ddl += 1
        ghost_at = set(self.rng.choice(self.seg_rows, WIRE_GHOST_ROWS, replace=False).tolist())
        for i in range(self.seg_rows):
            if alter and i == self.seg_rows // 2:
                self.migrations += 1
                for t in self.tables[self.migrations % 2::2]:
                    col = "c%d" % self.versions[t]
                    frames.append(self._schema_change(
                        file, pos, t, "ALTER TABLE `%s` ADD %s BIGINT" % (t, col), "ALTER"))
                    self.cols[t] = self.cols[t] + [col]
                    self.versions[t] += 1
                    pos += 100
                    n_ddl += 1
            if i in ghost_at:
                frames.append(self._data(GHOST_TABLE, file, pos))
                pos += 100
            t = self.tables[self.rng.integers(len(self.tables))]
            frames.append(self._data(t, file, pos))
            expect.append((file, pos, 0, "%s.%s" % (WIRE_DB, t), self.versions[t],
                           ",".join(sorted(self.cols[t]))))
            pos += 100
        for _ in range(WIRE_TOMBSTONES):
            t = self.tables[self.rng.integers(len(self.tables))]
            frames.append(("%s.%s.%s" % (CLUSTER, WIRE_DB, t), None))
        for j in range(WIRE_MALFORMED):
            frames.append(("%s.%s.%s" % (CLUSTER, WIRE_DB, self.tables[j % len(self.tables)]),
                           '{"payload": {"before": null, "after": {"id": "'))
        return self._interleave(frames), expect, n_ddl

    def _interleave(self, frames):
        """Kafka keeps order within a topic only: each topic's frames stay in
        the order written (binlog position order), and the topics interleave
        at random (a shuffled list of topic labels, each label taking its
        topic's next frame)."""
        queues = {}
        for f in frames:
            queues.setdefault(f[0], []).append(f)
        heads = {t: iter(q) for t, q in queues.items()}
        labels = [f[0] for f in frames]
        return [next(heads[labels[i]]) for i in self.rng.permutation(len(labels))]


def wire_table(frames):
    return pa.table({
        "topic": [t for t, _ in frames],
        "key": [None] * len(frames),
        "value": [None if v is None else v.encode() for _, v in frames],
        "headers": [[] for _ in frames],
    }, schema=WIRE_SCHEMA)


def generate(workload, seed, work):
    """Write every input segment of `workload` under `work` and return the
    plan the JVM program and the checks read (also saved as work/plan.json)."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng(seed)
    mtime = [1_600_000_000]  # strictly increasing: the file source reads in mtime order

    def place(table, group, idx):
        d = os.path.join(work, group)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "%s-%05d.parquet" % (group, idx))
        mtime[0] += 1
        pq.write_table(table, path)
        os.utime(path, (mtime[0], mtime[0]))
        return os.path.basename(path)

    plan = {"kind": spec["kind"], "cluster": CLUSTER, "segments": {}}
    if spec["kind"] == "replay":
        main_first = 1_000_000
        pool_first = main_first + spec["backlog"] * spec["seg_events"]
        ddl = []
        for group, count, first, size in (
                ("warm", 1, 9_000_000, spec["warm_events"]),
                ("backlog", spec["backlog"], main_first, spec["seg_events"]),
                ("pool", spec["cycles"], pool_first, spec["pool_events"])):
            segs = []
            for i in range(count):
                seg = replay_segment(rng, first + i * size, size, spec["mix"])
                segs.append({"file": place(seg, group, i), "records": size})
                if group == "backlog":
                    ddl += [["refcluster", db, s, e] for db, s, e in replay_ddl_statements(seg)]
            plan["segments"][group] = segs
        plan["catalog_ddl"] = ddl
        # companion wire frames: the wire-parse probe's input on a replay workload
        probe = WireFeed(np.random.default_rng(seed + 1), 8, 500)
        frames = []
        for i in range(4):
            frames += probe.segment(create=(i == 0), alter=(i > 0))[0]
        place(wire_table(frames), "probe_wire", 0)
    else:
        warm = WireFeed(np.random.default_rng(seed + 1), spec["warm_tables"], spec["warm_rows"])
        frames, _, n_ddl = warm.segment(create=True, alter=True)
        plan["segments"]["warm"] = [{"file": place(wire_table(frames), "warm", 0),
                                     "records": len(frames), "ddl": n_ddl}]
        feed = WireFeed(rng, spec["tables"], spec["seg_rows"])
        for group, kinds in (("backlog", spec["backlog"]), ("pool", ["plain"] * spec["cycles"])):
            segs = []
            for i, batch_kind in enumerate(kinds):
                frames, expect, n_ddl = feed.segment(create=batch_kind == "create",
                                                     alter=batch_kind == "alter")
                segs.append({"file": place(wire_table(frames), group, i),
                             "records": len(frames), "ddl": n_ddl,
                             "position": list(feed.last_pos)})
                os.makedirs(os.path.join(work, "expect"), exist_ok=True)
                pq.write_table(pa.Table.from_arrays(list(map(list, zip(*expect))),
                                                    schema=EXPECT_SCHEMA),
                               os.path.join(work, "expect", "%s-%05d.parquet" % (group, i)))
            plan["segments"][group] = segs
            if group == "backlog":
                plan["catalog_ddl"] = [list(d) for d in feed.ddl]
        # companion replay events: the cdc-chain probe's input on the wire workload
        place(replay_segment(np.random.default_rng(seed + 1), 1_000_000, 40_000, "data"),
              "probe_events", 0)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
