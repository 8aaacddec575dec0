"""The correctness checks must reject tampered output.

    python3 cdcbench/test_checks.py

Each test builds a small run directory by hand: generated input segments,
an output that a correct pipeline would write, and the saved states. The
untouched directory must pass; each tampering (a dropped row, a duplicated
row, two rows swapped within a file, a position moved backwards, a schema id
changed across a restart, a wrong schema version or column set) must fail.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

FINGERPRINTS = [{"cluster": "refcluster", "database": "db0", "table": "t0", "fp": "a", "schemaId": 1},
                {"cluster": "refcluster", "database": "db1", "table": "t1", "fp": "a", "schemaId": 2}]


def write_state(work, i, last_batch, log_file, log_pos, fingerprints=FINGERPRINTS):
    os.makedirs(os.path.join(work, "states"), exist_ok=True)
    with open(os.path.join(work, "states", "state-%03d.json" % i), "w") as f:
        json.dump({"lastBatchId": last_batch, "cleanShutdown": True,
                   "position": {"log_file": log_file, "log_pos": str(log_pos), "offset": "0"},
                   "catalog": {"fingerprints": fingerprints}}, f)


def read_state(work, i):
    with open(os.path.join(work, "states", "state-%03d.json" % i)) as f:
        return json.load(f)


class Fixture(unittest.TestCase):
    def setUp(self):
        scratch = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")
        os.makedirs(scratch, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix="test-", dir=scratch)
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.work)

    def out_file(self, batch):
        d = os.path.join(self.work, "main", "out", "batch=%d" % batch)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, "part-00000.parquet")

    def rewrite(self, batch, f):
        """Apply f to the rows (a list of dicts) of one output file."""
        path = self.out_file(batch)
        t = pq.read_table(path)
        pq.write_table(pa.Table.from_pylist(f(t.to_pylist()), schema=t.schema), path)

    def assertFails(self, what):
        failures = self.check()
        self.assertTrue(any(what in m for m in failures), "expected a '%s' failure, got %s"
                        % (what, failures))


class ReplayChecks(Fixture):
    """Two backlog segments and one restart segment of the reference mix."""

    def setUp(self):
        super().setUp()
        rng = np.random.default_rng(3)
        src = os.path.join(self.work, "main", "src")
        os.makedirs(src)
        self.plan = {"kind": "replay", "segments": {"backlog": [], "pool": []}}
        best = -1
        for batch, (group, idx) in enumerate([("backlog", 0), ("backlog", 1), ("pool", 0)]):
            seg = gen.replay_segment(rng, 1_000_000 + batch * 400, 400, "reference")
            name = "%s-%05d.parquet" % (group, idx)
            pq.write_table(seg, os.path.join(src, name))
            self.plan["segments"][group].append({"file": name, "records": 400, "ddl": 0})
            rows = []
            for ev in seg.to_pylist():
                k = json.loads(ev["props"])["k"]
                uid, eid = ev["user_id"], ev["event_id"]
                if not (ev["event_type"] == "error" and k % 5 == 4):
                    best = max(best, eid)
                db = "mysql" if uid % 17 == 0 else "test" if uid % 17 == 1 else "db%d" % (uid % 3)
                if (ev["event_type"] in ("signup", "purchase", "click") and uid % 5 < 4
                        and db not in ("mysql", "test")):
                    log_file, log_pos = "binlog.%06d" % (eid // 1000), (eid % 1000) * 4 + 4
                    rows += [{"event_id": eid, "row_idx": r, "topic": "%s.t%d" % (db, uid % 5),
                              "pos_key": "%s:%010d:%04d" % (log_file, log_pos, r)}
                             for r in range(k % 3 + 1)]
            rows.sort(key=lambda r: r["pos_key"])
            pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
                ("event_id", pa.int64()), ("row_idx", pa.int32()),
                ("topic", pa.string()), ("pos_key", pa.string())])), self.out_file(batch))
            if batch >= 1:
                write_state(self.work, batch - 1, batch, "binlog.%06d" % (best // 1000),
                            (best % 1000) * 4 + 4)
        self.res = {"cycles": 1, "drain_rows": [400, 400], "cycle_rows": [400]}

    def check(self):
        return checks.check_replay(self.con, self.work, self.plan, self.res)

    def test_untouched_output_passes(self):
        self.assertEqual(self.check(), [])

    def test_dropped_row(self):
        self.rewrite(1, lambda rows: rows[:3] + rows[4:])
        self.assertFails("missing")

    def test_duplicated_row(self):
        last = pq.read_table(self.out_file(0)).to_pylist()[-1]
        self.rewrite(2, lambda rows: [last] + rows)
        self.assertFails("more than once")

    def test_swapped_order(self):
        def swap(rows):
            topic = rows[0]["topic"]
            i, j = [n for n, r in enumerate(rows) if r["topic"] == topic][:2]
            rows[i], rows[j] = rows[j], rows[i]
            return rows
        self.rewrite(0, swap)
        self.assertFails("pos_key is below")

    def test_position_moved_backwards(self):
        st = read_state(self.work, 1)
        pos = st["position"]
        write_state(self.work, 1, st["lastBatchId"], pos["log_file"], int(pos["log_pos"]) - 4)
        self.assertFails("position")

    def test_schema_id_changed_across_restart(self):
        st = read_state(self.work, 1)
        moved = [dict(FINGERPRINTS[0], schemaId=7), FINGERPRINTS[1]]
        write_state(self.work, 1, st["lastBatchId"], st["position"]["log_file"],
                    int(st["position"]["log_pos"]), moved)
        self.assertFails("schema ids changed")

    def test_unread_segment(self):
        self.res["cycle_rows"] = []
        self.assertFails("restart cycles read")


class WireChecks(Fixture):
    """A CREATE segment, an ALTER segment and a plain restart segment."""

    def setUp(self):
        super().setUp()
        feed = gen.WireFeed(np.random.default_rng(5), 4, 60)
        os.makedirs(os.path.join(self.work, "expect"))
        self.plan = {"kind": "wire", "segments": {"backlog": [], "pool": []}}
        for batch, (group, idx, create, alter) in enumerate(
                [("backlog", 0, True, False), ("backlog", 1, False, True), ("pool", 0, False, False)]):
            frames, expect, _ = feed.segment(create=create, alter=alter)
            self.plan["segments"][group].append({"file": "", "records": len(frames), "ddl": 0,
                                                 "position": list(feed.last_pos)})
            pq.write_table(pa.Table.from_arrays(list(map(list, zip(*expect))),
                                                schema=gen.EXPECT_SCHEMA),
                           os.path.join(self.work, "expect", "%s-%05d.parquet" % (group, idx)))
            rows = [{"topic": topic, "schema_version": version,
                     "payload_json": json.dumps({c: 1 for c in cols.split(",")}),
                     "log_file": f, "log_pos": p, "row_idx": r,
                     "pos_key": "%s:%010d:%04d" % (f, p, r)}
                    for f, p, r, topic, version, cols in expect]
            rows += [{"topic": "__unparsed", "schema_version": 0, "payload_json": None,
                      "log_file": None, "log_pos": None, "row_idx": 0, "pos_key": None}
                     for _ in range(gen.WIRE_MALFORMED)]
            rows += [{"topic": "__unregistered", "schema_version": 0, "payload_json": "{}",
                      "log_file": "x", "log_pos": n, "row_idx": 0, "pos_key": "x:%d" % n}
                     for n in range(gen.WIRE_GHOST_ROWS)]
            pq.write_table(pa.Table.from_pylist(rows), self.out_file(batch))
            if batch >= 1:
                write_state(self.work, batch - 1, batch, *feed.last_pos)
        self.res = {"cycles": 1, "drain_rows": [s["records"] for s in self.plan["segments"]["backlog"]],
                    "cycle_rows": [self.plan["segments"]["pool"][0]["records"]]}

    def check(self):
        return checks.check_wire(self.con, self.work, self.plan, self.res)

    def test_untouched_output_passes(self):
        self.assertEqual(self.check(), [])

    def test_dropped_row(self):
        self.rewrite(1, lambda rows: rows[1:])
        self.assertFails("missing")

    def test_duplicated_row(self):
        self.rewrite(2, lambda rows: rows[:1] + rows)
        self.assertFails("more than once")

    def test_swapped_order(self):
        def swap(rows):
            topic = rows[0]["topic"]
            i, j = [n for n, r in enumerate(rows) if r["topic"] == topic][:2]
            rows[i], rows[j] = rows[j], rows[i]
            return rows
        self.rewrite(1, swap)
        self.assertFails("pos_key is below")

    def test_position_moved_backwards(self):
        st = read_state(self.work, 0)
        write_state(self.work, 0, st["lastBatchId"], st["position"]["log_file"],
                    int(st["position"]["log_pos"]) - 100)
        self.assertFails("position")

    def test_wrong_schema_version(self):
        def bump(rows):
            rows[0]["schema_version"] += 1
            return rows
        self.rewrite(1, bump)
        self.assertFails("wrong schema_version")

    def test_wrong_column_set(self):
        def drop_col(rows):
            rows[0]["payload_json"] = json.dumps({"id": 1})
            return rows
        self.rewrite(1, drop_col)
        self.assertFails("wrong payload column set")

    def test_quarantine_count(self):
        self.rewrite(0, lambda rows: [r for r in rows if r["topic"] != "__unregistered"])
        self.assertFails("__unregistered")


if __name__ == "__main__":
    unittest.main()
