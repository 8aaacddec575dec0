"""Correctness checks for one benchmark run, computed apart from the program.

Each check function returns a list of failure messages (empty = correct).
Expected outputs come from the generated inputs alone: for replay feeds this
module re-derives, in its own DuckDB SQL, which events the replay turns into
messages (the binlog mapping rules of ``CdcReplay``/``CdcOps``, written out
again here, never called); for wire feeds the generator recorded each row's
expected topic, schema version and column set while it built the feed.
"""
import glob
import json
import os

import gen

BLACKLISTED_DBS = ("mysql", "test")
WHITELISTED_TABLES = ("t0", "t1", "t2", "t3")


def _parquet_list(paths):
    return "[" + ", ".join("'%s'" % p for p in paths) + "]"


def _read_output(con, out_dir, cols):
    files = sorted(glob.glob(os.path.join(out_dir, "batch=*", "*.parquet")))
    if not files:
        con.execute("CREATE OR REPLACE TEMP TABLE act AS SELECT NULL::VARCHAR AS topic WHERE false")
        return False
    con.execute(
        "CREATE OR REPLACE TEMP TABLE act AS SELECT %s, filename, file_row_number "
        "FROM read_parquet(%s, filename=true, file_row_number=true, "
        "hive_partitioning=false, union_by_name=true)" % (cols, _parquet_list(files)))
    return True


def _count(con, sql):
    return con.execute(sql).fetchone()[0]


def _check_order(con, failures):
    """pos_key must be non-decreasing within each topic in each file."""
    n = _count(con, """
        SELECT count(*) FROM (
          SELECT pos_key, lag(pos_key) OVER (PARTITION BY filename, topic
                                             ORDER BY file_row_number) AS prev
          FROM act) WHERE prev > pos_key""")
    if n:
        failures.append("%d rows whose pos_key is below the previous row of its topic "
                        "in the same file" % n)


def _check_states(work, expected_positions, failures):
    """One saved state per pipeline run (the drain, then each restart):
    lastBatchId counts the batches so far, the position is the largest
    coordinate admitted so far, and no schema id registered earlier changes."""
    paths = sorted(glob.glob(os.path.join(work, "states", "state-*.json")))
    if len(paths) != len(expected_positions):
        failures.append("saved %d states, expected %d" % (len(paths), len(expected_positions)))
        return
    prev_ids = {}
    for path, (last_batch, (log_file, log_pos)) in zip(paths, expected_positions):
        with open(path) as f:
            st = json.load(f)
        name = os.path.basename(path)
        if st.get("lastBatchId") != last_batch:
            failures.append("%s: lastBatchId %s, expected %d" % (name, st.get("lastBatchId"), last_batch))
        pos = st.get("position", {})
        if (pos.get("log_file"), pos.get("log_pos")) != (log_file, str(log_pos)):
            failures.append("%s: position %s:%s, expected %s:%d"
                            % (name, pos.get("log_file"), pos.get("log_pos"), log_file, log_pos))
        ids = {(e["cluster"], e["database"], e["table"], e["fp"]): e["schemaId"]
               for e in st["catalog"].get("fingerprints", [])}
        changed = [k for k, v in prev_ids.items() if ids.get(k) != v]
        if changed:
            failures.append("%s: schema ids changed across the restart for %s"
                            % (name, sorted(set(k[2] for k in changed))))
        prev_ids = ids


def _check_rows_read(plan, res, n_cycles, failures):
    groups = plan["segments"]
    want_drain = sum(s["records"] for s in groups["backlog"])
    if sum(res["drain_rows"]) != want_drain:
        failures.append("drain read %d records, the backlog holds %d" % (sum(res["drain_rows"]), want_drain))
    want_cycles = [s["records"] for s in groups["pool"]]  # one cycle per pool segment
    if res["cycle_rows"] != want_cycles:
        failures.append("restart cycles read %s records, expected %s" % (res["cycle_rows"], want_cycles))


def _replay_position(eid):
    return "binlog.%06d" % (eid // 1000), (eid % 1000) * 4 + 4


def check_replay(con, work, plan, res):
    failures = []
    n_cycles = res["cycles"]
    _check_rows_read(plan, res, n_cycles, failures)
    groups = plan["segments"]
    used = [os.path.join(work, "main", "src", s["file"])
            for s in groups["backlog"] + groups["pool"][:n_cycles]]
    con.execute("""
        CREATE OR REPLACE TEMP TABLE ev AS
        SELECT event_id, user_id, event_type,
               CAST(regexp_extract(props, '"k":\\s*(-?[0-9]+)', 1) AS BIGINT) AS k,
               filename
        FROM read_parquet(%s, filename=true)""" % _parquet_list(used))
    # data rows (signup/purchase/click) of whitelisted tables outside the
    # blacklisted schemas; a RowsEvent packs k mod 3 + 1 row images
    con.execute("""
        CREATE OR REPLACE TEMP TABLE exp AS
        SELECT event_id, r.row_idx, db || '.' || tbl AS topic FROM (
          SELECT event_id, k,
                 CASE WHEN user_id %% 17 = 0 THEN 'mysql'
                      WHEN user_id %% 17 = 1 THEN 'test'
                      ELSE 'db' || CAST(user_id %% 3 AS VARCHAR) END AS db,
                 't' || CAST(user_id %% 5 AS VARCHAR) AS tbl
          FROM ev WHERE event_type IN ('signup', 'purchase', 'click')) e,
          (SELECT unnest(range(3)) AS row_idx) r
        WHERE r.row_idx <= e.k %% 3 AND db NOT IN %s AND tbl IN %s"""
                % (BLACKLISTED_DBS, WHITELISTED_TABLES))
    if not _read_output(con, os.path.join(work, "main", "out"),
                        "event_id, CAST(row_idx AS BIGINT) AS row_idx, topic, pos_key"):
        return failures + ["no output files"]
    _check_keys(con, "event_id, row_idx", failures)
    diff = con.execute("""
        SELECT coalesce(e.topic, a.topic), e.n, a.n FROM
          (SELECT topic, count(*) AS n FROM exp GROUP BY topic) e
          FULL OUTER JOIN (SELECT topic, count(*) AS n FROM act GROUP BY topic) a
          ON e.topic = a.topic
        WHERE e.n IS DISTINCT FROM a.n ORDER BY 1""").fetchall()
    if diff:
        failures.append("per-topic message counts differ (topic, expected, got): %s" % diff[:5])
    _check_order(con, failures)

    # largest admitted coordinate after each run: events the replay drops
    # before admission ('error' with k = 4 mod 5) do not move the position
    maxima = con.execute("""
        SELECT filename, max(event_id) FROM ev
        WHERE NOT (event_type = 'error' AND k % 5 = 4) GROUP BY filename""").fetchall()
    by_file = {os.path.basename(f): m for f, m in maxima}
    n_backlog = len(groups["backlog"])
    expected, best = [], -1
    for i, seg in enumerate(groups["backlog"] + groups["pool"][:n_cycles]):
        best = max(best, by_file.get(seg["file"], -1))
        if i >= n_backlog - 1:
            expected.append((i, _replay_position(best)))
    _check_states(work, expected, failures)
    return failures


def _check_keys(con, key, failures):
    dup = _count(con, "SELECT count(*) FROM (SELECT %s FROM act WHERE NOT starts_with(topic, '__') "
                      "GROUP BY ALL HAVING count(*) > 1)" % key)
    if dup:
        failures.append("%d message keys written more than once" % dup)
    missing = _count(con, "SELECT count(*) FROM (SELECT %s FROM exp EXCEPT SELECT %s FROM act)"
                     % (key, key))
    if missing:
        failures.append("%d expected messages missing from the output" % missing)
    extra = _count(con, "SELECT count(*) FROM (SELECT %s FROM act WHERE NOT starts_with(topic, '__') "
                        "EXCEPT SELECT %s FROM exp)" % (key, key))
    if extra:
        failures.append("%d output messages that no input event accounts for" % extra)


def check_wire(con, work, plan, res):
    failures = []
    n_cycles = res["cycles"]
    _check_rows_read(plan, res, n_cycles, failures)
    groups = plan["segments"]
    used = ([("backlog", i) for i in range(len(groups["backlog"]))]
            + [("pool", i) for i in range(n_cycles)])
    con.execute("CREATE OR REPLACE TEMP TABLE exp AS SELECT * FROM read_parquet(%s)" % _parquet_list(
        [os.path.join(work, "expect", "%s-%05d.parquet" % u) for u in used]))
    if not _read_output(con, os.path.join(work, "main", "out"),
                        "topic, schema_version, payload_json, log_file, log_pos, "
                        "CAST(row_idx AS INTEGER) AS row_idx, pos_key"):
        return failures + ["no output files"]
    _check_keys(con, "log_file, log_pos, row_idx", failures)
    wrong = con.execute("""
        SELECT count(*) FILTER (WHERE a.topic <> e.topic),
               count(*) FILTER (WHERE a.schema_version <> e.schema_version),
               count(*) FILTER (WHERE array_to_string(list_sort(json_keys(a.payload_json)), ',')
                                      IS DISTINCT FROM e.cols)
        FROM act a JOIN exp e USING (log_file, log_pos, row_idx)""").fetchone()
    for n, what in zip(wrong, ("topic", "schema_version", "payload column set")):
        if n:
            failures.append("%d rows with the wrong %s" % (n, what))
    n_segs = len(used)
    for topic, want in (("__unparsed", gen.WIRE_MALFORMED * n_segs),
                        ("__unregistered", gen.WIRE_GHOST_ROWS * n_segs)):
        got = _count(con, "SELECT count(*) FROM act WHERE topic = '%s'" % topic)
        if got != want:
            failures.append("%d rows under %s, the feed planted %d" % (got, topic, want))
    _check_order(con, failures)
    segs = groups["backlog"] + groups["pool"][:n_cycles]
    n_backlog = len(groups["backlog"])
    _check_states(work, [(i, tuple(segs[i]["position"])) for i in range(n_backlog - 1, len(segs))],
                  failures)
    return failures


def output_stats(out_dir):
    """(parquet bytes, parquet files, batch directories) under out_dir."""
    files = glob.glob(os.path.join(out_dir, "batch=*", "*.parquet"))
    return (sum(os.path.getsize(f) for f in files), len(files),
            len(glob.glob(os.path.join(out_dir, "batch=*"))))
