"""Output checks: CDC table state against the generator's oracle, and batch
query results against their DuckDB oracle twins (`SparkEntry.oracleSql`).

The batch check reads rows the way `scripts/selfcheck.py` does and
normalises them with its `norm` and `kind`, imported from the checkout so
the two cannot drift apart. `expected.json` holds each query's oracle
result (columns, coarse types, row count and hash) over `data/sf0.01`,
derived once with `expectation`; a query whose SQL differs from the one
stored, or a change to the tables or to selfcheck.py, makes the check
replay the SQL in DuckDB instead."""
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SELFCHECK = os.path.join(os.path.dirname(HERE), "scripts", "selfcheck.py")
EXPECTED = os.path.join(HERE, "expected.json")
sys.path.insert(0, os.path.dirname(SELFCHECK))
from selfcheck import kind, norm  # noqa: E402


def rows_digest(rows):
    """(count, order-independent hash) of rows of already-normalised tuples."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()[:16]


def cdc_table(snap_dir, expected):
    """Compares a snapshot written by the harness (user_id, event_id, ts,
    value) with the oracle's {key: (event_id, ts seconds, value)}.
    Returns (ok, got digest, want digest)."""
    import pyarrow.dataset as ds
    t = ds.dataset(snap_dir, format="parquet").to_table(
        columns=["user_id", "event_id", "ts", "value"]).to_pydict()
    got = [(k, e, int(ts.timestamp()), norm(v)) for k, e, ts, v in
           zip(t["user_id"], t["event_id"], t["ts"], t["value"])]
    want = [(k, e, ts, norm(v)) for k, (e, ts, v) in expected.items()]
    gd, wd = rows_digest(got), rows_digest(want)
    return gd == wd, gd, wd


def inputs_stamp(data_dir):
    """Hash of what an expectation depends on besides its SQL."""
    h = hashlib.sha256()
    for p in [SELFCHECK] + sorted(os.path.join(data_dir, f) for f in os.listdir(data_dir)):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode() + f.read())
    return h.hexdigest()


def duckdb_over(data_dir, tmp_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO %d" % (os.cpu_count() or 4))
    con.execute("SET enable_progress_bar = false")
    con.execute("SET temp_directory = '%s'" % tmp_dir)
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'"
                    % (f[:-8], os.path.join(data_dir, f)))
    return con


def expectation(con, sql):
    """The oracle's result as selfcheck reads it: {columns: {name: kind},
    rows, digest}, rows taken from DuckDB's pandas export (its `.df()`)."""
    want = con.sql(sql).arrow()
    cols = sorted(want.column_names)
    rows = [tuple(norm(r[c]) for c in cols)
            for r in con.from_arrow(want).df().to_dict("records")]
    n, digest = rows_digest(rows)
    return {"sql": sql, "columns": {f.name: kind(f.type) for f in want.schema},
            "rows": n, "digest": digest}


def batch_queries(data_dir, out_dir, oracle_sql):
    """Compares each query's parquet output with its oracle result. Returns
    {name: None if it matches, else a one-line reason}."""
    import pyarrow.dataset as ds
    with open(EXPECTED) as f:
        stored = json.load(f)
    if stored["inputs_sha256"] != inputs_stamp(data_dir):
        stored["queries"] = {}
    con, replayed = None, 0
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        want = stored["queries"].get(name)
        if want is None or want["sql"] != sql:
            if con is None:
                con = duckdb_over(data_dir, os.path.join(out_dir, "duckdb-tmp"))
            replayed += 1
            try:
                want = expectation(con, sql)
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                out[name] = "oracle error: %s" % str(e)[:200]
                continue
        try:
            got_ds = ds.dataset(os.path.join(out_dir, name), format="parquet")
            got = got_ds.to_table().to_pylist()
        except Exception as e:  # noqa: BLE001
            out[name] = "spark output missing: %s" % str(e)[:200]
            continue
        got_kinds = {f.name: kind(f.type) for f in got_ds.schema}
        drift = ["%s: oracle=%s spark=%s" % (c, k, got_kinds[c])
                 for c, k in want["columns"].items()
                 if c in got_kinds and got_kinds[c] != k]
        cols = sorted(got_kinds)
        n, digest = rows_digest([tuple(norm(r[c]) for c in cols) for r in got])
        if drift:
            out[name] = "type drift: " + "; ".join(drift)
        elif cols != sorted(want["columns"]):
            out[name] = "columns %s != %s" % (cols, sorted(want["columns"]))
        elif n != want["rows"]:
            out[name] = "rows %d != oracle %d" % (n, want["rows"])
        elif digest != want["digest"]:
            out[name] = "value hash mismatch (%d rows)" % n
        else:
            out[name] = None
    print("perfbench: %d of %d oracle results replayed in DuckDB, the rest read "
          "from expected.json" % (replayed, len(oracle_sql)), file=sys.stderr)
    return out
