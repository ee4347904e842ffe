"""Output checks, run untimed after the JVM exits.

Batch workloads: every query's result (written by the check pass) is
compared with its `SparkEntry.oracleSql` answer computed by DuckDB on the
same input tables, the way `scripts/check.py` does: columns sorted by
name, rows in produced order (every query orders totally), cells equal,
doubles exactly (as `repr`, NaN equal to NaN).

stream_ingest: the windowed-count sink must equal DuckDB's q44 oracle over
the landed files, and the upsert sink must equal a per-user count and sum
(sums within 1e-9 relative: the sink adds micro-batch partial sums).
"""
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def _rows(df):
    return [[_norm(v) for v in r] for r in df[sorted(df.columns)].itertuples(index=False)]


def _tables(con, data_dir):
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{data_dir}/{t}.parquet'")


def compare(con, sql, result_dir):
    """Check one query; returns (status, detail)."""
    if not sql:
        return "fail", "no oracle SQL registered"
    try:
        odf = con.sql(sql).df()
    except Exception as e:  # oracle error is a failed check, reported
        return "fail", f"oracle error: {str(e)[:200]}"
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "fail", "no result written"
    sdf = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
    if sorted(odf.columns) != sorted(sdf.columns):
        return "fail", f"columns {sorted(odf.columns)} != {sorted(sdf.columns)}"
    if len(odf) != len(sdf):
        return "fail", f"rows oracle={len(odf)} spark={len(sdf)}"
    for i, (o, s) in enumerate(zip(_rows(odf), _rows(sdf))):
        if o != s:
            return "fail", f"row {i}: oracle={o} spark={s}"[:300]
    return "pass", f"{len(odf)} rows"


def batch(data_dir, out_dir, measure):
    """One check per distinct query of the list."""
    con = duckdb.connect()
    _tables(con, data_dir)
    res = {}
    for name, sql in sorted(measure["oracles"].items()):
        status, detail = compare(con, sql, os.path.join(out_dir, "results", name))
        res[name] = {"status": status, "detail": detail}
    return res


def _stream_rows(con, sql):
    return sorted(tuple(r) for r in con.sql(sql).fetchall())


def stream(data_dir, measure):
    con = duckdb.connect()
    sinks = measure["sinks"]
    staged = [os.path.join(sinks["watch"], l["file"]) for l in measure["landings"]]
    files = ", ".join(f"'{f}'" for f in staged)
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    res = {}
    want = _stream_rows(con, measure["oracles"]["q44_tumbling_window"])
    got = _stream_rows(con, f"""
        SELECT window_start, event_type, n_events, total_value
        FROM '{sinks["counts"]}/*.parquet' WHERE event_type <> 'zzz_flush'""")
    res["windowed_counts_vs_q44"] = {
        "status": "pass" if got == want else "fail",
        "detail": f"{len(got)} rows streamed, {len(want)} batch"}
    with open(os.path.join(sinks["upsert"], "_commit")) as fh:
        version = fh.read().split(",")[1]
    got = _stream_rows(con, f"""
        SELECT user_id, n_events, total_value
        FROM '{sinks["upsert"]}/v{version}/*.parquet' WHERE user_id <> 999999""")
    want = _stream_rows(con, """
        SELECT user_id, count(*), sum(value) FROM events GROUP BY user_id""")
    ok = len(got) == len(want) and all(
        g[:2] == w[:2] and abs(g[2] - w[2]) <= 1e-9 * max(1.0, abs(w[2]))
        for g, w in zip(got, want))
    res["upsert_vs_groupby"] = {
        "status": "pass" if ok else "fail",
        "detail": f"{len(got)} users streamed, {len(want)} batch"}
    return res


def file_batches(ckpt):
    """file name -> micro-batch id, from a file-source checkpoint log."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out
