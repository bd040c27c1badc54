"""Output checks, run after the timed region.

Batch query outputs are compared with graft's DuckDB oracle SQL
(`SparkEntry.oracleSql`, exported by the harness) over the same tables,
the way graft's correctness gate compares them: Spark output read through
pyarrow into pandas, oracle through DuckDB's fetchdf, columns sorted by
name, rows sorted by every column, then an md5 over each cell's str().

Stream outputs are compared with independent DuckDB counts over the very
slice files the streams drained.
"""
import glob
import hashlib
import math

import duckdb
import pyarrow.dataset as pads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents"]

# The reference's five exchange rates, restated here so the suspicious
# count does not reuse graft's own conversion code.
RATES = "(VALUES ('GBP', 1.00), ('USD', 1.313558), ('EUR', 1.144073), " \
        "('CAN', 1.702642), ('CHF', 1.303682)) AS rates(currency, rate)"


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return str(v)


def frame_hash(df):
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols, kind="mergesort")
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        for c in row:
            h.update(_cell(c).encode("utf-8", "replace"))
            h.update(b"\x1f")
        h.update(b"\x1e")
    return cols, len(df), h.hexdigest()


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_batch(raw, data_dir):
    """Returns (attempted, failed, reasons): one operation per query
    execution, failed when it threw or its output's hash differs."""
    con = _connect(data_dir)
    expected, attempted, failed, reasons = {}, 0, 0, []
    for unit in raw["warm"] + raw["units"]:
        for e in unit["execs"]:
            attempted += 1
            name, why = e["query"], e["error"]
            if why is None:
                try:
                    if name not in expected:
                        expected[name] = frame_hash(con.execute(raw["oracle_sql"][name]).fetchdf())
                    files = glob.glob(f"{e['out']}/*.parquet")
                    got = frame_hash(pads.dataset(files).to_table().to_pandas())
                    if got != expected[name]:
                        why = f"output {got[:2]} differs from oracle {expected[name][:2]}"
                except Exception as ex:  # an unreadable output is a wrong output
                    why = f"check failed: {ex}"
            if why is not None:
                failed += 1
                reasons.append(f"{unit['pass']}/{name}: {why}")
    return attempted, failed, reasons


def _drain_failures(raw):
    """Drains that threw count as one failed operation each."""
    return [f"{u['drain']}: {u['error']}" for u in raw["warm"] + raw["units"] if u["error"]]


def _batches(raw):
    return sum(1 for p in raw["progress"] if p["numInputRows"] > 0)


def check_payments(raw):
    """Per drain: main-sink rows == well-formed records; suspicious-sink
    rows == an independent DuckDB count of converted amounts < 10,000.00."""
    con = duckdb.connect()
    feed = f"read_parquet('{raw['slices_dir']}/*.parquet')"
    con.execute(f"""
        CREATE TEMP TABLE ok AS
        SELECT json_extract_string(v, '$.currency') AS currency,
               CAST(json_extract(v, '$.amount') AS BIGINT) AS amount
        FROM (SELECT CASE WHEN json_valid(value) THEN value END AS v FROM {feed})
        WHERE json_extract_string(v, '$.currency') IS NOT NULL
        """)
    n_ok = con.execute("SELECT count(*) FROM ok").fetchone()[0]
    n_susp = con.execute(f"""
        SELECT count(*) FROM ok JOIN {RATES} USING (currency)
        WHERE CAST(round(amount * rate, 0) AS BIGINT) < 1000000""").fetchone()[0]
    totals = {}
    for r in raw["sink_rows"]:
        key = (r["drain"], r["sink"])
        totals[key] = totals.get(key, 0) + r["rows"]
    reasons = _drain_failures(raw)
    checks = 0
    for u in raw["warm"] + raw["units"]:
        for sink, want in (("main", n_ok), ("suspicious", n_susp)):
            checks += 1
            got = totals.get((u["drain"], sink), 0)
            if got != want:
                reasons.append(f"{u['drain']}/{sink}: {got} rows, expected {want}")
    return _batches(raw) + checks, len(reasons), reasons


def check_wordcount(raw):
    """Per drain: the sink's latest count per word == graft's
    wordcount_space oracle over the drained documents."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{raw['slices_dir']}/*.parquet')")
    want = dict(con.execute(raw["oracle_sql"]["wordcount_space"]).fetchall())
    reasons = _drain_failures(raw)
    checks = 0
    for u in raw["warm"] + raw["units"]:
        checks += 1
        got = raw["word_counts"].get(u["drain"], {})
        if got != want:
            diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))[:5]
            reasons.append(f"{u['drain']}: counts differ for {diff}")
    return _batches(raw) + checks, len(reasons), reasons
