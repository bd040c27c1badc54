#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at
sf0.01, then run each oracle SQL in DuckDB over the same tables and
compare the way the DRIVER does:

  - Spark output read via pyarrow -> pandas (DECIMAL stays Decimal,
    BINARY stays bytes -- representation-preserving),
  - oracle read via duckdb fetchdf (DECIMAL coerces to float64),
  - columns sorted by name, rows sorted by all columns,
  - per-cell str() reprs hashed.

This asymmetry is intentional: round 2's gate read BOTH sides through
DuckDB, so a Decimal('137291.00')-vs-137291.0 repr divergence was
invisible locally but hash-failed on the driver. Never "fix" this by
coercing the two sides the same way.

Usage: python3 tools/local_verify.py [--skip-verify] [query ...]

Named queries are the only ones graft.Verify dumps (passed to it as
SPARK_GRAFT_VERIFY_ONLY) and compared; with no names, the full surface is
dumped and compared.
"""
import glob, hashlib, json, math, os, subprocess, sys

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
OUT = "/tmp/graft_verify"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def run_verify(names):
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    if names: env["SPARK_GRAFT_VERIFY_ONLY"] = ",".join(names)
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        capture_output=True, text=True, cwd="/root/repo", env=env)
    tail = (r.stdout + r.stderr)[-3000:]
    if r.returncode != 0:
        print(tail); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line: print(line)

def cell(v):
    # NaN spelled one way regardless of container dtype.
    if isinstance(v, float) and math.isnan(v): return "NaN"
    return str(v)

def frame_hash(df, cols):
    df = df[cols]
    try:
        df = df.sort_values(by=cols, kind="mergesort")
        rows = (tuple(cell(v) for v in r) for r in df.itertuples(index=False))
        rows = list(rows)
    except TypeError:
        # unsortable dtype (e.g. bytearray) -- the DRIVER CRASHES here
        # (multimodal_frames round 2); treat as a failure, not a fallback.
        return None, None
    h = hashlib.md5()
    for r in rows:
        for c in r:
            h.update(c.encode("utf-8", "replace")); h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest(), rows

def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--skip-verify" not in sys.argv: run_verify(args)
    import duckdb
    import pyarrow.parquet as pq
    import pyarrow.dataset as pads
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    names = args or sorted(oracles)
    fails = 0
    for name in names:
        files = glob.glob(f"{OUT}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); fails += 1; continue
        try:
            spark_df = pads.dataset(files).to_table().to_pandas()
            oracle_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); fails += 1; continue
        sc = sorted(spark_df.columns); oc = sorted(oracle_df.columns)
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}"); fails += 1; continue
        if len(spark_df) != len(oracle_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} oracle={len(oracle_df)}")
            fails += 1; continue
        sh, srows = frame_hash(spark_df, sc)
        oh, orows = frame_hash(oracle_df, oc)
        if sh is None or oh is None:
            print(f"FAIL {name}: unsortable column (driver's pandas compare would crash)")
            fails += 1; continue
        if sh != oh:
            diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL {name}: hash mismatch, first repr diffs: {diff}")
            fails += 1; continue
        print(f"OK   {name}: {len(srows)} rows")
    print(f"\n{len(names) - fails}/{len(names)} green")
    sys.exit(1 if fails else 0)

main()
