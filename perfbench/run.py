#!/usr/bin/env python3
"""graft's end-to-end benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload payments_stream --seed 1 --seconds 8 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources and the harness into `.bench_build/` (cached by source hash);
inputs, slices, checkpoints and outputs go to a temporary directory under
`.bench_build/` that is removed before exit. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = ".bench_build"
HEAP = ["-Xms2g", "-Xmx2g"]
# no hsperfdata file under the system temp directory
NO_PERF_DATA = "-XX:-UsePerfData"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 160

# sf: scale of the generated tables; tables: the ones the workload reads;
# opts: passed to the harness (for batch workloads, the query list).
WORKLOADS = {
    "payments_stream": dict(sf=0.1, tables=["orders"],
                            opts={"drain_batches": 8, "slice_rows": 10000, "warm_drains": 4}),
    "wordcount_stream": dict(sf=0.1, tables=["documents"],
                             opts={"drain_batches": 15, "docs_per_slice": 83, "warm_drains": 2}),
    "batch_retrieval": dict(sf=0.01, tables=["documents"], opts={"queries": ",".join([
        "bm25_topk", "bm25_prf", "tfidf_top", "hybrid_rrf"])}),
    "batch_relational": dict(sf=0.01, tables=["region", "nation", "customer", "supplier",
                                              "orders", "lineitem"], opts={"queries": ",".join([
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q18_big_orders",
        "payments_pipeline", "range_join"])}),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark distribution
    whose `bin/spark-submit` is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark jars found; set SPARK_HOME")


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        fail("no graft sources under src/main/scala; run from the root of a graft checkout")
    return graft + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def source_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, jars):
    """Compile graft and the harness with scalac (from Spark's own jars)
    into a class directory keyed by the sources' hash."""
    files = sources(root)
    key = source_hash(root, files)
    dest = os.path.join(root, BUILD, f"classes-{key}")
    if os.path.exists(os.path.join(dest, ".ok")):
        return dest, key
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(["java", NO_PERF_DATA, f"-Djava.io.tmpdir={tmp}", "-Xss4m", "-Xmx2g",
                        "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp, f"@{argfile}"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + (r.stdout + r.stderr)[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest, key


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def run_jvm(classes, jars, args, work, log):
    cmd = (["java", NO_PERF_DATA] + HEAP + ADD_OPENS + [f"-Djava.io.tmpdir={work}/tmp", "-cp",
                                          f"{classes}:{jars}/*", "perfbench.Main"] + args)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        fail(f"harness JVM exited with {rc}:\n{tail}")


def comparable(a, b):
    """Why two run records may not be compared, or None if they may."""
    for k in ("nproc", "master", "shuffle_partitions", "jvm_flags", "workload", "seed",
              "source_hash", "inputs"):
        if a.get(k) != b.get(k):
            return f"{k} differs ({a.get(k)!r} vs {b.get(k)!r})"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars()
    classes, key = build(root, jars)
    spec = WORKLOADS[a.workload]
    cores = nproc()

    setup_start_ms = time.time() * 1000.0
    os.makedirs(os.path.join(root, BUILD, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(root, BUILD, "tmp"))
    try:
        data = os.path.join(work, "data")
        table_rows = gen.write(data, spec["sf"], only=spec["tables"])
        os.makedirs(os.path.join(work, "tmp"))
        raw_path = os.path.join(work, "raw.json")
        spans_path = os.path.join(root, BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--nproc", str(cores), "--data", data, "--work", work,
                "--out", raw_path, "--spans", spans_path]
        for k, v in spec["opts"].items():
            args += [f"--{k}", str(v)]
        steal0, total0 = cpu_times()
        run_jvm(classes, jars, args, work, os.path.join(work, "jvm.log"))
        steal1, total1 = cpu_times()
        with open(raw_path) as fh:
            raw = json.load(fh)

        if "progress" not in raw:
            attempted, failed, reasons = checks.check_batch(raw, data)
        elif a.workload == "payments_stream":
            attempted, failed, reasons = checks.check_payments(raw)
        else:
            attempted, failed, reasons = checks.check_wordcount(raw)
        e2e, notes = metrics.end_to_end(raw, setup_start_ms)
        notes["setup_parts_s"] = {
            k: round((raw[t] - t0) / 1000.0, 3) for k, t, t0 in (
                ("inputs_generated", "t_jvm_start_ms", setup_start_ms),
                ("jvm_and_session", "t_session_ms", raw["t_jvm_start_ms"]),
                ("slices_and_oracle_sql", "t_inputs_ms", raw["t_session_ms"]),
                ("warm_pass", "t_first_timed_ms", raw["t_inputs_ms"]))}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = {k: raw[k] for k in ("workload", "seed", "nproc", "master", "shuffle_partitions",
                                  "jvm_flags", "spark_version")}
    record.update({
        "git_commit": git_commit(root), "source_hash": key, "seconds": a.seconds,
        "trace": a.trace, "sf": spec["sf"],
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "inputs": {"tables": table_rows, **raw.get("inputs", {})},
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "failures": reasons[:20], "notes": notes,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}})

    out = e2e
    if a.trace:
        with open(spans_path) as fh:
            spans = [json.loads(line) for line in fh]
        layers, absent = metrics.per_layer(raw, spans)
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        record["absent"] = absent
        if "progress" in raw:
            bookkeeping = sum(layers[k][0] for k in ("streaming.latest_offset_ms",
                                                     "streaming.wal_commit_ms",
                                                     "streaming.commit_offsets_ms"))
            record["checkpoint_share_of_batch_ms_p50"] = bookkeeping / e2e["batch_ms_p50"][0]
        untraced_path = os.path.join(root, BUILD, "records", f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)
            why = comparable(base, record)
            if why:
                record["tracing_overhead"] = f"not computed: {why}"
            else:
                record["tracing_overhead"] = {
                    k: e2e[k][0] / base["end_to_end"][k]["value"] - 1.0 for k in e2e}
        else:
            record["tracing_overhead"] = (f"not computed: no untraced record for seed {a.seed}; "
                                          f"run --trace 0 with the same seed first")
        out = layers

    os.makedirs(os.path.join(root, BUILD, "records"), exist_ok=True)
    with open(os.path.join(root, BUILD, "records",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
