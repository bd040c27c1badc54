#!/usr/bin/env python3
"""Split a JFR execution-sample dump into the tables that attribute a
streaming query's per-trigger cost.

Input is the text `jfr print` writes; record with
`-XX:FlightRecorderOptions:stackdepth=1024` so that Catalyst's deep stacks
keep their outer frames:

    jfr print --events jdk.ExecutionSample --stack-depth 1024 rec.jfr > rec.txt
    python3 tools/jfr_phases.py rec.txt          # or: ... | python3 tools/jfr_phases.py

Three tables are printed:

  - samples per thread class: the stream execution thread (the driver's
    per-trigger work), executor task threads, and every other thread;
  - driver samples by phase x owner. The owner is the innermost frame
    that belongs to graft (`graft.`) or to the benchmark harness
    (`perfbench.`), else Spark. The phase is the innermost frame that
    matches one of PHASES, else `other`;
  - executor samples by their innermost operator: a whole-stage codegen
    stage (a generated `GeneratedIteratorForCodegenStage` class) or a
    Spark `...Exec` operator running interpreted, else `(no operator)`.
"""
import collections
import re
import sys

# (phase, pattern over a frame's `class.method`), tried in this order on
# each frame from the innermost outwards; the first frame that matches any
# of them names the sample's phase.
PHASES = [
    ("Analyzer", re.compile(r"\.catalyst\.analysis\.")),
    ("Optimizer", re.compile(r"\.catalyst\.optimizer\.|\.SparkOptimizer\b")),
    ("QueryPlanner", re.compile(r"\.catalyst\.planning\.QueryPlanner\b|\.SparkStrategies\b|\.SparkPlanner\b")),
    ("CodegenSupport/CodeGenerator", re.compile(r"\.CodegenSupport\b|\.codegen\.CodeGenerator\b")),
    ("ClosureCleaner", re.compile(r"\.ClosureCleaner\b")),
    ("Configuration.<init>", re.compile(r"^org\.apache\.hadoop\.conf\.Configuration\.<init>$")),
    ("FileStreamSource", re.compile(r"\.FileStreamSource\b")),
]

OWNERS = [("graft", "graft."), ("harness", "perfbench.")]

STAGE = re.compile(r"GeneratedIteratorForCodegenStage\d+")
OPERATOR = re.compile(r"^org\.apache\.spark\.sql\.execution\.(?:\w+\.)*(\w+Exec)\b")

THREAD = re.compile(r'^\s*sampledThread = "(.*)" \(javaThreadId')
FRAME = re.compile(r"^\s+([\w$.<>/]+)\(")


def samples(lines):
    """Yields (thread name, frames innermost first, `class.method` each)
    for every jdk.ExecutionSample event in a `jfr print` dump."""
    thread, frames, in_stack = None, [], False
    for line in lines:
        if line.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif in_stack:
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))
            elif line.strip() == "]":
                in_stack = False
                yield thread, frames
        elif line.strip().startswith("stackTrace = ["):
            in_stack = True
        else:
            m = THREAD.match(line)
            if m:
                thread = m.group(1)


def thread_class(name):
    if name is None:
        return "other"
    if name.startswith("stream execution thread for"):
        return "stream execution thread"
    if name.startswith("Executor task launch worker"):
        return "executor task"
    return "other"


def owner(frames):
    for f in frames:
        for who, prefix in OWNERS:
            if f.startswith(prefix):
                return who
    return "Spark"


def phase(frames):
    for f in frames:
        for name, pattern in PHASES:
            if pattern.search(f):
                return name
    return "other"


def operator(frames):
    for f in frames:
        if STAGE.search(f):
            return "WholeStageCodegen stage"
        m = OPERATOR.match(f)
        if m:
            return m.group(1)
    return "(no operator)"


def tables(lines):
    """The three tables as Counters: thread class, (owner, phase) of the
    driver's samples, and operator of the executors'."""
    threads, driver, executor = (collections.Counter() for _ in range(3))
    for name, frames in samples(lines):
        cls = thread_class(name)
        threads[cls] += 1
        if cls == "stream execution thread":
            driver[(owner(frames), phase(frames))] += 1
        elif cls == "executor task":
            executor[operator(frames)] += 1
    return threads, driver, executor


def share(n, total):
    return f"{100.0 * n / total:.1f} %" if total else "-"


def table(header, rows):
    """A markdown table, each column as wide as its widest cell."""
    widths = [max(len(str(r[i])) for r in [header] + rows) for i in range(len(header))]
    line = lambda r: "| " + " | ".join(str(c).ljust(w) for c, w in zip(r, widths)) + " |"
    return [line(header), "|" + "|".join("-" * (w + 2) for w in widths) + "|"] + [line(r) for r in rows]


def render(threads, driver, executor):
    total = sum(threads.values())
    out = [f"samples per thread class ({total} samples)"]
    out += table(["thread class", "samples", "share"],
                 [[c, threads[c], share(threads[c], total)]
                  for c in ("stream execution thread", "executor task", "other")])

    d_total = sum(driver.values())
    phases = [p for p, _ in PHASES] + ["other"]
    owners = [o for o, _ in OWNERS] + ["Spark"]
    rows = [[p] + [share(driver[(o, p)], d_total) for o in owners]
            + [share(sum(driver[(o, p)] for o in owners), d_total)] for p in phases]
    rows.append(["all"] + [share(sum(driver[(o, p)] for p in phases), d_total) for o in owners]
                + [share(d_total, d_total)])
    out += ["", f"driver samples (stream execution thread) by phase x owner, share of {d_total}"]
    out += table(["phase"] + owners + ["all"], rows)

    e_total = sum(executor.values())
    out += ["", f"executor samples by innermost operator, share of {e_total}"]
    out += table(["operator", "samples", "share"],
                 [[op, n, share(n, e_total)]
                  for op, n in sorted(executor.items(), key=lambda kv: (-kv[1], kv[0]))])
    return "\n".join(out)


def main(argv):
    if len(argv) > 2 or (len(argv) == 2 and argv[1] in ("-h", "--help")):
        print(__doc__)
        return 2
    if len(argv) == 2:
        with open(argv[1]) as fh:
            print(render(*tables(fh)))
    else:
        print(render(*tables(sys.stdin)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
