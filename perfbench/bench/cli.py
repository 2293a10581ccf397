"""``run.py``'s body: build, generate inputs, run the harness, check
outputs, print the result line."""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from . import build, metrics, oracle, workloads
from .store_replay import Replay

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(PERFBENCH, "data", "sf0.001")
CPUS = 4
SETUPS = 3
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# Spark on JDK 17 outside spark-submit needs these (the engine's
# build.sbt sets the same list for its own forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_harness(cp, work, inputs, deadline):
    """inputs: the harness input text, then optionally the store op log's."""
    os.makedirs(os.path.join(work, "tmp"))
    files = []
    for i, text in enumerate(inputs):
        files.append(os.path.join(work, ["input.txt", "store_input.txt"][i]))
        with open(files[-1], "w") as fh:
            fh.write(text)
    out = os.path.join(work, "records.jsonl")
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", files[0], out] + files[1:])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"harness ran out of time; see {log}")
    if proc.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-2000:]
        fail(f"harness exited {proc.returncode}; see {log}\n{tail}")
    with open(out) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def check_queries(records, work, cache):
    """{query: reason} for every query whose check failed."""
    problems = {}
    for r in metrics.by_kind(records, "check"):
        if not r["ok"]:
            problems[r["name"]] = f"{r['err_class']}: {r['err']}"
    ok_names = [r["name"] for r in metrics.by_kind(records, "check") if r["ok"]]
    for name, reason in oracle.check_dumps(DATA, os.path.join(work, "check"),
                                           ok_names, cache).items():
        if reason:
            problems[name] = reason
    return problems


def op_tag(o):
    return f"{o['window']}#{o['i']} {o['name']} {' '.join(o['args'])}"


def check_store(records, input_file):
    """Replay the initial load and every store op that ran, in order, in
    DuckDB; returns (problems, figures)."""
    with open(input_file) as fh:
        init = [ln.rstrip("\n").split("\t")[1:] for ln in fh if ln.startswith("init\t")]
    replay = Replay()
    replay.load([(r, int(d), int(n)) for r, d, n in init])
    problems = {}
    last_write = None
    for o in metrics.by_kind(records, "op"):
        if not o["ok"] or o["name"] not in metrics.STORE_KINDS:
            continue
        expected = replay.apply([o["name"]] + o["args"])
        tag = op_tag(o)
        if o["name"] == "read" and o["rows"] != expected:
            problems[tag] = f"read rows: spark={o['rows']} replay={expected}"
        if o["name"] != "read":
            last_write = tag
            written = (o.get("layers") or {}).get("output_records")
            if written is not None and written != expected:
                problems[tag] = f"rows written: spark={written} replay={expected}"
    (final,) = metrics.by_kind(records, "store")
    diff = replay.table_diff(final["path"])
    if diff:
        problems[last_write or "initial load"] = diff
    return problems, {"write_amp": replay.write_amp(), "insert_yield": replay.insert_yield()}


def main(argv):
    args = parse(argv)
    start = time.monotonic()
    root = os.path.dirname(PERFBENCH)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found under {root}: run from a checkout of the engine")
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cp = build.ensure_built(root, state, BUILD_LIMIT_S)
    except (RuntimeError, subprocess.TimeoutExpired, FileNotFoundError) as e:
        fail(str(e))
    built = time.monotonic()
    inputs = [workloads.harness_input(args.workload, args.seed, args.seconds, args.trace,
                                      work, DATA, CPUS, SETUPS)]
    query_workload = args.workload in workloads.QUERY_WORKLOADS
    if args.trace and query_workload:
        inputs.append(workloads.store_input(args.seed))
    records = run_harness(cp, work, inputs, built + RUN_LIMIT_S)

    problems, store = {}, None
    if query_workload:
        problems.update(check_queries(records, work, os.path.join(state, "oracle")))
    if metrics.by_kind(records, "store"):
        store_file = "store_input.txt" if query_workload else "input.txt"
        found, store = check_store(records, os.path.join(work, store_file))
        problems.update(found)

    window = "traced" if args.trace else "main"
    ops = metrics.by_kind(records, "op", window)
    failed_ops = [o for o in ops if not o["ok"] or o["name"] in problems or
                  op_tag(o) in problems]
    for o in metrics.by_kind(records, "op"):
        if not o["ok"]:
            problems[op_tag(o)] = f"{o['err_class']}: {o['err']}"
    for name, reason in sorted(problems.items()):
        print(f"FAILED {name}: {reason}", file=sys.stderr)

    if args.trace:
        values, detail = metrics.per_layer(records, CPUS, store)
        units = metrics.PER_LAYER
        with open(os.path.join(work, "trace_detail.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
        for m in detail["coverage_misses"]:
            print(f"coverage miss: op {m['op']} {m['name']} {m['coverage']:.3f}",
                  file=sys.stderr)
    else:
        values = metrics.end_to_end(records)
        units = metrics.E2E
    out = {
        "correct": not problems,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units},
    }
    setup = [r["s"] for r in metrics.by_kind(records, "setup")]
    steal = " ".join(f"{p['steal_frac']:.3f}" for p in metrics.by_kind(records, "pass", window))
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(ops)} setup_median={statistics.median(setup):.3f}s "
          f"pass_steal={steal} wall={time.monotonic() - start:.1f}s", file=sys.stderr)
    print(json.dumps(out))
