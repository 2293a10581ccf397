"""Turn the harness's record stream into the printed metrics.

End-to-end metrics come from an untraced run's one window. Per-layer
metrics come from a traced run: its traced window gives the layers, and
the untraced windows on either side of it give the tracing overhead and
the drift from one pass to the next in one process.
"""

import statistics

from . import stats

E2E = [
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
    ("cpu_s_per_op", "s"),
]

# name, unit; every per-op figure is a mean over the traced window's ops
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.exchanges", "count"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("staging.pin_s", "s"), ("staging.pinned", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.delay_s", "s"),
    ("scheduler.driver_gap_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.deserialize_s", "s"), ("executor.peak_mem_mb", "MB"),
    ("executor.skew", "ratio"), ("executor.busy_frac", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.write_records", "count"),
    ("shuffle.write_s", "s"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("spill.memory_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
    ("tables.input_bytes", "bytes"), ("tables.input_records", "count"),
    ("store.upsert_s", "s"), ("store.patch_s", "s"), ("store.delete_s", "s"),
    ("store.read_s", "s"), ("store.rows_written", "count"),
    ("store.files_written", "count"), ("store.bytes_written", "bytes"),
    ("store.files_read", "count"), ("store.insert_yield", "ratio"),
    ("store.read_p50_s", "s"), ("store.write_p50_s", "s"),
    ("store.write_amp", "ratio"),
    ("analytics.bs_iv_us", "us"), ("analytics.binomial_iv_us", "us"),
    ("analytics.greeks_us", "us"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("host.steal_frac", "ratio"),
    ("self.op_s", "s"), ("self.build_s", "s"), ("self.pin_s", "s"),
    ("self.execute_s", "s"), ("self.job_s", "s"), ("self.catalyst_s", "s"),
    ("trace.overhead_frac", "ratio"), ("trace.coverage_median", "ratio"),
    ("trace.coverage_misses", "count"), ("noise.pass_drift_frac", "ratio"),
    ("ops.failed_frac", "ratio"),
]

WRITE_KINDS = ("upsert", "patch", "delete")
STORE_KINDS = ("read",) + WRITE_KINDS


def by_kind(records, kind, window=None):
    return [r for r in records
            if r.get("k") == kind and (window is None or r.get("window") == window)]


def window_summary(records, window):
    """(ops, ok ops, window record) of one window."""
    ops = by_kind(records, "op", window)
    (win,) = by_kind(records, "window", window)
    return ops, [o for o in ops if o["ok"]], win


# A pass during which the host stole more than this share of all CPU
# time measures the neighbours more than the program.
STEAL_LIMIT = 0.02


def quiet_passes(passes):
    """The passes the host did not steal from; when it stole from all of
    them, the one it stole least from. Every pass runs the same
    multiset of ops, so any subset keeps the workload's mix."""
    quiet = [p for p in passes if p["steal_frac"] <= STEAL_LIMIT]
    return quiet or [min(passes, key=lambda p: p["steal_frac"])]


def end_to_end(records):
    setups = [r["s"] for r in by_kind(records, "setup")]
    kept = quiet_passes(by_kind(records, "pass", "main"))
    numbers = {p["pass"] for p in kept}
    ok = [o for o in by_kind(records, "op", "main") if o["ok"] and o["pass"] in numbers]
    lat = [o["s"] for o in ok]
    wall = sum(p["s"] for p in kept)
    return {
        "setup_s": statistics.median(setups),
        "ops_per_s": len(ok) / wall,
        "op_p50_s": statistics.median(lat) if lat else float("nan"),
        "cpu_s_per_op": sum(p["cpu_s"] for p in kept) / max(1, len(ok)),
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(records, cpus, store=None):
    """store: the replay's figures when a store op log ran, else None."""
    ops, ok, win = window_summary(records, "traced")
    spans = by_kind(records, "span")
    layer = [o["layers"] for o in ops]

    def lsum(key, scale=1.0):
        return _mean(lay[key] * scale for lay in layer)

    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    build_s, pin_s, gap_s, coverage, build_jobs = [], [], [], [], []
    for o in ops:
        ss = by_op.get(o["i"], [])
        named = {s["name"]: s for s in ss if s["parent"] != 0 or s["name"] == "op"}
        op_span = named.get("op")
        build, pin, execute = named.get("build"), named.get("pin"), named.get("execute")
        jobs = [(s["t0"], s["t1"]) for s in ss if s["name"] == "job"]
        build_s.append((build["t1"] - build["t0"]) / 1e6 if build else 0.0)
        pin_s.append((pin["t1"] - pin["t0"]) / 1e6 if pin else 0.0)
        build_jobs.append(sum(1 for a, _ in jobs if build and build["t0"] <= a <= build["t1"]))
        if execute:
            ex = [(a, b) for a, b in jobs if execute["t0"] <= a <= execute["t1"]]
            gap_s.append(((execute["t1"] - execute["t0"]) -
                          stats.covered(ex, execute["t0"], execute["t1"])) / 1e6)
        if op_span and build and pin and execute:
            coverage.append((o["i"], o["name"], stats.op_coverage(
                (op_span["t0"], op_span["t1"]), (build["t0"], build["t1"]),
                (pin["t0"], pin["t1"]), (execute["t0"], execute["t1"]), jobs)))

    # The store layer: the store_ingest op log, run after a query
    # workload's traced window or as store_ingest's own traced window.
    store_ops = by_kind(records, "op", "store") or ops
    kind_s = {k: [o["s"] for o in store_ops if o["name"] == k and o["ok"]] for k in STORE_KINDS}
    writes = [o for o in store_ops if o["name"] in WRITE_KINDS]

    selfs = stats.self_times(spans)
    n_ops = max(1, len(ops))

    def self_of(prefix):
        return sum(v for k, v in selfs.items()
                   if k == prefix or k.startswith(prefix + ".")) / 1e6 / n_ops

    plain = [window_summary(records, w) for w in ("plain1", "plain2")]
    plain_rate = _mean(len(p[1]) / p[2]["s"] for p in plain)
    traced_rate = len(ok) / win["s"]
    per_op = [p[2]["s"] / max(1, len(p[0])) for p in plain]
    kernels = (by_kind(records, "kernels") or [{}])[0]
    steal = [w["steal_frac"] for w in by_kind(records, "window")]
    misses = [c for c in coverage if abs(c[2] - 1.0) > 0.10]
    failed = sum(1 for o in ops if not o["ok"])

    m = {
        "queries.build_s": _mean(build_s),
        "queries.build_jobs": _mean(build_jobs),
        "catalyst.analysis_s": lsum("analysis_ms", 1e-3),
        "catalyst.optimization_s": lsum("optimization_ms", 1e-3),
        "catalyst.planning_s": lsum("planning_ms", 1e-3),
        "catalyst.exchanges": lsum("exchanges"),
        "codegen.compiles": _mean(o["compiles"] for o in ops),
        "codegen.compile_s": _mean(o["compile_s"] for o in ops),
        "staging.pin_s": _mean(pin_s),
        "staging.pinned": _mean(o.get("pinned", 0) for o in ops),
        "scheduler.jobs": lsum("jobs"),
        "scheduler.stages": lsum("stages"),
        "scheduler.tasks": lsum("tasks"),
        "scheduler.delay_s": lsum("scheduler_delay_ms", 1e-3),
        "scheduler.driver_gap_s": _mean(gap_s),
        "executor.run_s": lsum("run_ms", 1e-3),
        "executor.cpu_s": lsum("cpu_ns", 1e-9),
        "executor.gc_s": lsum("gc_ms", 1e-3),
        "executor.deserialize_s": lsum("deserialize_ms", 1e-3),
        "executor.peak_mem_mb": max((lay["peak_mem_bytes"] for lay in layer), default=0) / 2**20,
        "executor.skew": statistics.median([lay["skew"] for lay in layer]) if layer else 1.0,
        "executor.busy_frac": sum(lay["run_ms"] for lay in layer) / 1e3 / (win["s"] * cpus),
        "shuffle.write_bytes": lsum("shuffle_write_bytes"),
        "shuffle.write_records": lsum("shuffle_write_records"),
        "shuffle.write_s": lsum("shuffle_write_ns", 1e-9),
        "shuffle.read_bytes": lsum("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": lsum("fetch_wait_ms", 1e-3),
        "spill.memory_bytes": lsum("spill_memory_bytes"),
        "spill.disk_bytes": lsum("spill_disk_bytes"),
        "tables.input_bytes": lsum("input_bytes"),
        "tables.input_records": lsum("input_records"),
        "store.upsert_s": _mean(kind_s["upsert"]),
        "store.patch_s": _mean(kind_s["patch"]),
        "store.delete_s": _mean(kind_s["delete"]),
        "store.read_s": _mean(kind_s["read"]),
        "store.rows_written": _mean(o["layers"]["output_records"] for o in writes),
        "store.files_written": _mean(o.get("files_written", 0) for o in writes),
        "store.bytes_written": _mean(o.get("bytes_written", 0) for o in writes),
        "store.files_read": _mean(o["layers"]["files_read"] for o in store_ops
                                  if o["name"] == "read"),
        "store.insert_yield": store["insert_yield"] if store else 0.0,
        "store.read_p50_s": statistics.median(kind_s["read"]) if kind_s["read"] else 0.0,
        "store.write_p50_s": (statistics.median([o["s"] for o in writes if o["ok"]])
                              if writes else 0.0),
        "store.write_amp": store["write_amp"] if store else 0.0,
        "analytics.bs_iv_us": kernels.get("bs_iv_us", 0.0),
        "analytics.binomial_iv_us": kernels.get("binomial_iv_us", 0.0),
        "analytics.greeks_us": kernels.get("greeks_us", 0.0),
        "jvm.gc_s": win["gc_s"],
        "jvm.heap_peak_mb": win["heap_peak_mb"],
        "host.steal_frac": _mean(steal),
        "self.op_s": self_of("op"),
        "self.build_s": self_of("build"),
        "self.pin_s": self_of("pin"),
        "self.execute_s": self_of("execute"),
        "self.job_s": self_of("job"),
        "self.catalyst_s": self_of("catalyst"),
        "trace.overhead_frac": 1.0 - traced_rate / plain_rate if plain_rate else 0.0,
        "trace.coverage_median": (statistics.median(c[2] for c in coverage)
                                  if coverage else 0.0),
        "trace.coverage_misses": len(misses),
        "noise.pass_drift_frac": per_op[1] / per_op[0] - 1.0 if per_op[0] else 0.0,
        "ops.failed_frac": failed / n_ops,
    }
    detail = {
        "coverage_misses": [{"op": i, "name": n, "coverage": c} for i, n, c in misses],
        "self_s": {k: v / 1e6 for k, v in sorted(selfs.items())},
        "pass_wall_s": {w: p[2]["s"] for w, p in zip(("plain1", "plain2"), plain)},
        "steal_frac": {w["window"]: w["steal_frac"] for w in by_kind(records, "window")},
    }
    return m, detail
