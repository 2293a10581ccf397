"""The three workloads and the inputs the seed generates for them.

The seed controls only what the program is asked to do: the order of
the queries in every pass, and the store's initial table and op log.
The data files and the query lists are fixed.
"""

import datetime
import random

# Each query workload is a fixed list drawn from its families, sized so
# that set-up, the output check and two whole passes fit the run budget
# (README.md, "Why these queries"). The same list runs for every seed;
# only the order changes.
FIN_SURFACE = [
    # Relational: the MySQL-lifecycle mirror (batch update, delete)
    "q07_batch_update", "q08_filtered_delete",
    # TimeSeries: bars, resample, as-of
    "q10_resample_ohlc_1h", "q12_asof_join", "q93_asof_forward",
    # Finance: orders and the OCC symbol round trip
    "q40_occ_roundtrip", "q78_order_lifecycle",
    # Bulk (greeks on a chain snapshot), Calendar, Olap, Session
    "q75_snapshot_greeks", "q53_market_hour_bars", "q58_rollup_revenue",
    "q49_sessionize",
]

CORPUS_CURATION = [
    # Curation and Text: the gram- and fingerprint-keyed exchanges
    "q107_substring_dedup", "q113_winnow_near_dup",
    "q173_exact_substring_remove", "q25_jaccard_pairs",
    # Text: per-row codegen kernels
    "q79_repetition_ratio", "q28_bigram_counts",
]

QUERY_WORKLOADS = {"fin_surface": FIN_SURFACE, "corpus_curation": CORPUS_CURATION}
WORKLOADS = ("fin_surface", "corpus_curation", "store_ingest")

# store_ingest: the table universe and the fixed op mix of one block.
ROOTS = ["AAPL", "MSFT", "SPY", "QQQ", "TSLA", "AMZN", "NVDA", "META"]
N_ROOTS = 4
N_DAYS = 20
DAY0 = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days
BLOCK = {"read": 12, "upsert": 5, "patch": 2, "delete": 1}

# Passes handed to the harness: it runs whole passes until the run's
# seconds have passed, and a traced run needs three windows.
PASSES = 12
# store_ingest's untimed first pass: one op of each kind.
WARMUP = ("read", "upsert", "patch", "delete")


def rng_for(workload, seed):
    return random.Random(f"{workload}:{seed}")


def query_passes(workload, seed, passes=PASSES):
    """One seed-permuted order of the workload's list per pass."""
    rng = rng_for(workload, seed)
    out = []
    for _ in range(passes):
        order = list(QUERY_WORKLOADS[workload])
        rng.shuffle(order)
        out.append(order)
    return out


def store_log(seed, blocks=PASSES, n_roots=N_ROOTS, n_days=N_DAYS):
    """The store's initial load and op log for a seed.

    Returns (init, blocks): init is a list of (root, first_day, days)
    fetch windows; blocks[0] is the untimed warm-up (one op of each
    kind), and every later block holds exactly BLOCK's mix in a seeded
    order. Days are epoch-day numbers.
    """
    rng = rng_for("store_ingest", seed)
    roots = ROOTS[:n_roots]
    init = []
    for r in roots:
        start = rng.randrange(0, n_days // 4)
        length = rng.randrange(n_days // 2, 3 * n_days // 4)
        init.append((r, DAY0 + start, min(length, n_days - start)))

    def span(max_len):
        n = rng.randint(1, max_len)
        d0 = rng.randrange(0, n_days - n + 1)
        return DAY0 + d0, DAY0 + d0 + n - 1

    out = []
    for b in range(blocks + 1):
        kinds = [k for k, n in BLOCK.items() for _ in range(n)]
        rng.shuffle(kinds)
        if b == 0:
            kinds = list(WARMUP)
        block = []
        for kind in kinds:
            root = rng.choice(roots)
            if kind == "read":
                block.append(("read", root) + span(10))
            elif kind == "upsert":
                d0, d1 = span(5)
                block.append(("upsert", root, d0, d1 - d0 + 1))
            elif kind == "patch":
                block.append(("patch", root) + span(5) + (rng.choice([0.25, 0.5, 1.0]),))
            else:
                block.append(("delete", root) + span(3))
        out.append(block)
    return init, out


def harness_input(workload, seed, seconds, trace, work, data, cpus, setups):
    """The harness's input file: tab-separated directives, one a line."""
    lines = [f"workload\t{workload}", f"seconds\t{seconds}", f"trace\t{trace}",
             f"work\t{work}", f"data\t{data}", f"cpus\t{cpus}", f"setups\t{setups}"]
    if workload in QUERY_WORKLOADS:
        lines += [f"check\t{q}" for q in QUERY_WORKLOADS[workload]]
        return _text(lines, query_passes(workload, seed))
    return store_input(seed, lines)


def store_input(seed, lines=()):
    """The store op log as harness input: the initial load, then one
    pass per block."""
    init, blocks = store_log(seed)
    lines = list(lines) + ["init\t" + "\t".join(map(str, w)) for w in init]
    return _text(lines, blocks)


def _text(lines, passes):
    for i, p in enumerate(passes):
        if i:
            lines.append("pass")
        lines += ["op\t" + "\t".join(map(str, op if isinstance(op, tuple) else (op,)))
                  for op in p]
    return "\n".join(lines) + "\n"
