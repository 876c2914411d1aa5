"""Workload definitions and the seeded request generator.

The seed reaches only this module: it draws the federated request list
and the order in which each pass runs its entries. The program sees
only the generated requests and the entry order.
"""
import datetime
import random

# Operator family (graft.operators.<Family>, or graft.streaming.Streams)
# -> an entry of that family that the traced run times when the
# workload itself does not run the family, so every per-layer metric is
# measured on every workload.
PROBE_ENTRIES = {
    "Dedup": "dedup_minhash_lsh",
    "Text": "text_tokens_bpe",
    "Pipeline": "pipeline_dsir_weights",
    "Ann": "ann_kmeans_train",
    "Layout": "layout_zorder",
    "Sketch": "agg_kmv_distinct",
    "Graph": "graph_pagerank_converged",
    "streaming": "stream_window_agg",
}

WORKLOADS = {
    "federated_scan": {
        "data": "fed",
        "clients": 2,
        "why": "Arrow-over-HTTP scans, pushed aggregates, server SQL, joins, "
               "early-closed LIMITs and split plans: sources and bridge work, "
               "operators idle",
    },
    "curation_batch": {
        "data": "small",
        "clients": 1,
        # an odd count: the median latency then falls on one entry's
        # calls, not in the gap between two entries' calls
        "entries": [
            "dedup_minhash_lsh", "text_tokens_bpe", "pipeline_dsir_weights",
            "agg_kmv_distinct", "text_quality_model",
        ],
        "why": "LLM-data operators: per-row kernels, shuffles and operator CPU; "
               "the Arrow source idle",
    },
}

# Row counts of the federated tables (gen_data.py at sf 0.03).
FED_ORDERS = 45000
FED_PARTS = 6000
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# Requests of each kind in a pass. Nothing measured or published
# weights the kinds, so each gets the same share, 2, except `scan`,
# which gets one more so that a pass holds an odd number of requests.
# With six kinds of equal share whose latencies barely overlap, the
# median latency falls in the gap between the third and the fourth kind
# and jumps between seeds. The weights are an assumption, not a traffic
# model.
FED_MIX = {"scan": 3, "agg": 2, "sql": 2, "join": 2, "limit": 2, "plan": 2}
# Where each request of a kind draws its parameters. A parameter's range
# is cut into as many equal strata as the kind has requests, and request
# i draws near the middle of stratum STRATA[kind][param][i], within the
# central JITTER share of it. The seed moves every draw that little and
# draws the order of the requests, the columns, the bloom keys, the
# dates and the limits; which request gets which part of a range is
# fixed, so every seed's pass does about the same work. With draws
# anywhere in their stratum a selective scan could read 3 % or 95 % of
# lineitem, and the quartile spread of pass_s over ten seeds was 0.16.
# Scan 0 is the full scan, scan 2 carries the bloom predicate; agg 0 has
# no GROUP BY.
STRATA = {
    "scan": {"sel": [None, 0, 1], "split": [1, 2, 0], "width": [2, 0, 1]},
    "agg": {"sel": [1, 0], "split": [0, 1]},
    "sql": {"split": [0, 1]},
    "join": {"split": [1, 0]},
    "limit": {"sel": [0, 1], "split": [1, 0], "width": [1, 0]},
    "plan": {"split": [0, 1], "width": [1, 0]},
}
JITTER = 0.2
# Passes whose `sql` texts are drawn; a run of at most 180 s holds far
# fewer. The server caches a query's result by its text, so a text
# repeated across passes would be executed once, in the untimed
# warm-up, and every timed request would read the cached result.
FED_PASSES = 32
# l_shipdate spans 1992-01-02 .. 1998-12-01; the cut-off days lie in
# the 240 days from March 1995, so every `sql` request aggregates about
# half of lineitem
SQL_DAY0 = datetime.date(1995, 3, 1)
SQL_DAYS = 240


def _draws(rng, kind, param, jitter=JITTER):
    """One draw in [0, 1) per request of `kind`, each in the central
    `jitter` share of its stratum of `param` (None: the request has no
    such draw)."""
    strata = STRATA[kind][param]
    n = sum(s is not None for s in strata)
    return [None if s is None else (s + 0.5 + jitter * (rng.random() - 0.5)) / n
            for s in strata]


def _selectivity(u, lo_exp):
    """Log-uniform in [10^lo_exp, 1]; u None = 1 (a full scan)."""
    return 1.0 if u is None else 10 ** (lo_exp * (1 - u))


def _split_bytes(u):
    """Log-uniform in [1 MiB, 16 MiB]. The federated lineitem is 13.7 MB
    in 12 row groups of 1.1 MB, so the range runs from one split per row
    group to one split for the whole file, as 2-128 MB does on a
    lineitem of 49 row groups of ~3.5 MB."""
    return int(2 ** (20 + 4 * u))


def _width(u):
    """A projection of 2..5 columns. Width draws are stratum centres
    (jitter 0): a centre can sit on a boundary between two widths."""
    return 2 + int(4 * u)


def _orderkey_below(sel):
    return f"l_orderkey < {max(1, int(sel * FED_ORDERS))}"


def fed_passes(seed, passes=FED_PASSES):
    """The federated request list of each pass, drawn from `seed`. Every
    pass runs the same requests, except that its `sql` requests get
    texts of their own: the cut-off days are distinct across all
    passes. Request names are unique across passes."""
    rng = random.Random(f"fed-{seed}")
    base = _fed_list(rng)
    days = iter(rng.sample(range(SQL_DAYS), FED_MIX["sql"] * passes))
    out = []
    for p in range(passes):
        reqs = []
        for i, r in enumerate(base):
            r = dict(r, name=f"p{p:02d}_{r['kind']}_{i:02d}")
            if r["kind"] == "sql":
                r["sql"] = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                            "sum(l_quantity) AS sum_qty FROM lineitem WHERE l_shipdate < "
                            f"TIMESTAMP '{SQL_DAY0 + datetime.timedelta(next(days))} 00:00:00' "
                            "GROUP BY l_returnflag, l_linestatus")
            reqs.append(r)
        out.append(reqs)
    return out


def _fed_list(rng):
    """One pass's requests, FED_MIX of each kind, their parameters drawn
    inside the strata STRATA fixes; `sql` requests get their text per
    pass."""
    out = []
    # selectivity 0.1 %..100 %: one full scan (lineitem's whole wire
    # path), the others log-stratified over the range
    for i, (sel, split, width) in enumerate(zip(
            _draws(rng, "scan", "sel"), _draws(rng, "scan", "split"), _draws(rng, "scan", "width", 0))):
        r = {"kind": "scan", "table": "lineitem", "cols": rng.sample(LINEITEM_COLS, _width(width)),
             "where": _orderkey_below(_selectivity(sel, -3)), "split_bytes": _split_bytes(split)}
        if i == 2:
            r["bloom_col"] = "l_partkey"
            r["bloom_keys"] = [str(k) for k in rng.sample(range(FED_PARTS), FED_PARTS // 10)]
        out.append(r)
    groupings = [[], rng.choice([["l_returnflag"], ["l_returnflag", "l_linestatus"]])]
    for g, sel, split in zip(groupings, _draws(rng, "agg", "sel"), _draws(rng, "agg", "split")):
        out.append({"kind": "agg", "table": "lineitem", "where": _orderkey_below(_selectivity(sel, -2)),
                    "group_by": g, "split_bytes": _split_bytes(split)})
    out += [{"kind": "sql", "split_bytes": _split_bytes(split)} for split in _draws(rng, "sql", "split")]
    # q3's shape and date window: orders before, lineitems after a day
    # in March 1995
    out += [{"kind": "join", "segment": rng.choice(SEGMENTS),
             "date": f"1995-03-{rng.randint(1, 31):02d} 00:00:00", "split_bytes": _split_bytes(split)}
            for split in _draws(rng, "join", "split")]
    out += [{"kind": "limit", "table": "lineitem", "cols": rng.sample(LINEITEM_COLS, _width(width)),
             "where": _orderkey_below(_selectivity(sel, -1)), "limit": rng.randint(10, 1000),
             "split_bytes": _split_bytes(split)}
            for sel, split, width in zip(_draws(rng, "limit", "sel"), _draws(rng, "limit", "split"),
                                         _draws(rng, "limit", "width", 0))]
    out += [{"kind": "plan", "table": "lineitem", "cols": rng.sample(LINEITEM_COLS, _width(width)),
             "split_bytes": _split_bytes(split)}
            for split, width in zip(_draws(rng, "plan", "split"), _draws(rng, "plan", "width", 0))]
    # a fixed order, the kinds taken in turn: the two clients pull from
    # one cursor, so the order decides which requests run side by side,
    # and a seeded shuffle made that pairing, and with it the join and
    # sql latencies, differ from seed to seed
    by_kind = {k: [r for r in out if r["kind"] == k] for k in FED_MIX}
    return [r for i in range(max(FED_MIX.values())) for k in FED_MIX for r in by_kind[k][i:i + 1]]


def entry_orders(entries, seed, passes=64):
    """The entry order of each pass: a seeded shuffle per pass."""
    rng = random.Random(f"order-{seed}")
    return [rng.sample(entries, len(entries)) for _ in range(passes)]
