"""Workload definitions and the seeded inputs of one run.

Pure functions only: the seed fixes the operation order of a batch
workload and the request stream of `serve_interactive`, and each request
carries the DuckDB SQL that its response must equal.
"""
import random

# Module (layer) an operation or request part enters, by the graft package
# that implements it.
LAYER = {
    "q_pagerank_parts": "graph",
    "q_minhash_neardups": "dedup", "q_tfidf": "text",
    "q_cosine_near_dups": "sim", "q_compact_roundtrip": "lake",
    "q_dedup_stream": "streaming",
    "search_counts": "serve", "search_page": "serve", "report": "serve",
    "topk": "ops", "enrich": "ops",
}

# Phase 1 (batch precompute) and phase 2 (interactive serving) of the
# two-phase design. Batch ops name the input they read: `base` tables or
# the `x4` mutated corpus.
WORKLOADS = {
    "batch_precompute": {
        "kind": "batch", "setup": "edge_tier",
        "ops": [["q_pagerank_parts", "base"], ["q_minhash_neardups", "x4"],
                ["q_tfidf", "x4"],
                ["q_cosine_near_dups", "x4"], ["q_compact_roundtrip", "base"],
                ["q_dedup_stream", "base"]],
    },
    "serve_interactive": {
        "kind": "serve", "setup": "precompute",
        "clients": 2, "min_requests": 200, "burst": 4,
    },
}

SETUP_REPS = 3

# Search form fields, each optional. Price bands are equal-width over the
# generated o_totalprice range (uniform on 1,000-500,000 in datagen.py).
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PRICE_BANDS = [(None, None)] + [(lo, lo + 100000.0)
                                for lo in (0.0, 100000.0, 200000.0, 300000.0, 400000.0)]
DEFAULT_K = 200  # graft.serve.Api.DefaultK: the GUI's limit(200)
ACTIONS = ["search", "report", "topk", "enrich"]

# netagg caches a report request reads: the columns the serve layer
# validates, a unique ordering, and the registry oracle of the cache with
# the row limit `Precompute.netaggJob` applies in that ordering (None:
# the whole result). The set-up is checked against the oracles.
REPORTS = {
    "category_stats": (["l_returnflag", "l_linestatus", "num_items"],
                       [["l_returnflag", False], ["l_linestatus", False]],
                       "q_category_stats", 50),
    "degree_hist": (["outDegree", "num_vertices"], [["outDegree", False]],
                    "q_degree_hist", 20),
    "top_by_degree": (["id", "outDegree"], [["outDegree", True], ["id", False]],
                      "q_degree_enrich", 20),
    "size_buckets": (["qty_bucket", "num_items"], [["qty_bucket", False]],
                     "q_qty_buckets", None),
    "view_buckets": (["price_bucket", "num_orders"], [["price_bucket", False]],
                     "q_price_buckets", None),
}


def op_order(seed, ops):
    """The workload's operations in the seed's order."""
    out = list(ops)
    random.Random(seed).shuffle(out)
    return out


def _lit(v):
    return f"'{v}'" if isinstance(v, str) else repr(v)


def _search_pred(p):
    preds = []
    if p.get("status"):
        preds.append(f"o_orderstatus = {_lit(p['status'])}")
    if p.get("min_price") is not None:
        preds.append(f"o_totalprice >= {_lit(p['min_price'])}")
    if p.get("max_price") is not None:
        preds.append(f"o_totalprice <= {_lit(p['max_price'])}")
    if p.get("priority"):
        preds.append(f"o_orderpriority = {_lit(p['priority'])}")
    return " AND ".join(preds) or "TRUE"


def _order(order):
    return ", ".join(f"{c} {'DESC' if d else 'ASC'}" for c, d in order)


def cache_sql(cache, oracle_sql):
    """DuckDB SQL equal to a netagg cache, given its oracle's SQL."""
    _, order, _, limit = REPORTS[cache]
    cut = f" LIMIT {limit}" if limit else ""
    return f"SELECT * FROM ({oracle_sql}) ORDER BY {_order(order)}{cut}"


def part_sql(p):
    """DuckDB SQL equal to one request part's response. Report parts read
    the run's cache directory through the `{cache}` placeholder."""
    k = p.get("k")
    if p["kind"] == "search_counts":
        return ("SELECT count(*) AS total, count(CASE WHEN "
                f"{_search_pred(p)} THEN 1 END) AS hits FROM orders")
    if p["kind"] == "search_page":
        return ("SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority "
                f"FROM orders WHERE {_search_pred(p)} "
                f"ORDER BY o_totalprice DESC, o_orderkey "
                f"LIMIT {k} OFFSET {p['page'] * k}")
    if p["kind"] == "report":
        return (f"SELECT * FROM read_parquet('{{cache}}/{p['cache']}/*.parquet')"
                f" ORDER BY {_order(p['order'])} LIMIT {k}")
    if p["kind"] == "topk":
        return ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
                f"FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}")
    if p["kind"] == "enrich":
        return ("SELECT t.o_orderkey, t.o_totalprice, c.c_name, c.c_mktsegment "
                "FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}) t "
                "LEFT JOIN customer c ON c.c_custkey = t.o_custkey "
                "ORDER BY t.o_totalprice DESC, t.o_orderkey")
    raise ValueError(p["kind"])


def request(r, kind):
    """One request for a user action of the reference GUI's phase 2, its
    parameters drawn from `r` (a random.Random):

    - search: the "frequency by search condition" form, every field blank
      or one of its values with equal chance, answered by two counts and
      one page of `DEFAULT_K` rows (counts + page 0);
    - report: one cached report tab, rendered whole;
    - topk: the top-K query at `DEFAULT_K`;
    - enrich: the top-K joined to its customers.

    Each part carries its check SQL."""
    if kind == "search":
        lo, hi = r.choice(PRICE_BANDS)
        form = {"status": r.choice([None] + STATUS), "min_price": lo,
                "max_price": hi, "priority": r.choice([None] + PRIORITY)}
        form = {k: v for k, v in form.items() if v is not None}
        parts = [dict(form, kind="search_counts"),
                 dict(form, kind="search_page", k=DEFAULT_K, page=0)]
    elif kind == "report":
        cache = r.choice(sorted(REPORTS))
        cols, order, _, _ = REPORTS[cache]
        parts = [{"kind": "report", "cache": cache, "columns": cols,
                  "order": order, "k": DEFAULT_K}]
    else:
        parts = [{"kind": kind, "k": DEFAULT_K}]
    for p in parts:
        p["sql"] = part_sql(p)
    return {"parts": parts}


def request_stream(seed, n):
    """`n` requests, the same for the same seed. Every action is equally
    likely: actions come in rounds that hold each once, in seeded order, so
    the first 4m requests hold each of the 4 actions exactly m times and
    the seed varies only their order and parameters."""
    r = random.Random(seed)
    out = []
    while len(out) < n:
        out += [request(r, kind) for kind in r.sample(ACTIONS, len(ACTIONS))]
    return out[:n]
