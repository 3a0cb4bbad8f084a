"""Output checks against DuckDB over the same parquet tables.

A registry operation's first-pass output (written by the JVM side) must
match its `SparkEntry.oracleSql` entry by row count and by an
order-independent hash over its rows, compared the way graft's verify
recipe compares them: columns sorted by name, every value rendered as
pandas text. Every later pass must reproduce the first pass's hash. The
netagg caches a serve set-up writes are compared the same way against
their registry oracles. A serve response must equal its request's
generated SQL row for row (pages and slices are ordered, so order counts
there).
"""
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):  # a Spark-written table: a directory of part files
            p = os.path.join(p, "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def frame_digest(df):
    """(row count, hash) of a pandas frame, independent of row order."""
    df = df[sorted(df.columns)]
    rows = sorted(df.astype(str).apply("|".join, axis=1)) if len(df) else []
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(rows), "|".join(df.columns) + ":" + h


def expected_digest(con, sql, cache_file=None):
    """The oracle's (rows, hash), memoised in `cache_file` by SQL text: the
    tables of a data directory never change, so the answer does not."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    memo = {}
    if cache_file and os.path.isfile(cache_file):
        memo = json.load(open(cache_file))
    if key not in memo:
        memo[key] = list(frame_digest(con.sql(sql).df()))
        if cache_file:
            tmp = f"{cache_file}.{os.getpid()}"
            json.dump(memo, open(tmp, "w"))
            os.replace(tmp, cache_file)
    return tuple(memo[key])


def check_ops(con, result, cache_file=None, ops=None):
    """op -> failure reason (None when the op's outputs check out), for
    the ops in `ops` (default all) whose tables `con` serves."""
    out = {}
    by_op = {}
    for r in result["records"]:
        if ops is None or r["op"] in ops:
            by_op.setdefault(r["op"], []).append(r)
    for op, recs in by_op.items():
        if not all(r["ok"] for r in recs):
            out[op] = next(r["error"] for r in recs if not r["ok"])
            continue
        if len({r["hash"] for r in recs}) != 1:
            out[op] = "output differs between passes"
            continue
        sql = result["oracle_sql"].get(op)
        path = result["outputs"].get(op)
        if sql is None:
            out[op] = None if recs[0]["rows"] > 0 else "empty output, no oracle"
            continue
        out[op] = check_table(con, path, sql, cache_file)
    return out


def check_table(con, path, sql, cache_file=None):
    """None if the parquet table at `path` matches `sql` by row count and
    order-independent hash, else the reason."""
    got = frame_digest(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())
    exp = expected_digest(con, sql, cache_file)
    return None if tuple(got) == exp else f"spark {got} != oracle {exp}"


def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return str(v)
    if type(v).__name__ == "Decimal":
        return round(float(v), 6)
    return v


def check_request(con, req, response, cache_dir):
    """None if every part of `response` equals its SQL, else the reason."""
    for i, part in enumerate(req["parts"]):
        exp = [tuple(norm(x) for x in row)
               for row in con.sql(part["sql"].replace("{cache}", cache_dir)).fetchall()]
        got = [tuple(norm(x) for x in row) for row in response[i]]
        if got != exp:
            return f"part {i} ({part['kind']}): {len(got)} rows != {len(exp)} expected"
    return None
