"""Checks query outputs against their DuckDB oracles.

The oracle SQL is the engine's own (`SparkEntry.oracleSql`, dumped by the
harness), and the comparison is the one `tools/check.py` makes: columns
sorted by name, rows by all columns, cells compared exactly and
dtype-sensitively. Oracle results are cached per fixture and SQL text, so a
fixture's oracles run once per checkout, outside any timed region.
"""
import hashlib
import importlib.util
import os
import pickle

import duckdb


def load_check(root):
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixture_digest(fixture_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(fixture_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(fixture_dir, name), "rb") as f:
                h.update(name.encode())
                h.update(f.read())
    return h.hexdigest()[:16]


def connect(fixture_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


def read_result(con, path):
    return con.execute(f"SELECT * FROM '{path}/*.parquet'").df()


def compare(check, got, exp):
    """None when `got` equals `exp` under tools/check.py's rules, else why not."""
    got_c, exp_c = check.canon(got), check.canon(exp)
    if list(got_c.columns) != list(exp_c.columns):
        return f"columns {list(got_c.columns)} vs {list(exp_c.columns)}"
    if len(got_c) != len(exp_c):
        return f"rows {len(got_c)} vs {len(exp_c)}"
    for col in got_c.columns:
        gk, ek = check.dtype_kind(got_c[col]), check.dtype_kind(exp_c[col])
        if gk != ek and "other" not in (gk, ek):
            return f"dtype {col}: {gk} vs {ek}"
        for i, (x, y) in enumerate(zip(got_c[col].tolist(), exp_c[col].tolist())):
            if not check.cells_equal(x, y):
                return f"value {col} row {i}: {x!r} vs {y!r}"
    return None


def canonical_hash(check, df):
    c = check.canon(df)
    return hashlib.sha256(pickle.dumps(
        (list(c.columns), [tuple(map(repr, r)) for r in c.values.tolist()]))).hexdigest()


def check_outputs(root, fixture_dir, sink_dir, oracles, cache_dir):
    """Compares each `<sink_dir>/<name>` result with its oracle. Returns
    {name: None | reason}."""
    check = load_check(root)
    con = connect(fixture_dir, check.TABLES)
    fx = fixture_digest(fixture_dir)
    os.makedirs(cache_dir, exist_ok=True)
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        key = hashlib.sha256(f"{fx}\0{sql}".encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{name}-{key}.pkl")
        try:
            if os.path.exists(cached):
                with open(cached, "rb") as f:
                    exp = pickle.load(f)
            else:
                exp = con.execute(sql).df()
                with open(cached + ".tmp", "wb") as f:
                    pickle.dump(exp, f)
                os.replace(cached + ".tmp", cached)
            verdicts[name] = compare(check, read_result(con, f"{sink_dir}/{name}"), exp)
        except Exception as e:  # a broken oracle or result is a failed check
            verdicts[name] = f"{type(e).__name__}: {e}"
    return verdicts
