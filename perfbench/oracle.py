"""Expected results in DuckDB, and the comparison against the engine's outputs.

Results compare as order-insensitive hashes: each row becomes the `|`-joined
text of its columns (sorted by name, NULL as `\\N`), and a result is
(row count, sum of row hashes). Both sides are hashed by the same DuckDB, so
type spellings (INT vs BIGINT, float text) cannot differ between them.

* mapreduce_text / graph_iterative: `SparkEntry.oracleSql` of each registry
  query (dumped by the harness) over the generated tables.
* table_rw: a replay of the seeded op log (`ops.json`) on DuckDB tables.

Expected hashes are computed once per seed and cached next to the inputs.
"""
import glob
import hashlib
import json
import os

import duckdb


def _hash_sql(rel, con):
    cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM ({rel})").fetchall())
    text = " || '|' || ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in cols)
    return cols, f"SELECT count(*), CAST(coalesce(sum(hash({text})), 0) AS VARCHAR) FROM ({rel})"


def result_hash(con, rel):
    """(sorted column names, row count, hash) of a relation given as SQL."""
    cols, q = _hash_sql(rel, con)
    n, h = con.execute(q).fetchone()
    return {"cols": cols, "rows": int(n), "hash": h}


def _cached(path, key, compute):
    try:
        with open(path) as f:
            c = json.load(f)
        if c.get("key") == key:
            return c["expected"]
    except (OSError, ValueError):
        pass
    expected = compute()
    with open(path + ".tmp", "w") as f:
        json.dump({"key": key, "expected": expected}, f)
    os.replace(path + ".tmp", path)
    return expected


# ------------------------------------------------------------ registry queries
def expected_registry(input_dir, oracle_sql):
    """name -> expected hash for every query with oracle SQL."""
    key = hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode()).hexdigest()

    def compute():
        con = duckdb.connect()
        docs = os.path.join(input_dir, "documents.parquet")
        if os.path.isdir(docs):
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
        li = os.path.join(input_dir, "lineitem.parquet")
        if os.path.exists(li):
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
        return {name: result_hash(con, sql) for name, sql in sorted(oracle_sql.items())}

    return _cached(input_dir.rstrip("/") + ".expected.json", key, compute)


# ------------------------------------------------------------------- table_rw
def expected_table(input_dir):
    """op index -> expected hash (or count) from replaying ops.json."""
    with open(os.path.join(input_dir, "ops.json")) as f:
        ops = json.load(f)["ops"]

    def compute():
        con = duckdb.connect()
        base = os.path.join(input_dir, "lineitem.parquet")
        for t in ("cow", "mor", "zm"):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{base}')")
        snaps = {"cow": 0, "mor": 0}
        for t in ("cow", "mor"):
            con.execute(f"CREATE TABLE {t}_v0 AS SELECT * FROM {t}")
        out = {}
        for i, op in enumerate(ops):
            kind, t = op["kind"], op["table"]
            batch = f"read_parquet('{os.path.join(input_dir, 'batches', op.get('batch', ''))}')"
            if kind == "append":
                con.execute(f"INSERT INTO {t} SELECT * FROM {batch}")
            elif kind in ("delete", "delete_mor"):
                con.execute(f"DELETE FROM {t} WHERE {op['pred']}")
            elif kind == "replace_where":
                con.execute(f"DELETE FROM {t} WHERE {op['pred']}")
                con.execute(f"INSERT INTO {t} SELECT * FROM {batch}")
            elif kind == "update_mor":
                sets = ", ".join(f"{c} = {e}" for c, e in sorted(op["set"].items()))
                con.execute(f"UPDATE {t} SET {sets} WHERE {op['pred']}")
            elif kind == "read":
                out[i] = result_hash(con, f"SELECT * FROM {t} WHERE {op['pred']}")
            elif kind == "read_version":
                out[i] = result_hash(con, f"SELECT * FROM {t}_v{op['after_writes']} WHERE {op['pred']}")
            elif kind == "pruned_read":
                out[i] = result_hash(con, f"SELECT * FROM {t} WHERE l_orderkey BETWEEN {op['lo']} AND {op['hi']}")
            elif kind == "fast_count":
                out[i] = {"count": con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]}
            elif kind in ("index_point_read", "zonemap_point_read"):
                out[i] = result_hash(con, f"SELECT * FROM {t} WHERE {op['column']} = {op['value']}")
            else:
                raise ValueError(f"unknown op kind {kind}")
            if kind in ("append", "delete", "delete_mor", "replace_where", "update_mor"):
                snaps[t] += 1
                con.execute(f"CREATE TABLE {t}_v{snaps[t]} AS SELECT * FROM {t}")
        return {str(k): v for k, v in out.items()}

    key = hashlib.sha256(json.dumps(ops, sort_keys=True).encode()).hexdigest()
    return _cached(input_dir.rstrip("/") + ".expected.json", key, compute)


# ----------------------------------------------------------------- comparison
def check(workload, input_dir, result, outputs_dir):
    """Compare the warm-up pass's results with the expected ones.

    Returns {op name: error} for every op whose result is missing or wrong.
    Registry queries without oracle SQL are checked for a non-empty result.
    """
    if workload == "table_rw":
        expected = expected_table(input_dir)
    else:
        expected = expected_registry(input_dir, result["oracle_sql"])
    con = duckdb.connect()
    bad = {}
    for w in result["warmup"]:
        name = w["name"]
        if "error" in w:
            bad[name] = w["error"]
            continue
        exp = expected.get(str(w["id"]) if workload == "table_rw" else name)
        if exp is not None and "count" in exp:
            if w["value"] != exp["count"]:
                bad[name] = f"count {w['value']} != expected {exp['count']}"
            continue
        if not w.get("output"):
            continue
        files = glob.glob(os.path.join(outputs_dir, w["output"], "*.parquet"))
        if not files:
            bad[name] = "no output written"
            continue
        got = result_hash(con, f"SELECT * FROM read_parquet({files!r})")
        if exp is None:
            if got["rows"] == 0:
                bad[name] = "empty result (no oracle)"
        elif got != exp:
            bad[name] = f"result {got} != expected {exp}"
    return bad
