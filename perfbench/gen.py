"""Seeded input generator for the three perfbench workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files, and `manifest.json` records a sha256 per file so two
generations can be compared. Inputs are cached per (workload, seed) under
the work directory; a cached set is reused only if its manifest still
matches the files on disk.

    python3 perfbench/gen.py --workload mapreduce_text --seed 1 --out DIR

Workload inputs:

* mapreduce_text -- `documents.parquet/`: a corpus of Unicode-letter words
  drawn from a Zipf vocabulary, written as TEXT_FILES part files (>= 4 per
  core, like the reference's one-input-file-per-map-task layout), and
  `warmup/documents.parquet/`, a copy of the first part file that the
  cold first pass of set-up runs on.
* graph_iterative -- `lineitem.parquet`: a lineitem resample with the sf0.1
  key domains (20 000 parts, 1 000 suppliers, 4 suppliers per part,
  sparse order keys below 600 000).
* table_rw -- `lineitem.parquet` (standing table contents) plus `ops.json`,
  a seeded log of writes and reads against SnapshotTable tables, and the
  row batches the append / replaceWhere writes insert (`batches/`).
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4

# ---- mapreduce_text sizing -------------------------------------------------
TEXT_FILES = 16          # part files; >= 4 per core on a 4-core host
TEXT_DOCS = 4000
TEXT_VOCAB = 200000      # distinct words the Zipf draw can produce
TEXT_ZIPF_S = 1.05
TEXT_TOKENS = (20, 180)  # tokens per document, uniform
TEXT_SOURCES = 24        # distinct `source` values (the ii "file" key)

# ---- lineitem domains (TPC-H sf0.1) ----------------------------------------
PARTS = 20000
SUPPLIERS = 1000
ORDER_KEY_MAX = 600000   # TPC-H order keys are sparse: 8 used per 32
GRAPH_ROWS = 60000
TABLE_ROWS = 24000

# ---- table_rw op log ---------------------------------------------------------
# One pass runs this schedule; the seed picks predicates, batches and probe
# values. The order is fixed because a read's cost depends on the writes
# before it (files, deletion vectors, unindexed files), and a seeded order
# made passes of different seeds differ by a quarter. fast_count runs on
# `cow` only: on `mor` it refuses after an updateMor (a known engine
# defect, see perfbench/README.md).
TABLE_SCHEDULE = [
    ("read", "cow"), ("append", "mor"), ("pruned_read", "mor"), ("delete", "cow"),
    ("delete_mor", "mor"), ("fast_count", "cow"), ("replace_where", "cow"), ("update_mor", "mor"),
    ("read_version", "mor"), ("index_point_read", "mor"), ("zonemap_point_read", "zm"),
]
TABLE_WRITE_KINDS = ("append", "delete", "replace_where", "delete_mor", "update_mor")
PRUNED_READ_WIDTH = 8000
BATCH_ROWS = 200

_LETTERS = (
    "abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "éèàùçñöüßøåæœ"
    "абвгдежзиклмнопрстуфхцчшщыэюя"
    "αβγδεζηθικλμνξοπρστυφχψω"
)
_SEPARATORS = np.array([" ", " ", " ", " ", " ", ", ", ". ", " - ", "\n", " 42 ", "; ", " (", ") "])


def _rng(seed, stream):
    # independent, reproducible streams per purpose
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write_table(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


# ---------------------------------------------------------------- text corpus
def _vocabulary(rng):
    lens = rng.integers(2, 12, size=TEXT_VOCAB)
    letters = np.array(list(_LETTERS))
    # a shared letter pool keeps words diverse but draws are cheap
    pool = rng.integers(0, len(letters), size=int(lens.sum()))
    chars = letters[pool]
    words, seen, pos = [], set(), 0
    for n in lens:
        w = "".join(chars[pos:pos + n])
        pos += n
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def gen_text(seed, out):
    rng = _rng(seed, 1)
    vocab = _vocabulary(rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -TEXT_ZIPF_S)
    cdf /= cdf[-1]
    # the Zipf rank -> word mapping is itself shuffled per seed
    vocab = vocab[rng.permutation(len(vocab))]
    n_tok = rng.integers(TEXT_TOKENS[0], TEXT_TOKENS[1] + 1, size=TEXT_DOCS)
    total = int(n_tok.sum())
    words = vocab[np.searchsorted(cdf, rng.random(total), side="right")]
    seps = _SEPARATORS[rng.integers(0, len(_SEPARATORS), size=total)]
    texts, pos = [], 0
    for n in n_tok:
        w, s = words[pos:pos + n], seps[pos:pos + n]
        pos += n
        parts = np.empty(2 * n, dtype=object)
        parts[0::2], parts[1::2] = w, s
        texts.append("".join(parts))
    doc_id = np.arange(1, TEXT_DOCS + 1, dtype=np.int64)
    source = np.array([f"src-{i:02d}.txt" for i in rng.integers(0, TEXT_SOURCES, size=TEXT_DOCS)], dtype=object)
    lang = np.array(["en", "de", "fr", "ru", "el"], dtype=object)[rng.integers(0, 5, size=TEXT_DOCS)]
    n_chars = np.array([len(t) for t in texts], dtype=np.int64)
    def part(a, b):
        return pa.table({
            "doc_id": pa.array(doc_id[a:b]),
            "text": pa.array(texts[a:b], pa.string()),
            "lang": pa.array(lang[a:b], pa.string()),
            "source": pa.array(source[a:b], pa.string()),
            "n_chars": pa.array(n_chars[a:b]),
        })

    d = os.path.join(out, "documents.parquet")
    os.makedirs(d)
    bounds = np.linspace(0, TEXT_DOCS, TEXT_FILES + 1).astype(int)
    for i in range(TEXT_FILES):
        _write_table(part(bounds[i], bounds[i + 1]), os.path.join(d, f"part-{i:05d}.parquet"))
    # the cold first pass of set-up runs on the first part file alone
    w = os.path.join(out, "warmup", "documents.parquet")
    os.makedirs(w)
    _write_table(part(bounds[0], bounds[1]), os.path.join(w, "part-00000.parquet"))
    return {"docs": TEXT_DOCS, "tokens": total, "files": TEXT_FILES}


# ------------------------------------------------------------------- lineitem
_ORDER_KEYS = np.array([k for k in range(1, ORDER_KEY_MAX + 1) if (k - 1) % 32 < 8], dtype=np.int64)


def _lineitem_rows(rng, n, order_keys=None):
    """n lineitem-shaped rows with the sf0.1 key domains and the TPC-H
    part -> supplier relation (each part is shipped by 4 suppliers)."""
    if order_keys is None:
        order_keys = _ORDER_KEYS[rng.integers(0, len(_ORDER_KEYS), size=n)]
    part = rng.integers(1, PARTS + 1, size=n).astype(np.int64)
    i = rng.integers(0, 4, size=n)
    supp = (part + i * (SUPPLIERS // 4 + (part - 1) // SUPPLIERS)) % SUPPLIERS + 1
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.integers(90000, 210000, size=n) / 100.0, 2)
    ship_days = rng.integers(0, 2526, size=n)  # 1992-01-02 .. 1998-12-01
    ship = (np.datetime64("1992-01-02") + ship_days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(order_keys.astype(np.int64)),
        "l_partkey": pa.array(part),
        "l_suppkey": pa.array(supp.astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N"], dtype=object)[rng.integers(0, 3, size=n)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, size=n)], pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def gen_graph(seed, out):
    rng = _rng(seed, 2)
    t = _lineitem_rows(rng, GRAPH_ROWS)
    _write_table(t.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")]),
                 os.path.join(out, "lineitem.parquet"))
    return {"rows": GRAPH_ROWS}


# ----------------------------------------------------------------- table_rw
def gen_table(seed, out):
    """Standing table contents plus the op log.

    Two SnapshotTables are built from the same rows: `cow` takes the
    copy-on-write writes (delete, replaceWhere) and `mor` the append and
    the merge-on-read ones (deleteMor, updateMor) -- copy-on-write delete
    refuses a table that carries deletion vectors. A third,
    read-only zone-mapped copy `zm` serves ZoneMap.prunedPointRead.
    Every predicate is a SQL string both Spark and DuckDB evaluate.
    """
    rng = _rng(seed, 3)
    base = _lineitem_rows(rng, TABLE_ROWS).sort_by([("l_orderkey", "ascending")])
    _write_table(base, os.path.join(out, "lineitem.parquet"))
    os.makedirs(os.path.join(out, "batches"))
    keys = base.column("l_orderkey").to_numpy()

    def key_range(width):
        lo = int(keys[rng.integers(0, len(keys))])
        return lo, lo + width

    writes_done = {"cow": 0, "mor": 0}
    ops = []
    for kind, table in TABLE_SCHEDULE:
        op = {"kind": kind, "table": table}
        if kind in TABLE_WRITE_KINDS:
            if kind in ("append", "replace_where"):
                if kind == "append":
                    batch = _lineitem_rows(rng, BATCH_ROWS)
                else:
                    lo, hi = key_range(2000)
                    ok = _ORDER_KEYS[(_ORDER_KEYS >= lo) & (_ORDER_KEYS <= hi)]
                    batch = _lineitem_rows(rng, BATCH_ROWS // 4, ok[rng.integers(0, len(ok), size=BATCH_ROWS // 4)])
                    op["pred"] = f"l_orderkey BETWEEN {lo} AND {hi}"
                name = f"b-{len(ops):04d}.parquet"
                _write_table(batch, os.path.join(out, "batches", name))
                op["batch"] = name
            else:
                lo, hi = key_range(3000)
                op["pred"] = f"l_orderkey BETWEEN {lo} AND {hi}"
                if kind == "update_mor":
                    op["set"] = {"l_quantity": "l_quantity + 1", "l_discount": "0.0"}
            writes_done[table] += 1
        elif kind in ("read", "read_version"):
            op["pred"] = f"l_suppkey = {int(rng.integers(1, SUPPLIERS + 1))}"
            if kind == "read_version":
                # the snapshot after write k of this table (0 = as built)
                op["after_writes"] = int(rng.integers(0, writes_done[table] + 1))
        elif kind == "pruned_read":
            lo, hi = key_range(PRUNED_READ_WIDTH)
            op["lo"], op["hi"] = lo, hi
        elif kind in ("index_point_read", "zonemap_point_read"):
            op["column"] = "l_partkey"
            op["value"] = int(rng.integers(1, PARTS + 1))
        ops.append(op)
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump({"ops": ops}, f, indent=0, sort_keys=True)
    writes = sum(1 for k, _ in TABLE_SCHEDULE if k in TABLE_WRITE_KINDS)
    return {"rows": TABLE_ROWS, "writes": writes, "reads": len(TABLE_SCHEDULE) - writes}


GENERATORS = {"mapreduce_text": gen_text, "graph_iterative": gen_graph, "table_rw": gen_table}


# ------------------------------------------------------------- manifest/cache
def _file_hashes(root):
    out = {}
    for d, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            if fn == "manifest.json":
                continue
            p = os.path.join(d, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def content_hash(file_hashes):
    h = hashlib.sha256()
    for k in sorted(file_hashes):
        h.update(f"{k}\0{file_hashes[k]}\n".encode())
    return h.hexdigest()


def ensure_inputs(workload, seed, cache_root):
    """Return (input dir, manifest), generating into the per-seed cache
    only when no valid cached copy exists."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}")
    mpath = os.path.join(d, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            m = json.load(f)
        if content_hash(_file_hashes(d)) == m.get("content_sha256"):
            return d, m
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    stats = GENERATORS[workload](seed, tmp)
    files = _file_hashes(tmp)
    m = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION, "stats": stats,
         "files": files, "content_sha256": content_hash(files)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.rename(tmp, d)
    return d, m


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="cache root; inputs land in <out>/<workload>-s<seed>-v<n>")
    a = ap.parse_args(argv)
    d, m = ensure_inputs(a.workload, a.seed, a.out)
    print(json.dumps({"dir": d, "content_sha256": m["content_sha256"], "stats": m["stats"]}))


if __name__ == "__main__":
    main(sys.argv[1:])
