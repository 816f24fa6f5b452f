"""Seeded input generator for the benchmark.

Two layers of input:

* **Base tables** — a TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the schemas the query
  registry reads (``io.readers.TABLES``). They are built from a fixed
  base seed, so every run of every workload reads identical tables,
  and are cached once per checkout under the work directory.
* **Per-seed inputs** — what ``--seed`` picks: the ingest manifests'
  key splits, the refresh loop's batch split, and the order of the
  queries workload.

The program under test only ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq

BASE_VERSION = 2
BASE_SEED = 20240611

# row counts of the base tables (lineitem ~ 4 lines per order)
N_CUSTOMER = 6000
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_EVENTS = 10000
N_USERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMB_DIM = 64

# ingest manifests: insert batch, then a merge batch of half updates
# (keys from the insert batch) and half new keys
INGEST_ROWS = 10000
INGEST_DUP_ROWS = 20  # in-batch duplicate keys per manifest (upsert dedup)

# documents and embeddings are hashed into REFRESH_SPLIT parts; the
# first REFRESH_BATCHES parts are the batches and the rest is left out.
# Batch 0 starts the store (during the warm-up), batch 1 is the timed
# one. Every run must fit the benchmark's time budget (README.md)
REFRESH_BATCHES = 2
REFRESH_SPLIT = 5

RELATIONAL = [
    "pricing_summary", "shipping_priority", "market_share", "product_profit",
    "large_orders", "bottleneck_supplier", "session_window",
]
PIPELINE = [
    "item_cosine", "triangle_count", "minhash_neardup", "prefix_filter_join",
    "record_linkage", "embedding_neardup", "tfidf_topk", "embedding_topk",
]
QUERY_NAMES = RELATIONAL + PIPELINE
# the registry slice the refresh workload runs before its batch: a
# relational query and the basket pair fan-out (item_cosine). The
# batch's own folds run the MinHash and LSH candidate joins. The slice
# runs in this fixed order: with item_cosine first, both families read
# about a fifth slower, so a seeded order would spread the metrics by
# which order the seed drew
RELATIONAL_SLICE = ["pricing_summary"]
PIPELINE_SLICE = ["item_cosine"]
SLICE = RELATIONAL_SLICE + PIPELINE_SLICE

WHY = {
    "ingest": "CSV -> validate -> conform -> upsert, write-only insert vs "
              "read-merge-rewrite merge; bypasses operators and streaming",
    "refresh": "a registry slice of both families, then one batch through "
               "refresh_corpus into an existing store (concurrent folds, MinHash/LSH, "
               "upsert, compaction)",
    "queries": "15 registry queries; relational bypasses the basket fan-out and "
               "candidate joins, pipeline exercises them",
}

ADJ = ["small", "large", "red", "blue", "hot", "old", "shiny", "dull"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window line sort data column join small big query order customer filter "
    "stream group index shuffle bucket file record label token corpus page "
    "model train test split score rank"
).split()


def _ms(d: dt.date) -> int:
    return int(dt.datetime(d.year, d.month, d.day).timestamp() * 1000)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def _base_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    retail = np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": retail,
    })

    d0, d1 = _ms(dt.date(1995, 1, 1)), _ms(dt.date(2001, 8, 1))
    day = 86_400_000
    odate = d0 + rng.integers(0, (d1 - d0) // day, N_ORDERS) * day
    n_lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), n_lines)
    lineno = np.concatenate([np.arange(1, n + 1) for n in n_lines])
    n_li = len(okey)
    partkey = rng.integers(0, N_PART, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ext = np.round(qty * retail[partkey], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(np.bincount(okey, weights=ext, minlength=N_ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li) * day, pa.timestamp("ms")),
    })

    e0 = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    ts = np.sort(e0 + rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0.01, 490.0, N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    })

    # documents: ~10% exact duplicates after normalization (case and
    # punctuation changes) and ~10% near duplicates (a few words swapped)
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i > 20 and r < 0.10:
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper() + " !" if rng.random() < 0.5 else src.capitalize() + ".")
        elif i > 20 and r < 0.20:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCUMENTS, p=[0.5, 0.15, 0.12, 0.12, 0.11])],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    # embeddings: unit vectors in 10 labelled clusters, ~10% near copies
    centers = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    vecs = centers[labels] * 0.35 + rng.normal(size=(N_EMBEDDINGS, EMB_DIM))
    for i in range(20, N_EMBEDDINGS):
        if rng.random() < 0.10:
            j = int(rng.integers(0, i))
            labels[i] = labels[j]
            vecs[i] = vecs[j] + rng.normal(scale=0.05, size=EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def ensure_base(work: str) -> str:
    """Write the base tables once per checkout; returns their dir."""
    base = os.path.join(work, f"base-v{BASE_VERSION}")
    if os.path.isfile(os.path.join(base, "DONE")):
        return base
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _base_tables(np.random.default_rng(BASE_SEED)).items():
        _write(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    return base


# --- per-seed inputs --------------------------------------------------

INGEST_SCHEMA = {
    "rid": "VARCHAR(32)",
    "part": "BIGINT",
    "qty": "DOUBLE",
    "price": "DECIMAL(12,2)",
    "shipped": "DATETIME",
    "flag": "VARCHAR(4)",
    "lstatus": "VARCHAR(4)",
    "supp": "BIGINT",
    "disc": "DOUBLE",
    "tax": "DOUBLE",
}


def _manifest_rows(li: pa.Table, idx: np.ndarray, bump: float) -> pa.Table:
    """The manifest rows for lineitem rows ``idx``, as CSV-ready
    columns; ``bump`` is added to the quantity (and the price follows)."""
    t = li.take(pa.array(idx))
    qty = pc.add(t["l_quantity"], bump)
    price = pc.multiply(pc.divide(t["l_extendedprice"], t["l_quantity"]), qty)
    return pa.table([
        pc.binary_join_element_wise(
            pc.cast(t["l_orderkey"], pa.string()), pc.cast(t["l_linenumber"], pa.string()), "-"
        ),
        t["l_partkey"],
        qty,
        pc.cast(pc.round(price, 2), pa.decimal128(12, 2), safe=False),
        pc.strftime(pc.cast(t["l_shipdate"], pa.timestamp("s")), format="%Y-%m-%d %H:%M:%S"),
        t["l_returnflag"],
        t["l_linestatus"],
        t["l_suppkey"],
        t["l_discount"],
        t["l_tax"],
    ], names=list(INGEST_SCHEMA))


def write_csv(path: str, table: pa.Table) -> None:
    """A manifest: a plain header line, then unquoted rows."""
    with open(path, "wb") as fh:
        fh.write((",".join(table.column_names) + "\n").encode())
        pa_csv.write_csv(table, fh, pa_csv.WriteOptions(include_header=False, quoting_style="none"))


def _manifest_pair(li: pa.Table, rng, keys: np.ndarray, n_rows: int, n_dups: int,
                   out: str, prefix: str) -> dict:
    half = n_rows // 2
    ins = keys[:n_rows]
    upd = rng.choice(ins, half, replace=False)
    new = keys[n_rows:n_rows + half]
    paths = {}
    for name, rows in (
        ("insert", _manifest_rows(li, ins, 0.0)),
        ("merge", pa.concat_tables([_manifest_rows(li, upd, 1.0), _manifest_rows(li, new, 0.0)])),
    ):
        # in-batch duplicates: same key, different content
        dups = rows.take(pa.array(rng.integers(0, rows.num_rows, n_dups)))
        dups = dups.set_column(2, "qty", pc.add(dups["qty"], 100.0))
        rows = pa.concat_tables([rows, dups])
        paths[prefix + name] = os.path.join(out, f"{prefix}{name}.csv")
        write_csv(paths[prefix + name], rows.take(pa.array(rng.permutation(rows.num_rows))))
    return paths


def make_ingest(base: str, out: str, seed: int) -> dict:
    """CSV manifests cut from lineitem by a seeded key split: an
    ``insert`` batch for an empty target and a ``merge`` batch of half
    updates (insert keys, quantity bumped) and half new keys. Each
    carries a few in-batch duplicate keys for the upsert's dedup. A
    ``warm_insert``/``warm_merge`` pair of the same size, on another
    key split, is for the warm-up: per-row code runs as often there as
    in the timed pass, so the JIT has compiled it before timing starts."""
    rng = np.random.default_rng(seed)
    li = pq.read_table(os.path.join(base, "lineitem.parquet"))
    os.makedirs(out, exist_ok=True)
    paths = {}
    for prefix in ("", "warm_"):
        keys = rng.permutation(li.num_rows)
        paths.update(_manifest_pair(li, rng, keys, INGEST_ROWS, INGEST_DUP_ROWS, out, prefix))
    return paths


def make_refresh(base: str, out: str, seed: int) -> list[tuple[str, str]]:
    """Split documents and embeddings by a seeded hash into
    REFRESH_SPLIT parts and write the first REFRESH_BATCHES as parquet
    batches; returns [(docs, embeddings)]."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(base, "documents.parquet"))
    emb = pq.read_table(os.path.join(base, "embeddings.parquet"))
    d_of = rng.integers(0, REFRESH_SPLIT, docs.num_rows)
    e_of = rng.integers(0, REFRESH_SPLIT, emb.num_rows)
    batches = []
    for b in range(REFRESH_BATCHES):
        dp = os.path.join(out, f"docs_{b}")
        ep = os.path.join(out, f"emb_{b}")
        for path, table, of in ((dp, docs, d_of), (ep, emb, e_of)):
            os.makedirs(path, exist_ok=True)
            _write(table.filter(pa.array(of == b)), os.path.join(path, "part-0.parquet"))
        batches.append((dp, ep))
    return batches


def query_order(seed: int) -> list[str]:
    perm = np.random.default_rng(seed).permutation(len(QUERY_NAMES))
    return [QUERY_NAMES[i] for i in perm]


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def tree_files(path: str) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    }


def make_inputs(work: str, workload: str, seed: int) -> dict:
    """Write one workload's inputs for ``seed`` and describe them."""
    base = ensure_base(work)
    out = os.path.join(work, "inputs", f"{workload}-{seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    info: dict = {"workload": workload, "seed": seed, "why": WHY[workload], "base": base, "dir": out}
    if workload == "ingest":
        info["manifests"] = make_ingest(base, out, seed)
        info["rows"] = {
            k: sum(1 for _ in open(p)) - 1 for k, p in info["manifests"].items()
        }
        info["bytes"] = {k: tree_bytes(p) for k, p in info["manifests"].items()}
    elif workload == "refresh":
        info["batches"] = make_refresh(base, out, seed)
        info["order"] = SLICE
        info["rows"] = {
            f"batch_{b}": [pq.read_metadata(os.path.join(p, "part-0.parquet")).num_rows for p in pair]
            for b, pair in enumerate(info["batches"])
        }
        info["bytes"] = tree_bytes(out)
    else:
        info["order"] = query_order(seed)
        info["rows"] = {
            n: pq.read_metadata(os.path.join(base, f"{n}.parquet")).num_rows
            for n in ("lineitem", "orders", "customer", "documents", "embeddings", "events")
        }
        info["bytes"] = tree_bytes(base)
    return info
