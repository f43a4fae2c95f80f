"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(seed, scale)``: the same pair writes
byte-identical files, a different seed writes different content. Inputs
are generated from scratch (no file outside the checkout is read), in the
shapes of the engine's star schema and corpus tables (see FIXTURES.md):

- ``star``: region nation customer supplier part orders lineitem events.
  Rows are written in a seeded order; every table but region and nation
  is split into ``STAR_FILES`` parquet files under ``<table>.parquet/``.
- ``corpus``: documents and embeddings in the shape of the repository's
  corpus fixture (measured figures in README.md). The seed picks the row
  order, a doc_id / vec_id relabeling, which documents are near-duplicate
  edits of another one and which embeddings are noisy near-copies of
  another one.
- ``lake``: the orders-shaped manifest table's initial rows, and per cycle
  an append batch (new keys), an upsert batch (existing and new keys), a
  delete batch (existing keys) and a one-month copy-on-write update; plus
  the JSON-stat payloads served to the medallion pipeline.

Generated directories are cached per seed and per version of this file:
``ensure(...)`` returns at once when a complete copy (marked by ``_DONE``)
exists.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_FILES = 4
# Table sizes at scale 1.0, in the proportions of the engine's star schema.
_STAR_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The corpus fixture's 30-word vocabulary; its near-duplicates are copies
# of another document with DUP_WORD appended.
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_WORD = "dup"
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000

# Corpus shape, as measured on the fixture: documents of 10-100 words
# (uniform), 5% of them near-duplicate edits. The fixture's embeddings are
# independent unit vectors; here 5% are noisy near-copies of another one,
# so the similarity operators have pairs to find.
DOC_WORDS = (10, 100)
NEAR_DUP_DOCS = 0.05
NEAR_DUP_VECS = 0.05
EMB_DIM = 64

# JSON-stat series served to the medallion pipeline.
HICP_GEOS = ["BE", "DE", "FR", "LU"]
HICP_COICOPS = ["CP00", "CP01"]
HICP_MONTHS = 120
HICP_DATASET = "prc_hicp_midx"


with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:10]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, named stream), so adding a table
    never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _n(name: str, scale: float) -> int:
    return max(10, int(round(_STAR_ROWS[name] * scale)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: np.datetime64, span_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(table: pa.Table, path: str, files: int, rng: np.random.Generator) -> None:
    """Write ``table`` in a seeded row order as ``files`` parquet parts."""
    order = rng.permutation(table.num_rows)
    table = table.take(pa.array(order))
    os.makedirs(path, exist_ok=True)
    files = max(1, min(files, table.num_rows))
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    n_c, n_s, n_p = _n("customer", scale), _n("supplier", scale), _n("part", scale)
    n_o, n_l, n_e = _n("orders", scale), _n("lineitem", scale), _n("events", scale)
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_c)],
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_s),
    })
    r = _rng(seed, "part")
    keys = np.arange(n_p)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_p)],
        "p_type": np.array(_PTYPES)[r.integers(0, 6, n_p)],
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_o)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_o),
        "o_orderdate": pa.array(_days(r, _EPOCH_1995, 2405, n_o), pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_o)],
    })
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.integers(45000, 105000, n_l) / 100.0, 2),
        "l_discount": r.integers(0, 11, n_l) / 100.0,
        "l_tax": r.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
        "l_shipdate": pa.array(
            _days(r, _EPOCH_1995 + np.timedelta64(1, "D"), 2499, n_l), pa.timestamp("us")
        ),
    })
    r = _rng(seed, "events")
    # Distinct, increasing timestamps over 30 days: event_id follows time.
    ts = np.sort(r.choice(30 * _DAY_US, n_e, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(10, n_e // 66), n_e), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_e)],
        "value": np.round(r.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)],
    })
    return out


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    r = _rng(seed, "documents")
    vocab = np.array(_VOCAB)
    lens = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_docs)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in lens]
    # Near-duplicate edits: a seeded subset copies an earlier document and
    # appends DUP_WORD, as the fixture does.
    n_dup = int(n_docs * NEAR_DUP_DOCS)
    for i in np.sort(r.choice(np.arange(1, n_docs), n_dup, replace=False)):
        texts[i] = f"{texts[int(r.integers(0, i))]} {DUP_WORD}"
    doc_ids = r.permutation(n_docs)  # seeded relabeling
    docs = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{d % 20}" for d in doc_ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = _rng(seed, "embeddings")
    m = r.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    n_cp = int(n_vecs * NEAR_DUP_VECS)
    cp_idx = r.choice(np.arange(1, n_vecs), n_cp, replace=False)
    for i in cp_idx:
        src = m[int(r.integers(0, i))]
        m[i] = src + r.standard_normal(EMB_DIM).astype(np.float32) * 0.01 * np.linalg.norm(src)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(r.permutation(n_vecs), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def hicp_payload(seed: int, geo: str, coicop: str, unit: str = "I15") -> dict:
    """One JSON-stat 2.0 series: ``HICP_MONTHS`` positive monthly index
    values from 2015-01, a seeded random walk (the quality suite passes)."""
    r = _rng(seed, f"hicp:{geo}:{coicop}")
    steps = 1.0 + r.normal(0.002, 0.004, HICP_MONTHS)
    values = np.round(100.0 * np.cumprod(steps), 2).tolist()
    months = [f"{2015 + i // 12}M{i % 12 + 1:02d}" for i in range(HICP_MONTHS)]
    return {
        "id": ["freq", "unit", "coicop", "geo", "time"],
        "size": [1, 1, 1, 1, HICP_MONTHS],
        "dimension": {
            "freq": {"category": {"index": {"M": 0}}},
            "unit": {"category": {"index": {unit: 0}}},
            "coicop": {"category": {"index": {coicop: 0}}},
            "geo": {"category": {"index": {geo: 0}}},
            "time": {"category": {"index": {m: i for i, m in enumerate(months)}}},
        },
        "value": values,
    }


def lake_inputs(seed: int, base_rows: int, cycles: int) -> dict[str, pa.Table]:
    """Initial orders-shaped table plus ``cycles`` batches of each kind.

    Keys are unique inside every batch. Deletes and upserts target keys
    live at generation time of an independent model, so every batch is
    valid against the table the cycles build (verified by the model
    recomputation at the end of a run).
    """
    r = _rng(seed, "lake")

    def rows(keys: np.ndarray) -> dict:
        n = len(keys)
        return {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(r.integers(0, 15000, n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": _money(r, 1000.0, 500000.0, n),
            "o_orderdate": pa.array(_days(r, _EPOCH_1995, 2405, n), pa.timestamp("us")),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n)],
        }

    out = {"base": pa.table(rows(np.arange(base_rows)))}
    live = set(range(base_rows))
    next_key = base_rows
    n_app, n_ups, n_del = max(1, base_rows // 20), max(1, base_rows // 60), max(1, base_rows // 100)
    for c in range(cycles):
        app = np.arange(next_key, next_key + n_app)
        next_key += n_app
        live.update(app.tolist())
        out[f"append-{c}"] = pa.table(rows(app))
        pool = np.fromiter(sorted(live), np.int64)
        ups_old = r.choice(pool, n_ups - n_ups // 5, replace=False)
        ups_new = np.arange(next_key, next_key + n_ups // 5)
        next_key += n_ups // 5
        ups = np.concatenate([ups_old, ups_new])
        live.update(ups_new.tolist())
        out[f"upsert-{c}"] = pa.table(rows(ups))
        pool = np.fromiter(sorted(live), np.int64)
        dels = r.choice(pool, n_del, replace=False)
        live.difference_update(dels.tolist())
        out[f"delete-{c}"] = pa.table({"o_orderkey": pa.array(dels, pa.int64())})
        # The copy-on-write MERGE restates one order month (months since
        # 1995-01); its rows are selected from the table at run time.
        out[f"merge-{c}"] = pa.table({"month": pa.array([int(r.integers(0, 79))], pa.int32())})
    return out


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _publish(tmp: str, path: str) -> None:
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def ensure(root: str, kind: str, seed: int, **size) -> str:
    """Generate (or reuse) the ``kind`` inputs for ``seed``; returns the
    directory. ``size`` holds the scale knobs and is part of the cache key."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(root, f"seed-{seed}", f"{kind}-{tag}-{VERSION}")
    if _complete(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "star":
        tables = star_tables(seed, size["scale"])
        files = {"region": 1, "nation": 1}
    elif kind == "corpus":
        tables = corpus_tables(seed, size["docs"], size["vecs"])
        files = {}
    elif kind == "lake":
        tables = lake_inputs(seed, size["rows"], size["cycles"])
        files = {k: 1 for k in tables}
        payloads = {
            f"{g}/{c}": hicp_payload(seed, g, c) for g in HICP_GEOS for c in HICP_COICOPS
        }
        with open(os.path.join(tmp, "hicp.json"), "w") as f:
            json.dump(payloads, f, sort_keys=True)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    for name, table in tables.items():
        _write(table, os.path.join(tmp, f"{name}.parquet"), files.get(name, STAR_FILES),
               _rng(seed, f"order:{name}"))
    _publish(tmp, path)
    return path
