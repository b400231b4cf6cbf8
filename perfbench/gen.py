"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed (and size arguments):
the same seed writes byte-identical files, and ``manifest_hash``
fingerprints what was written so a run can record exactly which
inputs it measured.  Nothing here reads outside the directory it is
given.

* :func:`write_tables` — the engine's ten corpus tables (TPC-H-like
  star schema plus ``events``, ``documents``, ``embeddings``) with the
  column names and parquet types of the engine's fixture layout.  Fact
  tables are built as ``replicas`` copies of one base draw with key
  offsets (orderkey/event_id/doc_id/vec_id ``+ i*1e9``, user_id
  ``+ i*1e7``), so ids cross the 32-bit range as at real scale;
  dimension tables are drawn once.  About 5 % of documents are planted
  near-duplicates (an earlier document plus one token), so the dedup
  operators always have work.
* :func:`write_library` / :func:`mutate_library` — a SharePoint-style
  document library in the three ingest folders: log-normal file sizes,
  names with quotes, zero-byte files, and incremental rounds that
  modify and add files with strictly increasing mtimes.
* :func:`cdc_batch` — an orders change batch (updates of existing keys
  plus new keys) partitioned by order year, skewed to the latest year.
* :func:`write_events_file` — one new file for the streaming source.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFF = 10**9
UOFF = 10**7

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
P_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
FOLDERS = ["finance", "assets", "shared"]
EXTS = [".csv", ".pdf", ".txt", ".png", ".docx", ".xlsx"]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days since 1970-01-01 of 1995-01-01
_EPOCH_2024 = 19723  # days since 1970-01-01 of 2024-01-01


def _ts_us(days: np.ndarray, us: np.ndarray | int = 0) -> pa.Array:
    return pa.array(days.astype("int64") * _US_PER_DAY + us, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the engine's fixture tables
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy")


def write_tables(out_dir: str, seed: int, base_orders: int = 15_000, replicas: int = 2) -> None:
    """Write the ten corpus tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_nat = 1500, 100, 2000, 25

    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(n_nat), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n_nat)],
            "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32()),
        }),
        f"{out_dir}/nation.parquet",
    )
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, n_nat, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        f"{out_dir}/customer.parquet",
    )
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, n_nat, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        f"{out_dir}/supplier.parquet",
    )
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }),
        f"{out_dir}/part.parquet",
    )

    # orders + lineitem: one base draw, replicated with key offsets
    no = base_orders
    o_cust = rng.integers(0, n_cust, no)
    o_status = np.array(["F", "O", "P"])[rng.integers(0, 3, no)]
    o_price = np.round(rng.uniform(1000, 500_000, no), 2)
    o_day = _EPOCH_1995 + rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    o_prio = np.array(PRIORITIES)[rng.integers(0, 5, no)]
    nlines = rng.integers(1, 8, no)
    l_ok = np.repeat(np.arange(no), nlines)
    l_num = np.concatenate([np.arange(1, n + 1) for n in nlines]).astype("int32")
    nl = len(l_ok)
    l_part = rng.integers(0, n_part, nl)
    l_qty = rng.integers(1, 51, nl).astype("float64")
    l_ext = np.round(l_qty * retail[l_part] * rng.uniform(0.9, 2.3, nl), 2)
    l_disc = rng.integers(0, 11, nl) / 100.0
    l_tax = rng.integers(0, 9, nl) / 100.0
    l_ship = o_day[l_ok] + rng.integers(1, 122, nl)
    l_rf = np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]
    l_ls = np.where(l_ship > _EPOCH_1995 + 1800, "O", "F")
    l_supp = rng.integers(0, n_supp, nl)
    _write(
        pa.table({
            "o_orderkey": pa.array(np.concatenate([np.arange(no) + i * OFF for i in range(replicas)]), pa.int64()),
            "o_custkey": pa.array(np.tile(o_cust, replicas), pa.int64()),
            "o_orderstatus": np.tile(o_status, replicas),
            "o_totalprice": np.tile(o_price, replicas),
            "o_orderdate": _ts_us(np.tile(o_day, replicas)),
            "o_orderpriority": np.tile(o_prio, replicas),
        }),
        f"{out_dir}/orders.parquet",
    )
    _write(
        pa.table({
            "l_orderkey": pa.array(np.concatenate([l_ok + i * OFF for i in range(replicas)]), pa.int64()),
            "l_partkey": pa.array(np.tile(l_part, replicas), pa.int64()),
            "l_suppkey": pa.array(np.tile(l_supp, replicas), pa.int64()),
            "l_linenumber": pa.array(np.tile(l_num, replicas), pa.int32()),
            "l_quantity": np.tile(l_qty, replicas),
            "l_extendedprice": np.tile(l_ext, replicas),
            "l_discount": np.tile(l_disc, replicas),
            "l_tax": np.tile(l_tax, replicas),
            "l_returnflag": np.tile(l_rf, replicas),
            "l_linestatus": np.tile(l_ls, replicas),
            "l_shipdate": _ts_us(np.tile(l_ship, replicas)),
        }),
        f"{out_dir}/lineitem.parquet",
    )

    # events: 30 days of January 2024, sorted by ts
    ne = no * 2 // 3
    e_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    e_user = rng.integers(0, 150, ne)
    e_type = np.array(EVENT_TYPES)[rng.choice(5, ne, p=[0.4, 0.3, 0.1, 0.05, 0.15])]
    e_val = np.round(np.minimum(rng.exponential(20.0, ne), 490.0) + 0.01, 2)
    e_props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]
    _write(
        pa.table({
            "event_id": pa.array(np.concatenate([np.arange(ne) + i * OFF for i in range(replicas)]), pa.int64()),
            "ts": _ts_us(np.full(ne * replicas, _EPOCH_2024), np.tile(e_us, replicas)),
            "user_id": pa.array(np.concatenate([e_user + i * UOFF for i in range(replicas)]), pa.int64()),
            "event_type": np.tile(e_type, replicas),
            "value": np.tile(e_val, replicas),
            "props": e_props * replicas,
        }),
        f"{out_dir}/events.parquet",
    )

    # documents: bag-of-words over a 30-word vocabulary; ~5% planted
    # near-duplicates (an earlier document's text + " dup")
    nd = no // 30
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    d_lang = np.array(LANGS)[rng.choice(5, nd, p=LANG_P)]
    d_src = [f"src{i % 20}" for i in range(nd)]
    all_texts: list[str] = []
    for r in range(replicas):
        # replicas keep the 5% planted-dup density: each replica doc gets
        # a doc-specific marker token, so replicas never collide
        all_texts += texts if r == 0 else [f"{t} r{r}d{i}" for i, t in enumerate(texts)]
    _write(
        pa.table({
            "doc_id": pa.array(np.concatenate([np.arange(nd) + i * OFF for i in range(replicas)]), pa.int64()),
            "text": all_texts,
            "lang": np.tile(d_lang, replicas),
            "source": d_src * replicas,
            "n_chars": pa.array([len(t) for t in all_texts], pa.int64()),
        }),
        f"{out_dir}/documents.parquet",
    )

    # embeddings: 64-d unit vectors around 10 label centroids
    nv = nd
    cent = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv * replicas)
    vec = cent[labels] + rng.normal(scale=1.2, size=(nv * replicas, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(
        pa.table({
            "vec_id": pa.array(np.concatenate([np.arange(nv) + i * OFF for i in range(replicas)]), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        f"{out_dir}/embeddings.parquet",
    )


# --------------------------------------------------------------- library


def _file_bytes(rng: np.random.Generator, size: int) -> bytes:
    return rng.integers(0, 256, size, dtype=np.uint8).tobytes()


def _file_size(rng: np.random.Generator, median: int) -> int:
    # log-normal sizes, capped at 2 MB; ~3% zero-byte files
    if rng.random() < 0.03:
        return 0
    return int(min(2 << 20, rng.lognormal(np.log(median), 1.0)))


def write_library(root: str, seed: int, n_files: int, median_bytes: int, mtime0: int) -> dict:
    """Write ``n_files`` files over the three ingest folders; returns the
    library state ``{(folder, name): mtime}``.  Every file of the
    initial library carries mtime ``mtime0``."""
    rng = np.random.default_rng([seed, 2])
    state: dict[tuple[str, str], int] = {}
    for i in range(n_files):
        _add_file(rng, root, state, i, median_bytes, mtime0)
    return state


def _add_file(rng, root, state, i: int, median: int, mtime: int) -> None:
    folder = FOLDERS[int(rng.integers(0, 3))]
    # ~10% of names carry a quote (the ingest path sanitizes them)
    q = "'" if rng.random() < 0.1 else ""
    name = f"doc{q}{i:05d}{EXTS[int(rng.integers(0, len(EXTS)))]}"
    path = os.path.join(root, folder, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(_file_bytes(rng, _file_size(rng, median)))
    os.utime(path, (mtime, mtime))
    state[(folder, name)] = mtime


def mutate_library(
    root: str, state: dict, seed: int, rnd: int, mtime: int, median_bytes: int,
    modify_frac: float = 0.02, add_frac: float = 0.01,
) -> tuple[list, list]:
    """One incremental round: rewrite ``modify_frac`` of the existing
    files and add ``add_frac`` new ones, all at ``mtime`` (callers pass
    strictly increasing values).  Returns (modified, added) keys."""
    rng = np.random.default_rng([seed, 3, rnd])
    keys = sorted(state)
    n_mod = max(1, int(len(keys) * modify_frac))
    n_add = max(1, int(len(keys) * add_frac))
    modified = [keys[int(j)] for j in rng.choice(len(keys), n_mod, replace=False)]
    for folder, name in modified:
        path = os.path.join(root, folder, name)
        with open(path, "wb") as fh:
            fh.write(_file_bytes(rng, _file_size(rng, median_bytes)))
        os.utime(path, (mtime, mtime))
        state[(folder, name)] = mtime
    before = set(state)
    start = 100_000 * rnd
    for i in range(n_add):
        _add_file(rng, root, state, start + i, median_bytes, mtime)
    added = sorted(set(state) - before)
    return modified, added


# ------------------------------------------------------------ CDC + events


def cdc_batch(seed: int, rnd: int, existing_keys: int, n_new: int, first_new_key: int):
    """Orders change batch for round ``rnd`` as a pandas frame with
    columns (o_orderkey, o_custkey, o_totalprice, o_orderstatus,
    o_year): ~1% of ``existing_keys`` updated plus ``n_new`` new keys.
    New keys lean to the latest year (half of them land in 2001)."""
    import pandas as pd

    rng = np.random.default_rng([seed, 4, rnd])
    n_upd = max(1, existing_keys // 100)
    upd = rng.choice(existing_keys, n_upd, replace=False)
    new = np.arange(first_new_key, first_new_key + n_new)
    keys = np.concatenate([upd, new]).astype("int64")
    n = len(keys)
    year = np.where(
        np.arange(n) < n_upd,
        1995 + keys % 7,
        np.where(rng.random(n) < 0.5, 2001, 1995 + rng.integers(0, 7, n)),
    )
    return pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, 1500, n).astype("int64"),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_year": year.astype("int32"),
        "version": np.full(n, rnd, dtype="int64"),
    })


def seed_orders(seed: int, n: int):
    """Initial merge target: ``n`` orders, keys 0..n-1, year = 1995 + key % 7."""
    import pandas as pd

    rng = np.random.default_rng([seed, 5])
    keys = np.arange(n, dtype="int64")
    return pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, 1500, n).astype("int64"),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_year": (1995 + keys % 7).astype("int32"),
        "version": np.zeros(n, dtype="int64"),
    })


def write_events_file(path: str, seed: int, rnd: int, n_rows: int) -> None:
    rng = np.random.default_rng([seed, 6, rnd])
    first = rnd * 1_000_000
    _write(
        pa.table({
            "event_id": pa.array(np.arange(first, first + n_rows), pa.int64()),
            "user_id": pa.array(rng.integers(0, 150, n_rows), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_rows)],
            "value": np.round(rng.uniform(0.01, 490.0, n_rows), 2),
        }),
        path,
    )


def manifest_hash(root: str) -> str:
    """sha256 over (relative path, content sha256) of every file under
    ``root``; identical inputs give identical hashes."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            h.update(f"{os.path.relpath(p, root)}|{digest}\n".encode())
    return h.hexdigest()
