"""Seeded synthetic inputs for the benchmark, built once per checkout.

The tables follow the engine's star schema (region … lineitem, events,
documents, embeddings) at scale factor 0.1, one parquet file per table
written the way the engine's own fixtures are (pandas -> pyarrow, one
row group). The shared-scan workload additionally reads a row-text
(CSV) replica of lineitem with a free-text ``l_comment`` column, which
takes it over the 64 MiB MRShare and cache admission floors.

The data seed is fixed: every run of every workload reads the same
bytes, and only the request sequence depends on ``--seed``. The build
is cached under ``perfbench/.data`` (ignored by git) and rebuilt only
when ``DATA_VERSION`` changes.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

DATA_SEED = 20240601
DATA_VERSION = "v2"
SF = 0.1
# MRShare (BatchExecutor.mrshare_min_bytes) and cache admission
# (CacheManager.min_bytes) both decline sources below this size
ADMISSION_FLOOR_BYTES = 64 << 20
CSV_PARTS = 8
COMMENT_WORDS = 12

# columns of the CSV replica, in file order
CSV_COLUMNS = [
    ("l_orderkey", "BIGINT"),
    ("l_partkey", "BIGINT"),
    ("l_suppkey", "BIGINT"),
    ("l_linenumber", "INT"),
    ("l_quantity", "DOUBLE"),
    ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"),
    ("l_tax", "DOUBLE"),
    ("l_returnflag", "STRING"),
    ("l_linestatus", "STRING"),
    ("l_shipdate", "TIMESTAMP"),
    ("l_comment", "STRING"),
]

_WORDS = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query a big key window row table stream merge data join "
    "vector customer the cache shuffle plan index"
).split()
_ADJ = "large hot blue old cold red small green".split()
_NOUN = "ring bolt plate gear widget rod anvil".split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _tables(rng) -> dict:
    import pandas as pd

    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_li = int(1500000 * SF), int(6000000 * SF)
    n_ev, n_doc, n_emb = 100_000, 5_000, 2_000
    out = {}
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    segs = np.array(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"])
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj, noun = np.array(_ADJ), np.array(_NOUN)
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, len(adj), n_part)], " "),
                noun[rng.integers(0, len(noun), n_part)],
            ),
            "p_brand": np.char.add("Brand#", (rng.integers(1, 26, n_part)).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": etypes[rng.integers(0, 5, n_ev)],
            "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 560.21), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 100))]))
    # a few exact duplicates and one-word-edited near duplicates, so
    # the dedup operators have something to find
    for i in rng.choice(n_doc, 40, replace=False):
        j = int(rng.integers(0, n_doc))
        if rng.random() < 0.5:
            texts[i] = texts[j]
        else:
            toks = texts[j].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
            texts[i] = " ".join(toks)
    langs = np.array(["en", "en", "es", "zh", "de", "fr"])
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    return out


def _write_csv_replica(lineitem, rng, out_dir: str) -> None:
    """lineitem plus a COMMENT_WORDS-word ``l_comment`` as header-bearing
    CSV part files. The comment makes rows long and cheap to parse, so
    the file clears the floors with half the rows a numeric-only copy
    would need."""
    os.makedirs(out_dir)
    csv = lineitem.copy()
    csv["l_shipdate"] = csv["l_shipdate"].dt.strftime("%Y-%m-%d %H:%M:%S")
    words = np.array(_WORDS)
    picks = words[rng.integers(0, len(words), (len(csv), COMMENT_WORDS))]
    csv["l_comment"] = [" ".join(row) for row in picks]
    for i, chunk in enumerate(np.array_split(np.arange(len(csv)), CSV_PARTS)):
        csv.iloc[chunk].to_csv(
            os.path.join(out_dir, f"part-{i:05d}.csv"), index=False
        )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _paths(base: str) -> dict:
    return {
        "sf_dir": os.path.join(base, "sf0.1"),
        "csv_dir": os.path.join(base, "lineitem_csv"),
    }


def ensure_data(root: str) -> dict:
    """Build (once) and describe the benchmark inputs under ``root``.

    Returns ``{"sf_dir", "csv_dir", "csv_bytes", "build_s", "cached"}``;
    ``build_s`` is the build time of THIS call (0 when reused), which
    set-up time excludes by contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = os.path.join(root, DATA_VERSION)
    stamp = os.path.join(base, "STAMP.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            meta = json.load(fh)
        meta.update(_paths(base), build_s=0.0, cached=True)
        return meta
    t0 = time.monotonic()
    tmp = base + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    sf_dir = os.path.join(tmp, "sf0.1")
    os.makedirs(sf_dir)
    tables = _tables(np.random.default_rng(DATA_SEED))
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(sf_dir, f"{name}.parquet"),
        )
    _write_csv_replica(
        tables["lineitem"],
        np.random.default_rng(DATA_SEED + 1),
        os.path.join(tmp, "lineitem_csv"),
    )
    csv_bytes = dir_bytes(os.path.join(tmp, "lineitem_csv"))
    if csv_bytes <= ADMISSION_FLOOR_BYTES:
        raise RuntimeError(
            f"CSV replica is {csv_bytes} bytes, not above the "
            f"{ADMISSION_FLOOR_BYTES}-byte admission floor"
        )
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    meta = {
        "data_seed": DATA_SEED,
        "data_version": DATA_VERSION,
        "csv_bytes": csv_bytes,
        "csv_rows": len(tables["lineitem"]),
        "parquet_bytes": dir_bytes(os.path.join(base, "sf0.1")),
    }
    with open(stamp, "w") as fh:
        json.dump(meta, fh)
    meta.update(_paths(base), build_s=time.monotonic() - t0, cached=False)
    return meta
