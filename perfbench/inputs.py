"""Seeded benchmark inputs.

Pages: ``fixtures.gen_corpus`` rows, with the url prefix rewritten and the
row order permuted by the workload seed. A new url hash moves a document
to another salted bucket, while its golden text stays the same, so byte
identity can still be checked on every seed.

Catalog tables: the ten tables the query registry reads (region nation
customer supplier part orders lineitem events documents embeddings), drawn
from one fixed generator seed at the sf0.01 sizes of the repository's
test data (TESTDATA.md). They do not depend on the workload seed, so every
catalog entry has one stored expected row count (``expected_rows.json``).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import fixtures

TABLE_SEED = 42
TABLE_SF = 0.01
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
N_PAGE_FILES = 8


def page_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """gen_corpus(n_docs) with a seed-specific url prefix and row order."""
    pdf = fixtures.gen_corpus(n_docs)
    pdf["url"] = pdf["url"].str.replace("https://", f"https://s{seed}.", n=1, regex=False)
    order = np.random.default_rng(seed).permutation(n_docs)
    return pdf.iloc[order].reset_index(drop=True)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def _write_dir(df: pd.DataFrame, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        _write(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def stage_pages(pdf: pd.DataFrame, out_dir: str) -> tuple[str, str]:
    """Write the pages table and its golden sidecar; return both paths."""
    pages = os.path.join(out_dir, "pages")
    golden = os.path.join(out_dir, "golden")
    _write_dir(pdf[PAGE_COLS], pages, N_PAGE_FILES)
    _write_dir(pdf[["url", "golden_text"]], golden, 1)
    return pages, golden


# --- catalog tables ----------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64


def _days(rng, start: str, end: str, n: int) -> pd.Series:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return pd.Series(lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> pd.DataFrame:
    texts = [
        " ".join(rng.choice(_WORDS, size=int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # 5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def catalog_tables() -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(TABLE_SEED)
    sf = TABLE_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_vec = 500
    n_users = max(15, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    gaps_us = rng.exponential(259e6, n_evt).astype("int64")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype="int64"),
            "ts": pd.Series(
                np.datetime64(datetime(2024, 1, 1), "us") + np.cumsum(gaps_us)
            ),
            "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(49.6, n_evt), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(size=(10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = centroids[labels] + rng.normal(scale=0.875, size=(n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": list(vecs),
            "label": labels.astype("int32"),
        }
    )
    return t


def stage_tables(out_dir: str, tables: dict[str, pd.DataFrame]) -> str:
    """Write tables as ``<name>.parquet`` files, the layout both
    ``load_table`` and the DuckDB oracle views read; return the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        _write(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
