"""Seeded generator of the star-schema tables the registered queries read.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each. Row counts, column names
and types, and the distribution of every column follow the scale-factor
test tables the registered queries' oracles were written against (seed-42
synthetic TPC-H-like tables; profiled at scale 0.01):

- keys uniform over their key spaces; ``l_extendedprice`` uniform on
  [900, 105000] independent of quantity and price; discount and tax
  rounded uniforms; order and ship dates uniform and independent;
- events: timestamps uniform over 30 days, numbered in time order, users
  ``customers / 10``, values exponential with mean 50;
- documents: 10-99 words of a 30-word vocabulary; one in twenty is
  replaced by another document's text plus the token ``dup``, so the
  near-duplicate detectors find as many pairs (Jaccard 0.9-0.99) as there;
  40% ``en``, sources ``src{doc_id % 20}``;
- embeddings: unit vectors in random directions with labels drawn
  independently of them.

``scale=0.01`` gives 60,000 line items. Every column is drawn from
``numpy.random.default_rng(seed)``, so one seed always writes the same
tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.40, 0.15, 0.15, 0.15)
EMBED_DIM = 64
EMBED_LABELS = 10


def _dates(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def make_tables(seed: int, scale: float = 0.01) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_vec = int(50_000 * scale), int(50_000 * scale)

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                "r_name": list(REGIONS)})
    nk = np.arange(25, dtype="int32")
    t["nation"] = pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
                                "n_regionkey": (nk % 5).astype("int32")})
    ck = np.arange(n_cust, dtype="int64")
    t["customer"] = pd.DataFrame({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype="int64")
    t["supplier"] = pd.DataFrame({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype="int64")
    price = np.round(900.0 + (pk % 1000) * 0.1, 2)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": price})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", 2499)})
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offsets,
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    vec = rng.normal(size=(n_vec, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    label = rng.integers(0, EMBED_LABELS, n_vec)
    t["embeddings"] = pd.DataFrame({"vec_id": np.arange(n_vec, dtype="int64"),
                                    "embedding": list(vec), "label": label.astype("int32")})
    return t


def _documents(rng, n: int) -> pd.DataFrame:
    """Random-word documents; one in twenty is then replaced by another
    document's text plus ``dup`` (a copy of a copy gains a second one), so
    the near-duplicate detectors have pairs to find."""
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64")})


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, scale).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
