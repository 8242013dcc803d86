"""Seeded star-schema tables and document/embedding corpora.

The tables follow the layout ``calaspark.tables.load_table`` reads
(``<dir>/<name>.parquet``) with the column names and types the query
registry expects: a TPC-H-like star (region, nation, customer,
supplier, part, orders, lineitem), an ``events`` stream table, and the
``documents`` / ``embeddings`` corpus of the LLM-pipeline operators.
Money columns are 2-decimal doubles and dates are midnight timestamps,
the value shapes the DuckDB oracles are written for.

``corpus_variant`` derives a fresh corpus of the same size from a base
corpus: new document ids, a small share of tokens swapped for other
in-vocabulary words, and the embedding vectors turned by one random
orthogonal rotation (every pairwise cosine is kept).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
DUP_TOKEN = "dup"
DIM = 64
_EPOCH = np.datetime64("1970-01-01", "D")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D") - _EPOCH
    b = np.datetime64(hi, "D") - _EPOCH
    d = rng.integers(a.astype(int), b.astype(int) + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def star_tables(out_dir: str | Path, seed: int, scale: float) -> dict[str, int]:
    """Write the seven star tables plus ``events`` at ``scale`` (1.0 ≈
    TPC-H SF1 row counts).  Returns rows per table."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_o, n_l, n_e = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_c, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype("int32")),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)],
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_s, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype("int32")),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    adj = np.array("small red hot old large blue cold new".split())
    noun = np.array("widget plate ring rod bolt gizmo gear anvil".split())
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_p, dtype="int64")
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_p)], " "), noun[rng.integers(0, 8, n_p)]
        ),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": ptypes[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p).astype("int32")),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_o, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype("int64")),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)],
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
    })
    start = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(start, start + span_us, n_e))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_e, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_e // 70), n_e).astype("int64")),
        "event_type": etypes[rng.integers(0, 5, n_e)],
        "value": _money(rng, 0.01, 490.0, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    return {"customer": n_c, "supplier": n_s, "part": n_p, "orders": n_o,
            "lineitem": n_l, "events": n_e}


class Corpus:
    """Documents as token lists plus unit embedding vectors, kept in
    memory so a per-pass variant costs no re-read.  ``dup_of[i]`` is the
    document that document ``i`` near-duplicates, or -1."""

    def __init__(self, tokens: list[list[str]], dup_of: list[int], vectors: np.ndarray,
                 labels: np.ndarray):
        self.tokens = tokens
        self.dup_of = dup_of
        self.vectors = vectors
        self.labels = labels

    def write(self, out_dir: str | Path) -> None:
        out = Path(out_dir)
        out.mkdir(parents=True, exist_ok=True)
        n = len(self.tokens)
        text = [" ".join(t) for t in self.tokens]
        langs = np.array(["en", "en", "de", "es", "fr", "zh"])
        _write(out, "documents", {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": text,
            "lang": langs[np.arange(n) * 7 % 6],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        })
        m = len(self.vectors)
        _write(out, "embeddings", {
            "vec_id": pa.array(np.arange(m, dtype="int64")),
            "embedding": pa.array(
                list(self.vectors.astype("float32")), pa.list_(pa.float32())
            ),
            "label": pa.array(self.labels.astype("int32")),
        })


def base_corpus(seed: int, n_docs: int, n_vecs: int, dup_rate: float = 0.05) -> Corpus:
    """Random word-soup documents (10–99 tokens) of which ``dup_rate``
    repeat an earlier document with a trailing ``dup`` token, and random
    unit vectors with labels 0–9."""
    rng = np.random.default_rng([seed, 2])
    tokens: list[list[str]] = []
    dup_of: list[int] = []
    vocab = np.array(VOCAB)
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_rate:
            dup_of.append(int(rng.integers(0, i)))
            tokens.append(tokens[dup_of[-1]] + [DUP_TOKEN])
        else:
            dup_of.append(-1)
            tokens.append([str(w) for w in vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]])
    v = rng.standard_normal((n_vecs, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return Corpus(tokens, dup_of, v, rng.integers(0, 10, n_vecs))


def corpus_variant(base: Corpus, seed: int, pass_no: int, swap_rate: float = 0.02) -> Corpus:
    """A corpus no earlier pass has seen, with the base's size,
    vocabulary and near-duplicate rate: ``swap_rate`` of the tokens
    become other vocabulary words (a near-duplicate repeats its
    source's new text, so the pair stays as near), documents get new
    ids, and the vectors get one random rotation."""
    rng = np.random.default_rng([seed, 3, pass_no])
    vocab = np.array(VOCAB)
    swapped: list[list[str]] = []
    for toks, src in zip(base.tokens, base.dup_of):
        if src >= 0:
            swapped.append(swapped[src] + [DUP_TOKEN])
            continue
        toks = toks[:]
        for j in np.flatnonzero(rng.random(len(toks)) < swap_rate):
            toks[j] = str(vocab[rng.integers(0, len(vocab))])
        swapped.append(toks)
    order = rng.permutation(len(swapped))
    new_id = np.argsort(order)
    tokens = [swapped[i] for i in order]
    dup_of = [int(new_id[base.dup_of[i]]) if base.dup_of[i] >= 0 else -1 for i in order]
    q, r = np.linalg.qr(rng.standard_normal((DIM, DIM)))
    q *= np.sign(np.diag(r))  # Haar-uniform rotation
    return Corpus(tokens, dup_of, base.vectors @ q, base.labels[rng.permutation(len(base.labels))])
