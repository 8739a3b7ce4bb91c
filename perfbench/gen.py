"""Seeded input generators.

Every generator is a pure function of the run's seed: the same seed gives
byte-identical inputs and another seed gives other inputs. Nothing here
imports Spark or the engine, so the engine only ever sees what these
functions produce. Files are written only under the directory the caller
passes in (the benchmark keeps it inside its own checkout).

Streams: each kind of input draws from its own `numpy` generator seeded
with `(seed, stream)`, so adding a draw to one input never shifts another.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DIM = 64
BATCH = 4096  # the reference's indexing batch size
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")

STREAM_CORPUS, STREAM_QUERIES, STREAM_CHURN, STREAM_TABLES, STREAM_ORDER = range(5)


def rng(seed: int, stream: int, *sub: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *sub])


def _text(r: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in r.integers(0, len(WORDS), n_words))


def docs(r: np.random.Generator, ids: np.ndarray, dim: int = DIM) -> pd.DataFrame:
    """Documents for the facade: float32 embedding, 30-word text, lang."""
    n = len(ids)
    return pd.DataFrame(
        {
            "doc_id": np.asarray(ids, dtype=np.int64),
            "embedding": list(r.standard_normal((n, dim)).astype(np.float32)),
            "text": [_text(r, 30) for _ in range(n)],
            "lang": np.asarray(LANGS)[r.integers(0, len(LANGS), n)],
        }
    )


def corpus(seed: int, n: int) -> pd.DataFrame:
    """The indexed corpus: ids 0..n-1, float32 gaussian vectors (no exact
    distance ties in practice)."""
    return docs(rng(seed, STREAM_CORPUS), np.arange(n))


def batches(df: pd.DataFrame, size: int = BATCH) -> list[pd.DataFrame]:
    return [df.iloc[i : i + size].reset_index(drop=True) for i in range(0, len(df), size)]


def queries(seed: int, n: int, batch_no: int, dim: int = DIM) -> pd.DataFrame:
    """One fresh query batch; query ids are unique within the batch."""
    r = rng(seed, STREAM_QUERIES, batch_no)
    return pd.DataFrame(
        {
            "query_id": np.arange(n, dtype=np.int64),
            "query_embedding": list(r.standard_normal((n, dim)).astype(np.float32)),
        }
    )


def block_order(seed: int, block_no: int, kinds: tuple[str, ...]) -> list[str]:
    """A seeded shuffle of one block of operation kinds."""
    r = rng(seed, STREAM_ORDER, block_no)
    return [kinds[i] for i in r.permutation(len(kinds))]


# -- index_churn ----------------------------------------------------------

# One block: 40% index, 20% update, 20% delete, 10% status, 10% search, in a
# fixed interleaving. The order is not seeded: an op's cost depends on the
# op before it (a mutation pays for the previous one's deferred
# checkpoint; a read recomputes pending lineage), so a seeded order would
# make runs differ by more than their inputs.
CHURN_BLOCK = (
    "index", "update", "index", "delete", "status",
    "index", "update", "index", "delete", "search",
)
CHURN_INDEX_ROWS = 512  # half new ids, half overwrites
CHURN_UPDATE_KNOWN, CHURN_UPDATE_UNKNOWN = 256, 32
CHURN_DELETE_LIVE, CHURN_DELETE_UNKNOWN, CHURN_DELETE_REPEAT = 224, 16, 16
CHURN_SEARCH_BATCH, CHURN_SEARCH_K = 8, 10
UNKNOWN_ID_BASE = 1 << 40  # ids never indexed


def churn_op(seed: int, op_no: int, kind: str, live_ids: np.ndarray, next_id: int) -> dict:
    """The input of one churn op, drawn from the model's current live ids
    (sorted) and the next unused id. Returns {"kind", ...inputs}."""
    r = rng(seed, STREAM_CHURN, op_no)
    unknown = UNKNOWN_ID_BASE + op_no * 1000 + np.arange(64, dtype=np.int64)
    if kind == "index":
        half = CHURN_INDEX_ROWS // 2
        old = r.choice(live_ids, size=min(half, len(live_ids)), replace=False)
        new = np.arange(next_id, next_id + CHURN_INDEX_ROWS - len(old), dtype=np.int64)
        return {"kind": kind, "docs": docs(r, np.concatenate([new, np.sort(old)]))}
    if kind == "update":
        known = r.choice(live_ids, size=min(CHURN_UPDATE_KNOWN, len(live_ids)), replace=False)
        ids = np.concatenate([np.sort(known), unknown[:CHURN_UPDATE_UNKNOWN]])
        d = docs(r, ids)[["doc_id", "embedding"]]
        return {"kind": kind, "docs": d}
    if kind == "delete":
        live = r.choice(live_ids, size=min(CHURN_DELETE_LIVE, len(live_ids)), replace=False)
        rep = r.choice(live, size=CHURN_DELETE_REPEAT, replace=True)
        ids = np.concatenate([live, unknown[:CHURN_DELETE_UNKNOWN], rep])
        return {"kind": kind, "ids": [int(i) for i in r.permutation(ids)]}
    if kind == "search":
        q = queries(seed, CHURN_SEARCH_BATCH, 1_000_000 + op_no)
        return {"kind": kind, "queries": q, "k": CHURN_SEARCH_K}
    if kind == "status":
        return {"kind": kind}
    raise ValueError(f"unknown churn op kind {kind!r}")


# -- analytics_mix --------------------------------------------------------

# perfbench/fixture/ holds a read-only copy of the repository's sf0.01 test
# tables (the deterministic seed-42 fixture the registry queries were tuned
# on; see TESTDATA.md). analytics_tables() amplifies it: copy c adds
# c * KEY_STRIDE to every key, so each copy is a disjoint replica of the
# fixture's joins, graphs and sessions. The stride is a multiple of 40, so
# id-cycled rules (multimodal's id % 4, % 5, % 8) repeat per copy.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
KEY_STRIDE = 1_000_000
SHIFTED = {
    "nation": (),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
}
SALT_SHARE = 0.9  # copied documents that get a salt word (the rest stay exact duplicates)


def _shifted(t: pa.Table, cols: tuple[str, ...], copy: int) -> pa.Table:
    for c in cols:
        i = t.schema.get_field_index(c)
        t = t.set_column(i, t.field(i), pc.add(t[c], pa.scalar(copy * KEY_STRIDE, t[c].type)))
    return t


def _salted(docs: pa.Table, r: np.random.Generator) -> pa.Table:
    """Append a seeded salt word to SALT_SHARE of a copy's documents; the
    others stay exact duplicates of the fixture's text."""
    salt = r.random(docs.num_rows) < SALT_SHARE
    words = r.integers(0, 1 << 30, docs.num_rows)
    text = [f"{t} s{w}" if s else t for t, s, w in zip(docs["text"].to_pylist(), salt, words)]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(text, pa.string()))
    n_chars = pa.array([len(t) for t in text], pa.int64())
    return docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars", n_chars)


def analytics_tables(seed: int, copies: int, fixture: str = FIXTURE) -> dict[str, pa.Table]:
    """`copies` key-shifted copies of each fixture table (nation is shared).
    Copy 0 is the fixture itself; the seed picks which copied documents are
    salted and with which word."""
    r = rng(seed, STREAM_TABLES)
    out = {}
    for name, cols in SHIFTED.items():
        base = pq.read_table(os.path.join(fixture, f"{name}.parquet")).replace_schema_metadata(None)
        parts = [base] if not cols else [_shifted(base, cols, c) for c in range(copies)]
        if name == "documents":
            parts[1:] = [_salted(p, r) for p in parts[1:]]
        out[name] = pa.concat_tables(parts)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
