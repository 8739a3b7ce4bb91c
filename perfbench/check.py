"""Correctness checkers.

Every checker returns a list of problems; an empty list means the result
is correct. `Tally` turns those lists into the `attempted`/`failed` counts
the benchmark reports, so a wrong answer counts exactly like a failed call.

The KNN reference is an independent numpy brute force that folds dot
products dimension by dimension in float64 (the engine's documented fold
order), so its distances match the engine's bit for bit and its top-k is
the engine's top-k, ties broken by id.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd

SCORE_TOL = 1e-9


class Tally:
    """Ops attempted and ops failed (raised, or returned a wrong result)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems[:3])
        return not problems

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- KNN ------------------------------------------------------------------


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d, None] * b[None, :, d]
    return acc


def _fold_norm(a: np.ndarray) -> np.ndarray:
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d] * a[:, d]
    return np.sqrt(acc)


def brute_topk(ids: np.ndarray, mat: np.ndarray, queries: pd.DataFrame, k: int) -> dict:
    """{query_id: (vec_ids, cosine distances)} of the k nearest stored rows,
    ordered by (distance, id)."""
    s = np.asarray(mat, dtype=np.float64)
    q = np.stack(queries["query_embedding"].to_numpy()).astype(np.float64)
    dist = 1.0 - _fold_dot(q, s) / (_fold_norm(q)[:, None] * _fold_norm(s)[None, :])
    out = {}
    for row, qid in enumerate(queries["query_id"].to_numpy()):
        order = np.lexsort((ids, dist[row]))[:k]
        out[int(qid)] = (ids[order], dist[row][order])
    return out


def check_search(
    result: pd.DataFrame, expected: dict, payload: dict | None = None
) -> list[str]:
    """Compare one search result (query_id, vec_id, rank, score[, text,
    lang]) with `brute_topk` output, and each row's payload with the
    {id: (text, lang)} map when given."""
    problems = []
    n_expected = sum(len(v[0]) for v in expected.values())
    if len(result) != n_expected:
        problems.append(f"{len(result)} rows, expected {n_expected}")
    for qid, grp in result.sort_values(["query_id", "rank"]).groupby("query_id"):
        if int(qid) not in expected:
            problems.append(f"unexpected query id {qid}")
            continue
        want_ids, want_d = expected[int(qid)]
        ranks = grp["rank"].to_numpy()
        if not np.array_equal(ranks, np.arange(1, len(ranks) + 1)):
            problems.append(f"query {qid}: ranks {ranks.tolist()}")
        got_ids = grp["vec_id"].to_numpy()
        if not np.array_equal(got_ids, want_ids):
            problems.append(f"query {qid}: ids {got_ids[:5].tolist()} != {want_ids[:5].tolist()}")
        elif np.max(np.abs(grp["score"].to_numpy() - want_d), initial=0.0) > SCORE_TOL:
            problems.append(f"query {qid}: scores differ from the brute force")
        if payload is not None:
            for vid, text, lang in zip(got_ids, grp["text"], grp["lang"]):
                if payload.get(int(vid)) != (text, lang):
                    problems.append(f"query {qid}: payload of {vid} differs")
                    break
    return problems


# -- index_churn model ------------------------------------------------------


class FacadeModel:
    """The facade's expected state: live vectors, doc store and the
    tombstone count that status() reports."""

    def __init__(self, corpus: pd.DataFrame) -> None:
        self.vec: dict[int, np.ndarray] = {}
        self.payload: dict[int, tuple[str, str]] = {}
        self.tombstones = 0
        self.next_id = 0
        self._index(corpus)

    def _index(self, d: pd.DataFrame) -> None:
        for i, e, t, lang in zip(d["doc_id"], d["embedding"], d["text"], d["lang"]):
            self.vec[int(i)] = e
            self.payload[int(i)] = (t, lang)
        self.next_id = max(self.next_id, int(d["doc_id"].max()) + 1)

    def live_ids(self) -> np.ndarray:
        return np.asarray(sorted(self.vec), dtype=np.int64)

    def apply(self, op: dict) -> None:
        kind = op["kind"]
        if kind == "index":
            self._index(op["docs"])
        elif kind == "update":
            for i, e in zip(op["docs"]["doc_id"], op["docs"]["embedding"]):
                if int(i) in self.vec:
                    self.vec[int(i)] = e
        elif kind == "delete":
            hit = {i for i in op["ids"] if i in self.vec}
            self.tombstones += len(hit)
            for i in hit:
                del self.vec[i]
                self.payload.pop(i, None)

    def status(self) -> dict[str, int]:
        active = len(self.vec)
        return {
            "count_indexed": active + self.tombstones,
            "count_active": active,
            "count_deleted": self.tombstones,
            "size_dam": len(self.payload),
        }

    def topk(self, queries: pd.DataFrame, k: int) -> dict:
        ids = self.live_ids()
        return brute_topk(ids, np.stack([self.vec[i] for i in ids]), queries, k)


def check_status(got: dict, want: dict) -> list[str]:
    return [f"{key}={got.get(key)} expected {v}" for key, v in want.items() if got.get(key) != v]


def check_workspace(workspace: str, model: FacadeModel) -> list[str]:
    """Read a dumped workspace with pyarrow (not the engine) and compare
    its vectors and doc store with the model."""
    import pyarrow.dataset as ds

    problems = []
    vec = ds.dataset(os.path.join(workspace, "vectors"), format="parquet").to_table().to_pydict()
    got = dict(zip(vec["id"], vec["emb"]))
    if sorted(got) != sorted(model.vec):
        problems.append(f"dumped vectors hold {len(got)} ids, model {len(model.vec)}")
    else:
        for i, e in got.items():
            if not np.array_equal(np.asarray(e), model.vec[i].astype(np.float64)):
                problems.append(f"dumped vector {i} differs")
                break
    doc = ds.dataset(os.path.join(workspace, "docstore"), format="parquet").to_table()
    doc = doc.to_pydict()
    payload = {i: (t, g) for i, t, g in zip(doc["id"], doc["text"], doc["lang"])}
    if len(doc["id"]) != len(payload) or payload != model.payload:
        problems.append(f"dumped doc store ({len(doc['id'])} rows) differs from the model")
    return problems


# -- analytics oracle -------------------------------------------------------


def _oracle_helpers():
    """The repo's DuckDB-oracle canonicalization (tools/oracle_check.py)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import oracle_check

    return oracle_check


def rows_of(pdf: pd.DataFrame) -> list[tuple]:
    """Rows of a toPandas() result as plain Python values; float NaN (how
    pandas shows a SQL NULL) becomes None."""
    py = _oracle_helpers()._py
    out = []
    for row in pdf.itertuples(index=False, name=None):
        vals = [py(v) for v in row]
        out.append(tuple(None if isinstance(v, float) and math.isnan(v) else v for v in vals))
    return out


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    py = _oracle_helpers()._py
    at = con.execute(sql).fetch_arrow_table()
    cols = list(at.column_names)
    return cols, [tuple(py(d[c]) for c in cols) for d in at.to_pylist()]


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Whether two results hold the same rows, in any order."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return [f"{len(got)} rows {list(got.columns)}, verified {len(want)} {list(want.columns)}"]
    cols = list(got.columns)
    a = got.sort_values(cols, ignore_index=True)
    b = want.sort_values(cols, ignore_index=True)
    return [] if a.equals(b) else ["rows differ from the verified result"]


def check_rows(cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]) -> list[str]:
    """Row count, column names and the order-insensitive exact value hash."""
    oc = _oracle_helpers()
    if len(rows) != len(orows):
        return [f"{len(rows)} rows, oracle {len(orows)}"]
    if sorted(cols) != sorted(ocols):
        return [f"columns {sorted(cols)} != oracle {sorted(ocols)}"]
    if oc._hash_rows(cols, rows) != oc._hash_rows(ocols, orows):
        return [f"values differ: {oc._first_diff(cols, rows, orows)}"]
    return []
