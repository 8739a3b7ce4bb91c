"""Tests of the benchmark's own parts: seeded generators, span self-time
arithmetic, and every correctness checker fed a corrupted result.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started; the analytics checker runs against DuckDB.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from check import (  # noqa: E402
    FacadeModel,
    Tally,
    brute_topk,
    check_rows,
    check_search,
    check_status,
    check_workspace,
    oracle_rows,
    rows_of,
    same_rows,
)
from tracing import Span, self_times, window_input_rows  # noqa: E402


def _frame_bytes(df: pd.DataFrame) -> bytes:
    cols = []
    for c in df.columns:
        v = df[c].to_numpy()
        cols.append(np.stack(v).tobytes() if v.dtype == object and isinstance(v[0], np.ndarray)
                    else repr(v.tolist()).encode())
    return b"|".join(cols)


def _churn_inputs(seed: int, n_ops: int = 12) -> bytes:
    model = FacadeModel(gen.corpus(seed, 600))
    out = []
    for n in range(n_ops):
        kind = gen.CHURN_BLOCK[n % len(gen.CHURN_BLOCK)]
        op = gen.churn_op(seed, n, kind, model.live_ids(), model.next_id)
        for key in ("docs", "queries"):
            if key in op:
                out.append(_frame_bytes(op[key]))
        out.append(repr(op.get("ids")).encode())
        model.apply(op)
    return b"#".join(out)


def test_same_seed_gives_identical_inputs_and_another_seed_differs(tmp_path):
    assert _frame_bytes(gen.corpus(7, 300)) == _frame_bytes(gen.corpus(7, 300))
    assert _frame_bytes(gen.corpus(7, 300)) != _frame_bytes(gen.corpus(8, 300))
    assert _frame_bytes(gen.queries(7, 8, 3)) == _frame_bytes(gen.queries(7, 8, 3))
    assert _frame_bytes(gen.queries(7, 8, 3)) != _frame_bytes(gen.queries(8, 8, 3))
    assert gen.block_order(7, 0, gen.CHURN_BLOCK) == gen.block_order(7, 0, gen.CHURN_BLOCK)
    assert _churn_inputs(7) == _churn_inputs(7)
    assert _churn_inputs(7) != _churn_inputs(8)

    dirs = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[name] = str(tmp_path / name)
        gen.write_tables(gen.analytics_tables(seed, 2), dirs[name])
    files = sorted(os.listdir(dirs["a"]))
    assert files == sorted(os.listdir(dirs["c"])) and len(files) == len(gen.SHIFTED)
    _, mismatch, errors = filecmp.cmpfiles(dirs["a"], dirs["b"], files, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(dirs["a"], dirs["c"], files, shallow=False)
    assert mismatch == ["documents.parquet"]  # the seed picks the salted documents


def test_amplified_tables_are_disjoint_key_shifted_copies_of_the_fixture():
    t = gen.analytics_tables(3, 4)
    base = {name: pq.read_table(os.path.join(gen.FIXTURE, f"{name}.parquet")) for name in gen.SHIFTED}
    assert t["nation"].num_rows == base["nation"].num_rows
    for name in ("supplier", "part", "orders", "lineitem", "events", "documents"):
        assert t[name].num_rows == 4 * base[name].num_rows
    # every foreign key of a copy lands in that same copy
    li = t["lineitem"].to_pydict()
    parts, supps = set(t["part"]["p_partkey"].to_pylist()), set(t["supplier"]["s_suppkey"].to_pylist())
    assert all(p in parts and p // gen.KEY_STRIDE == o // gen.KEY_STRIDE
               for p, o in zip(li["l_partkey"], li["l_orderkey"]))
    assert set(li["l_suppkey"]) <= supps
    assert t["lineitem"].slice(0, base["lineitem"].num_rows).equals(base["lineitem"].replace_schema_metadata(None))

    docs = t["documents"].to_pydict()
    n = base["documents"].num_rows
    texts = docs["text"]
    assert texts[:n] == base["documents"]["text"].to_pylist()
    copied = texts[n:]
    exact = sum(x == texts[i % n] for i, x in enumerate(copied))
    assert 0.05 < exact / len(copied) < 0.15  # about 1 - SALT_SHARE
    assert all(x.startswith(texts[i % n]) for i, x in enumerate(copied))
    assert docs["n_chars"] == [len(x) for x in texts]
    assert len(set(docs["doc_id"])) == 4 * n


def test_self_time_subtracts_the_union_of_child_intervals():
    spans = [
        Span("root", 0.0, 10.0, None, "op1"),
        Span("a", 1.0, 4.0, 0, "op1"),
        Span("b", 3.0, 6.0, 0, "op1"),  # overlaps a: the union is [1, 6]
        Span("a.inner", 2.0, 3.0, 1, "op1"),
        Span("c", 9.0, 12.0, 0, "op1"),  # runs past its parent: clipped to [9, 10]
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])


def test_window_input_reads_the_exchange_below_the_rank_window():
    nodes = [
        ("Filter", {"numOutputRows": 20}, 0),
        ("Window", {}, 1),
        ("WindowGroupLimit", {"numOutputRows": 20}, 2),
        ("Exchange", {"recordsRead": 80}, 3),
        ("BroadcastNestedLoopJoin", {"numOutputRows": 8192}, 4),
        ("Exchange", {"recordsRead": 5}, 1),  # beside the window, not below it
    ]
    assert window_input_rows(nodes) == 80


# -- checkers fed corrupted results ----------------------------------------------


def _search_result(corpus: pd.DataFrame, queries: pd.DataFrame, k: int) -> pd.DataFrame:
    ids = corpus["doc_id"].to_numpy()
    expected = brute_topk(ids, corpus["embedding"].tolist(), queries, k)
    text = dict(zip(corpus["doc_id"], corpus["text"]))
    lang = dict(zip(corpus["doc_id"], corpus["lang"]))
    rows = [
        (qid, int(v), r + 1, float(d), text[v], lang[v])
        for qid, (vs, ds) in expected.items()
        for r, (v, d) in enumerate(zip(vs, ds))
    ]
    return pd.DataFrame(rows, columns=["query_id", "vec_id", "rank", "score", "text", "lang"])


def test_search_checker_counts_a_corrupted_result():
    corpus = gen.corpus(5, 500)
    q = gen.queries(5, 8, 0)
    model = FacadeModel(corpus)
    expected = model.topk(q, 10)
    good = _search_result(corpus, q, 10)
    tally = Tally()
    assert tally.record("search", check_search(good, expected, model.payload))

    swapped = good.copy()
    swapped.loc[3, "vec_id"], swapped.loc[4, "vec_id"] = good.loc[4, "vec_id"], good.loc[3, "vec_id"]
    wrong_payload = good.copy()
    wrong_payload.loc[0, "text"] = "tampered"
    short = good.iloc[1:]
    for bad in (swapped, wrong_payload, short):
        assert not tally.record("search", check_search(bad, expected, model.payload))
    assert (tally.attempted, tally.failed) == (4, 3)
    assert tally.error_rate == 0.75


def test_churn_model_and_status_checker_count_a_corrupted_result():
    model = FacadeModel(gen.corpus(6, 400))
    op = gen.churn_op(6, 0, "delete", model.live_ids(), model.next_id)
    model.apply(op)
    hit = len(set(op["ids"]) & set(range(400)))
    want = model.status()
    assert want == {
        "count_indexed": 400,
        "count_active": 400 - hit,
        "count_deleted": hit,
        "size_dam": 400 - hit,
    }
    tally = Tally()
    assert tally.record("status", check_status(dict(want), want))
    assert not tally.record("status", check_status(dict(want, count_active=401 - hit), want))
    assert tally.failed == 1


def _write_workspace(path, model: FacadeModel, drop: int | None = None) -> None:
    ids = [i for i in sorted(model.vec) if i != drop]
    os.makedirs(path / "vectors")
    os.makedirs(path / "docstore")
    pq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "internal_id": pa.array(range(len(ids)), pa.int64()),
                "emb": [model.vec[i].astype(np.float64).tolist() for i in ids],
            }
        ),
        path / "vectors" / "part-0.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "id": pa.array(sorted(model.payload), pa.int64()),
                "text": [model.payload[i][0] for i in sorted(model.payload)],
                "lang": [model.payload[i][1] for i in sorted(model.payload)],
            }
        ),
        path / "docstore" / "part-0.parquet",
    )


def test_workspace_checker_counts_a_corrupted_dump(tmp_path):
    model = FacadeModel(gen.corpus(9, 200))
    _write_workspace(tmp_path / "good", model)
    _write_workspace(tmp_path / "bad", model, drop=17)
    tally = Tally()
    assert tally.record("dump", check_workspace(str(tmp_path / "good"), model))
    assert not tally.record("dump", check_workspace(str(tmp_path / "bad"), model))
    assert tally.failed == 1


def test_analytics_checker_counts_a_corrupted_row(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__

    gen.write_tables(gen.analytics_tables(4, 1), str(tmp_path))
    con = duckdb.connect()
    for t in gen.SHIFTED:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path / t}.parquet')")
    sql = __spark_entry__.oracle_sql()["tpch_q1_pricing_summary"]
    ocols, orows = oracle_rows(con, sql)
    result = con.execute(sql).df()  # stands in for the engine's toPandas()
    tally = Tally()
    assert tally.record("q1", check_rows(list(result.columns), rows_of(result), ocols, orows))
    corrupted = result.copy()
    corrupted.loc[0, "sum_qty"] += 1.0
    assert not tally.record("q1", check_rows(list(corrupted.columns), rows_of(corrupted), ocols, orows))
    assert not tally.record("q1", check_rows(list(result.columns), rows_of(result)[1:], ocols, orows))
    # a repeated run is compared with the verified first result, in any order
    assert tally.record("q1", same_rows(result.iloc[::-1], result))
    assert not tally.record("q1", same_rows(corrupted, result))
    assert (tally.attempted, tally.failed) == (5, 3)


def test_benchmark_json_lists_the_per_layer_metrics_the_run_reports():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert listed == workloads.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
