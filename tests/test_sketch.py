"""HyperLogLog sketch semantics: python-replay parity, mergeability,
estimate accuracy, and the integer-exactness engineering."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.operators import sketch as SK


def _py_registers(values, p):
    """Sequential replay of the exact hash/register/rank contract."""
    m, width = 1 << p, 60 - p
    regs = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        reg, w = h % m, h >> p
        rank = width - w.bit_length() + 1
        regs[reg] = max(regs.get(reg, 0), rank)
    return regs


def test_registers_match_python_replay(spark, sf_dir):
    events = tables.load(spark, sf_dir, "events")
    got = {
        r.register: r.max_rank
        for r in SK.hll_registers(events, "user_id", 10).collect()
    }
    want = _py_registers(
        [r.user_id for r in events.select("user_id").collect()], 10
    )
    assert got == want


def test_merge_of_disjoint_halves_equals_whole(spark, sf_dir):
    events = tables.load(spark, sf_dir, "events")
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    merged = SK.hll_merge(
        SK.hll_registers(even, "user_id", 8),
        SK.hll_registers(odd, "user_id", 8),
    )
    whole = SK.hll_registers(events, "user_id", 8)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_merge_is_idempotent(spark, sf_dir):
    events = tables.load(spark, sf_dir, "events")
    s = SK.hll_registers(events, "user_id", 8)
    assert sorted(map(tuple, SK.hll_merge(s, s).collect())) == sorted(
        map(tuple, s.collect())
    )


def test_estimate_within_five_sigma(spark):
    # known cardinality 5000 at p=10: sigma ~= 1.04/32 ~= 3.25%
    df = spark.range(5000).select(F.col("id").alias("v"))
    est, n_zero = SK.hll_distinct(df, "v", 10).first()
    assert abs(est - 5000) / 5000 <= 5 * 1.04 / math.sqrt(1024)
    assert n_zero >= 0


def test_estimate_small_range_correction_branch(spark):
    # 30 distinct at p=10 -> most registers empty -> linear counting
    # m*ln(m/V); at this density it is exact-ish (well under 1 sigma)
    df = spark.range(30).select(F.col("id").alias("v"))
    est, n_zero = SK.hll_distinct(df, "v", 10).first()
    assert n_zero >= 1024 - 30
    assert abs(est - 30) < 5


def test_nulls_are_excluded(spark):
    df = spark.range(100).select(
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("v")
    )
    with_nulls = {
        r.register: r.max_rank for r in SK.hll_registers(df, "v", 8).collect()
    }
    without = {
        r.register: r.max_rank
        for r in SK.hll_registers(df.filter(F.col("v").isNotNull()), "v", 8).collect()
    }
    assert with_nulls == without


def test_p_bounds_validated(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    for bad in (3, 17, 0, -1):
        with pytest.raises(ValueError, match="p must be"):
            SK.hll_registers(df, "v", bad)
    with pytest.raises(ValueError, match="at least one"):
        SK.hll_merge()


def test_rank_uses_integer_shift_not_float_division():
    """The register split must be h >> p, never h / m: a double division
    rounds the 60-bit hash to 53-bit mantissa precision. Pin the generated
    SQL so a refactor cannot silently reintroduce the float path."""
    for engine in ("spark", "duck"):
        sql = SK._registers_sql("events", "user_id", 10, engine)
        assert "/" not in sql.replace("/*", ""), sql
    assert "shiftright" in SK._registers_sql("e", "c", 10, "spark")
    assert ">>" in SK._registers_sql("e", "c", 10, "duck")


def test_double_literals_use_e0_notation():
    """Bare decimal literals parse as DECIMAL in Spark SQL but DOUBLE in
    DuckDB — the e0 suffix keeps both engines on IEEE doubles (observed as
    a 10th-digit estimate divergence without it)."""
    est = SK.oracle_estimate_sql("events", "user_id", 10)
    assert "0.7213e0" in est and "1.079e0" in est
    assert "0.7213 " not in est


# -- count-min sketch --------------------------------------------------------


def _sliced_pos(v, i, mod, family):
    # r09 digest economy: position i is a log2(mod)-bit field of digest
    # md5(value || '#' || family || k) — mirrors sketch._sliced_pos_sql
    bits = mod.bit_length() - 1
    per_half = 60 // bits
    gh, field = divmod(i, per_half)
    dg = hashlib.md5(f"{v}#{family}{gh // 2}".encode()).hexdigest()
    h = int(dg[15 * (gh % 2) : 15 * (gh % 2) + 15], 16)
    return (h >> (bits * field)) & (mod - 1)


def _py_cms(values, d, w):
    state = {}
    for v in values:
        for i in range(d):
            key = (i, _sliced_pos(v, i, w, "cms"))
            state[key] = state.get(key, 0) + 1
    return state


def test_cms_state_matches_python_replay(spark, sf_dir):
    events = tables.load(spark, sf_dir, "events")
    got = {
        (r.hash_row, r.bucket): r.cnt
        for r in SK.cms_state(events, "event_type", 4, 64).collect()
    }
    want = _py_cms(
        [r.event_type for r in events.select("event_type").collect()], 4, 64
    )
    assert got == want


def test_cms_never_underestimates_even_with_heavy_collisions(spark, sf_dir):
    # w=4 forces collisions: estimates must still bound exact from above
    events = tables.load(spark, sf_dir, "events")
    state = SK.cms_state(events, "event_type", 3, 4)
    exact = events.groupBy(F.col("event_type").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    est = SK.cms_lookup(
        state, exact.withColumnRenamed("item", "event_type"), "event_type", 3, 4
    )
    rows = est.collect()
    assert rows
    total = events.count()
    for r in rows:
        assert r.est_count >= r.exact_count, r
        assert r.est_count <= total, r


def test_cms_merge_of_halves_equals_whole(spark, sf_dir):
    events = tables.load(spark, sf_dir, "events")
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    merged = SK.cms_merge(
        SK.cms_state(even, "event_type", 4, 64),
        SK.cms_state(odd, "event_type", 4, 64),
    )
    whole = SK.cms_state(events, "event_type", 4, 64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_cms_params_validated(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="power of two"):
        SK.cms_state(df, "v", 4, 100)
    with pytest.raises(ValueError, match="d must be"):
        SK.cms_state(df, "v", 0, 64)
    # ADVICE r09: the digest-slicing width bound is an explicit error,
    # not a ZeroDivisionError inside _sliced_pos_sql
    with pytest.raises(ValueError, match="digest-slicing"):
        SK.cms_state(df, "v", 4, 1 << 31)
    with pytest.raises(ValueError, match="at least one"):
        SK.cms_merge()


# -- bloom filter ------------------------------------------------------------


def test_bloom_no_false_negatives(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    state = SK.bloom_state(docs, "doc_id", 4, 4096)
    probes = docs.select(F.col("doc_id").alias("probe_id"))
    got = SK.bloom_contains(state, probes, "probe_id", 4, 4096).collect()
    assert got and all(r.maybe_present for r in got)


def test_bloom_fp_rate_within_theory(spark, sf_dir):
    # 500 inserted ids, m=4096, k=4: fp ~= (1 - e^(-k*n/m))^k ~= 2.4%;
    # probe 500 never-inserted ids and allow 5x slack on fixed data
    docs = tables.load(spark, sf_dir, "documents")
    n = docs.count()
    k, m = 4, 4096
    state = SK.bloom_state(docs, "doc_id", k, m)
    absent = docs.select((F.col("doc_id") + 1_000_000_000).alias("probe_id"))
    got = SK.bloom_contains(state, absent, "probe_id", k, m).collect()
    fp = sum(1 for r in got if r.maybe_present)
    theory = (1.0 - math.exp(-k * n / m)) ** k
    assert fp / len(got) <= 5 * theory + 0.01, (fp, len(got), theory)


def test_bloom_params_validated(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="power of two"):
        SK.bloom_state(df, "v", 4, 1000)
    with pytest.raises(ValueError, match="k must be"):
        SK.bloom_state(df, "v", 0, 1024)
    with pytest.raises(ValueError, match="digest-slicing"):
        SK.bloom_state(df, "v", 4, 1 << 31)


def test_hll_estimate_of_empty_input_is_zero_not_null(spark):
    # sum() over an empty register state is NULL in SQL; the estimate must
    # coalesce it and land in the linear-counting branch: m*ln(m/m) = 0
    df = spark.range(0).select(F.col("id").alias("v"))
    est, n_zero = SK.hll_distinct(df, "v", 10).first()
    assert est == 0.0 and n_zero == 1024


def test_bloom_duplicate_probes_keep_the_no_false_negative_guarantee(spark):
    # a duplicated INSERTED probe id must still read present: the verdict
    # is min(hit)==1 (all bits set), not sum(hit)==k which double-counts
    df = spark.range(100).select(F.col("id").alias("v"))
    state = SK.bloom_state(df, "v", 4, 1024)
    dup = spark.createDataFrame([(5,), (5,), (7,)], "probe_id long")
    got = {
        r.probe_id: r.maybe_present
        for r in SK.bloom_contains(state, dup, "probe_id", 4, 1024).collect()
    }
    assert got == {5: True, 7: True}


def test_grouped_registers_equal_per_group_plain_registers(spark, sf_dir):
    # the grouped state is definitionally the plain sketch of each slice
    events = tables.load(spark, sf_dir, "events")
    grouped = SK.hll_registers_grouped(events, "user_id", ["event_type"], 6)
    types = [r.event_type for r in events.select("event_type").distinct().collect()]
    for t in sorted(types)[:2]:  # two slices suffice; full equality is O(groups)
        want = sorted(
            map(tuple, SK.hll_registers(
                events.filter(F.col("event_type") == t), "user_id", 6
            ).collect())
        )
        got = sorted(
            (r.register, r.max_rank)
            for r in grouped.filter(F.col("event_type") == t)
            .select("register", "max_rank").collect()
        )
        assert got == want


def test_grouped_estimate_accuracy_per_group(spark, sf_dir):
    events = tables.load(spark, sf_dir, "events")
    est = {
        r.event_type: r.est_distinct
        for r in SK.hll_distinct_grouped(
            events, "user_id", ["event_type"], 5
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert abs(est[t] - n) / n <= 5 * 1.04 / math.sqrt(32), (t, est[t], n)


def test_grouped_requires_group_cols(spark):
    df = spark.range(5).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="non-empty"):
        SK.hll_registers_grouped(df, "v", [], 10)
    with pytest.raises(ValueError, match="non-empty"):
        SK.oracle_estimate_grouped_sql("t", "v", [], 10)


def test_intersection_estimate_via_inclusion_exclusion(spark, sf_dir):
    # merge-based union estimate == direct union sketch estimate, and the
    # inclusion-exclusion intersection lands within 5 sigma x union
    events = tables.load(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "view")
    b = events.filter(F.col("event_type") == "purchase")
    ra, rb = SK.hll_registers(a, "user_id", 5), SK.hll_registers(b, "user_id", 5)
    merged_est = SK.hll_estimate(SK.hll_merge(ra, rb), 5).first().est_distinct
    union_df = events.filter(F.col("event_type").isin("view", "purchase"))
    direct_est = SK.hll_distinct(union_df, "user_id", 5).first().est_distinct
    assert merged_est == direct_est  # merge == union sketch, bit-exact
    ea = SK.hll_estimate(ra, 5).first().est_distinct
    eb = SK.hll_estimate(rb, 5).first().est_distinct
    exact = (
        a.select("user_id").distinct()
        .join(b.select("user_id").distinct(), "user_id").count()
    )
    est_int = ea + eb - merged_est
    assert abs(est_int - exact) <= 5 * 1.04 / math.sqrt(32) * merged_est


# -- r06 additions: bloom-pruned scan, grouped CMS, unseen lookup ------------


def test_bloom_member_expr_agrees_with_join_probe(spark, sf_dir):
    """The literal-bitmask predicate must give exactly bloom_contains'
    verdicts (same hashes, same bits — only the evaluation strategy
    differs: scan-side codegen vs broadcast join)."""
    docs = tables.load(spark, sf_dir, "documents")
    k, mbits = 4, 4096
    bits = SK.bloom_bits_collect(docs, "doc_id", k, mbits)
    probes = docs.select(F.col("doc_id").alias("probe_id")).limit(20).unionByName(
        spark.range(5).select((F.col("id") + 1_000_000_000).alias("probe_id"))
    )
    via_expr = probes.select(
        "probe_id",
        SK.bloom_member_expr(bits, "probe_id", k, mbits).alias("maybe_present"),
    )
    state = SK.bloom_state(docs, "doc_id", k, mbits)
    via_join = SK.bloom_contains(state, probes, "probe_id", k, mbits)
    a = {r.probe_id: r.maybe_present for r in via_expr.collect()}
    b = {r.probe_id: r.maybe_present for r in via_join.collect()}
    assert a == b and len(a) == 25


def test_bloom_prune_scan_keeps_all_matching_fact_rows(spark, sf_dir):
    """No false negatives: the pruned fact must contain EVERY order whose
    customer is in the dim side, so the downstream join is exactly the
    unpruned join; and the filter must actually drop non-matching rows."""
    cust = tables.load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = tables.load(spark, sf_dir, "orders")
    pruned = SK.bloom_prune_scan(orders, cust, "o_custkey", "c_custkey", 4, 65536)
    dim = cust.select("c_custkey")
    direct = orders.join(dim, orders["o_custkey"] == dim["c_custkey"])
    pjoin = pruned.join(dim, pruned["o_custkey"] == dim["c_custkey"])
    n_direct, n_pruned_join = direct.count(), pjoin.count()
    assert n_direct == n_pruned_join > 0
    assert pruned.count() < orders.count()  # measured scan reduction


def test_bloom_member_expr_validates_inputs():
    with pytest.raises(ValueError, match="multiple of 64"):
        SK.bloom_member_expr([0], "x", 2, 32)
    with pytest.raises(ValueError, match="outside"):
        SK.bloom_member_expr([4096], "x", 2, 4096)


def test_cms_lookup_returns_unseen_probes_with_zero_floor(spark):
    """r06 left-join default: a probe value never inserted must come BACK
    (not vanish) and its estimate must be >= 0 with the no-underestimate
    guarantee intact (true count is 0)."""
    df = spark.createDataFrame([(f"tok{i}",) for i in range(50)], "token string")
    state = SK.cms_state(df, "token", 4, 256)
    probes = spark.createDataFrame(
        [("tok1",), ("definitely_never_inserted",)], "token string"
    )
    got = {r.token: r.est_count for r in
           SK.cms_lookup(state, probes, "token", 4, 256).collect()}
    assert set(got) == {"tok1", "definitely_never_inserted"}
    assert got["tok1"] >= 1
    assert got["definitely_never_inserted"] >= 0


def test_cms_grouped_state_equals_per_group_plain_state(spark, sf_dir):
    """Slicing the grouped state at one group must equal cms_state run on
    that group's rows alone — the property that makes per-group states a
    single-shuffle composition, not an approximation."""
    docs = tables.load(spark, sf_dir, "documents")
    from executor_u1mindexer_spark.functions import text as T

    toks = docs.select("lang", F.explode(T.words(F.lower(F.col("text")))).alias("token"))
    grouped = SK.cms_state_grouped(toks, "token", ["lang"], 4, 256)
    langs = [r.lang for r in toks.select("lang").distinct().collect()]
    lang = sorted(langs)[0]
    got = {
        (r.hash_row, r.bucket): r.cnt
        for r in grouped.filter(F.col("lang") == lang).collect()
    }
    want = {
        (r.hash_row, r.bucket): r.cnt
        for r in SK.cms_state(
            toks.filter(F.col("lang") == lang), "token", 4, 256
        ).collect()
    }
    assert got == want and len(want) > 0


def test_cms_grouped_requires_group_cols(spark):
    df = spark.createDataFrame([("a", "x")], "g string, v string")
    with pytest.raises(ValueError, match="group_cols"):
        SK.cms_state_grouped(df, "v", [])
    with pytest.raises(ValueError, match="group_cols"):
        SK.cms_lookup_grouped(df, df, "v", [])


# -- AMS F2 / join-size (r06) ------------------------------------------------


def _ams_sign(v, j):
    # r09 scheme: bit (j % 60) of 60-bit half (j // 60) % 2 of digest
    # md5(value || '#ams' || j // 120) — one digest per 120 counters
    gh, bit = divmod(j, 60)
    k, half = divmod(gh, 2)
    dg = hashlib.md5(f"{v}#ams{k}".encode()).hexdigest()
    h = int(dg[15 * half : 15 * half + 15], 16)
    return 1 if (h >> bit) & 1 else -1


def test_ams_state_matches_python_replay(spark):
    vals = ["a", "b", "a", "c", "a", "b"]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    d = 8
    got = {r.hash_row: r.z for r in SK.ams_state(df, "t", d).collect()}
    want = {j: sum(_ams_sign(v, j) for v in vals) for j in range(d)}
    assert got == want


def test_ams_state_replay_beyond_one_digest(spark):
    # d=150 crosses both the second 60-bit half (j >= 60) and the second
    # digest (j >= 120) — pins the bit/half/digest indexing of the r09
    # sliced-sign scheme on every lane, not just digest 0 half 0
    vals = ["a", "b", "a", "c"]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    d = 150
    got = {r.hash_row: r.z for r in SK.ams_state(df, "t", d).collect()}
    want = {j: sum(_ams_sign(v, j) for v in vals) for j in range(d)}
    assert got == want


def test_ams_f2_exact_on_known_multiset(spark):
    # f = {a: 3, b: 2, c: 1} -> F2 = 9 + 4 + 1 = 14; with many counters
    # the mean-of-squares estimate must land within the 5-sigma band
    vals = ["a"] * 3 + ["b"] * 2 + ["c"]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    d = 256
    est = SK.ams_f2_estimate(SK.ams_state(df, "t", d), d).collect()[0]
    assert est.n_counters == d
    assert abs(est.est_f2 - 14) <= 5 * (2.0 / d) ** 0.5 * 14 + 1


def test_ams_inner_product_estimates_join_size(spark):
    # A = {k1 x2, k2}, B = {k1 x3, k3} -> join size = 2*3 = 6
    a = spark.createDataFrame([("k1",), ("k1",), ("k2",)], "k string")
    b = spark.createDataFrame([("k1",)] * 3 + [("k3",)], "k string")
    d = 512
    est = SK.ams_inner_product(
        SK.ams_state(a, "k", d), SK.ams_state(b, "k", d), d
    ).collect()[0]
    assert est.sum_products == est.est_join_size * d
    assert abs(est.est_join_size - 6.0) <= 5.0 * (2.0 * 6 * 10 / d) ** 0.5 + 1


def test_ams_d_validated(spark):
    df = spark.createDataFrame([("x",)], "t string")
    with pytest.raises(ValueError, match="d must be"):
        SK.ams_state(df, "t", 0)


# ------------------------------------------------------- Misra-Gries (r12)


def _mg_fixture(spark, n_parts):
    # 3 heavy items (300/200/150 of n=1000) + 350 singleton tail items;
    # values interleaved so heavy occurrences span every partition
    rows = (
        [(1,)] * 300 + [(2,)] * 200 + [(3,)] * 150 + [(100 + i,) for i in range(350)]
    )
    return spark.createDataFrame(rows, "item long").repartition(n_parts)


def test_mg_partials_bounded_and_undercounting(spark):
    k = 8
    df = _mg_fixture(spark, 7)
    parts = SK.misra_gries_partials(df, "item", k).collect()
    sentinels = [r for r in parts if r.item is None]
    items = [r for r in parts if r.item is not None]
    # exactly one sentinel per non-empty partition, carrying the stream length
    assert sum(r.cnt_lb for r in sentinels) == 1000
    # bounded state: 7 partitions x (<= k items + 1 sentinel)
    assert len(sentinels) <= 7
    assert len(items) <= 7 * k
    from collections import Counter

    exact = {1: 300, 2: 200, 3: 150}
    agg = Counter()
    for r in items:
        agg[r.item] += r.cnt_lb
        assert r.cnt_lb >= 1
    # undercount property: cnt_lb <= true count, deficit <= n/(k+1)
    for it, lb in agg.items():
        true = exact.get(it, 1)
        assert lb <= true
        assert true - lb <= 1000 // (k + 1)


def test_mg_heavy_hitters_verified_exact_any_partitioning(spark):
    # truth: items with count > n/(k+1); with k=8, threshold 1000/9=111.1
    # -> {1, 2, 3}. MG guarantees no false negatives under ANY partition
    # layout; the verify join kills false positives — so the output is
    # bit-identical across layouts.
    k = 8
    want = {(1, 300), (2, 200), (3, 150)}
    for n_parts in (1, 3, 16):
        df = _mg_fixture(spark, n_parts)
        got = {
            (r.item, r.n_exact)
            for r in SK.heavy_hitters_verified(df, "item", k).collect()
        }
        assert got == want, n_parts


def test_mg_k_validated(spark):
    df = spark.createDataFrame([(1,)], "item long")
    with pytest.raises(ValueError, match="k must be"):
        SK.misra_gries_partials(df, "item", 0)


def test_mg_grouped_heavy_hitters_exact_any_partitioning(spark):
    # group A: heavy {1: 60, 2: 30} over 60 singleton-tail items (n=150,
    # k=8 -> threshold 150/9 = 16.7); group B: heavy {5: 40} over 30 tail
    # (n=70 -> threshold 7.8)
    rows = (
        [("A", 1)] * 60 + [("A", 2)] * 30 + [("A", 100 + i) for i in range(60)]
        + [("B", 5)] * 40 + [("B", 200 + i) for i in range(30)]
    )
    want = {("A", 1, 60, 150), ("A", 2, 30, 150), ("B", 5, 40, 70)}
    for n_parts in (1, 4, 16):
        df = spark.createDataFrame(rows, "g string, item long").repartition(n_parts)
        got = {
            (r.g, r.item, r.n_exact, r.n_group)
            for r in SK.heavy_hitters_verified_grouped(df, "g", "item", 8).collect()
        }
        assert got == want, n_parts


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=400),
    st.integers(2, 12),
    st.integers(1, 6),
)
def test_mg_heavy_hitters_property(spark, items, k, n_parts):
    """Property (Mergeable Summaries): under ANY stream content, k, and
    partition count, heavy_hitters_verified returns EXACTLY the items
    with count * (k+1) > n — no false negatives from the MG candidates,
    no false positives past the verify."""
    from collections import Counter

    df = spark.createDataFrame([(i,) for i in items], "item long").repartition(
        n_parts
    )
    got = {
        (r.item, r.n_exact)
        for r in SK.heavy_hitters_verified(df, "item", k).collect()
    }
    c = Counter(items)
    want = {(i, n) for i, n in c.items() if n * (k + 1) > len(items)}
    assert got == want


def _kmv_hash(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def _kmv_fixture(spark, n_parts):
    # 400 distinct longs with duplicates interleaved across partitions
    rows = [(i % 400,) for i in range(1300)]
    return spark.createDataFrame(rows, "item long").repartition(n_parts)


@pytest.mark.parametrize("n_parts", [1, 4, 16])
def test_kmv_bottomk_matches_python_replay_any_partitioning(spark, n_parts):
    k = 32
    df = _kmv_fixture(spark, n_parts)
    got = [r.h for r in SK.kmv_bottomk(df, "item", k).collect()]
    want = sorted({_kmv_hash(v) for v in range(400)})[:k]
    assert got == want


def test_kmv_partials_bounded_by_k_per_partition(spark):
    k, n_parts = 16, 8
    df = _kmv_fixture(spark, n_parts)
    parts = SK.kmv_partials(df, "item", k).collect()
    assert len(parts) <= k * n_parts
    universe = {_kmv_hash(v) for v in range(400)}
    assert {r.h for r in parts} <= universe
    # the global bottom-k must survive the fold (pigeonhole)
    assert set(sorted(universe)[:k]) <= {r.h for r in parts}


def test_kmv_merge_equals_whole_table_sketch(spark):
    k = 24
    df = _kmv_fixture(spark, 5)
    a = SK.kmv_bottomk(df.filter(F.col("item") % 2 == 0), "item", k)
    b = SK.kmv_bottomk(df.filter(F.col("item") % 2 == 1), "item", k)
    merged = [r.h for r in SK.kmv_merge(a, b, k).collect()]
    whole = [r.h for r in SK.kmv_bottomk(df, "item", k).collect()]
    assert merged == whole


def test_kmv_estimate_exact_when_summary_not_full(spark):
    k = 64
    df = spark.createDataFrame([(i,) for i in range(20)], "item long")
    bk = SK.kmv_bottomk(df, "item", k)
    agg = bk.agg(
        F.count(F.lit(1)).cast("long").alias("k_seen"),
        F.max("h").alias("kth_hash"),
    )
    est_sql, _ = SK.kmv_estimate_fragments(k)
    row = agg.select(F.expr(est_sql).alias("est")).collect()[0]
    assert row.est == 20.0


def test_kmv_estimate_formula_when_full(spark):
    k = 8
    vals = list(range(100))
    df = spark.createDataFrame([(v,) for v in vals], "item long")
    bk = SK.kmv_bottomk(df, "item", k)
    agg = bk.agg(
        F.count(F.lit(1)).cast("long").alias("k_seen"),
        F.max("h").alias("kth_hash"),
    )
    est_sql, _ = SK.kmv_estimate_fragments(k)
    row = agg.select(F.expr(est_sql).alias("est")).collect()[0]
    kth = sorted(_kmv_hash(v) for v in vals)[k - 1]
    assert row.est == (k - 1) * float(2**60) / float(kth)


def test_kmv_k_validated(spark):
    df = spark.createDataFrame([(1,)], "item long")
    with pytest.raises(ValueError):
        SK.kmv_partials(df, "item", 0)


@pytest.mark.parametrize("n_parts", [1, 5])
def test_kmv_grouped_equals_per_group_plain(spark, n_parts):
    """The grouped form must equal running the plain bottom-k per group."""
    k = 16
    rows = [(f"g{i % 3}", (i * 7) % 200) for i in range(900)]
    df = spark.createDataFrame(rows, "g string, item long").repartition(n_parts)
    got: dict = {}
    for r in SK.kmv_bottomk_grouped(df, "g", "item", k).collect():
        got.setdefault(r.g, []).append(r.h)
    for g in ("g0", "g1", "g2"):
        want = [
            r.h
            for r in SK.kmv_bottomk(
                df.filter(F.col("g") == g), "item", k
            ).collect()
        ]
        assert sorted(got[g]) == want, g


def test_kmv_jaccard_counting_matches_python_replay(spark):
    """The set-operation counting behind sketch_kmv_jaccard (suite row):
    n_ab = |U ∩ A ∩ B| over bottom-k hash sets replayed in python on
    overlapping value ranges, at a k small enough that both summaries
    genuinely subsample; plus the estimator sanity that
    n_ab/k approximates the true Jaccard within the 5-sigma band."""
    k = 32
    a_vals = list(range(0, 300))        # A = [0, 300)
    b_vals = list(range(150, 450))      # B = [150, 450), true J = 150/450
    da = spark.createDataFrame([(v,) for v in a_vals], "item long")
    db = spark.createDataFrame([(v,) for v in b_vals], "item long")
    bka = SK.kmv_bottomk(da, "item", k)
    bkb = SK.kmv_bottomk(db, "item", k)
    u = SK.kmv_merge(bka, bkb, k)
    got_u = [r.h for r in u.collect()]
    got_ab = (
        u.join(bka, "h", "leftsemi").join(bkb, "h", "leftsemi").count()
    )
    ha = sorted({_kmv_hash(v) for v in a_vals})[:k]
    hb = sorted({_kmv_hash(v) for v in b_vals})[:k]
    hu = sorted(set(ha) | set(hb))[:k]
    assert got_u == hu
    assert got_ab == sum(1 for h in hu if h in set(ha) and h in set(hb))
    true_j = 150 / 450
    import math
    assert abs(got_ab / len(hu) - true_j) <= 5 * math.sqrt(0.25 / k)


def test_psi_drift_detects_a_shift_and_clears_identical_halves(spark):
    """psi_drift (operators/quantile): two samples from the same
    distribution read stable (< 0.1); a location-shifted comparison
    flips the verdict and every populated bin carries a term. The
    python replay pins psi_total arithmetic exactly."""
    import math

    from executor_u1mindexer_spark.operators import quantile as QT

    ref = spark.createDataFrame(
        [((i * 37) % 1000 / 10.0,) for i in range(800)], "value double"
    )
    same = spark.createDataFrame(
        [((i * 53) % 1000 / 10.0,) for i in range(800)], "value double"
    )
    shifted = spark.createDataFrame(
        [(60.0 + (i * 37) % 400 / 10.0,) for i in range(800)], "value double"
    )
    out_same = QT.psi_drift(ref, same, "value").collect()
    assert all(r.stable for r in out_same) and out_same[0].psi_total < 0.1

    out_shift = QT.psi_drift(ref, shifted, "value").collect()
    assert all(not r.stable for r in out_shift)
    assert out_shift[0].psi_total > 0.2  # conventional "major shift" band

    # python replay of psi_total from the emitted exact lanes
    tr = sum(r.n_ref for r in out_shift)
    tc = sum(r.n_cmp for r in out_shift)
    want = sum(
        round(
            (r.n_cmp / tc - r.n_ref / tr)
            * math.log((r.n_cmp / tc) / (r.n_ref / tr)),
            9,
        )
        for r in out_shift
        if r.n_ref > 0 and r.n_cmp > 0
    )
    assert abs(out_shift[0].psi_total - want) < 1e-9


def test_ks_two_sample_detects_a_shift_and_clears_identical_halves(spark):
    """ks_two_sample (operators/quantile, r14): same-distribution samples
    stay under the 5% Smirnov critical line; a location-shifted
    comparison crosses it. The python replay recomputes d_num exactly
    from the raw samples (brute-force CDF sweep over the merged centi
    grid), pinning the bucket-partitioned prefix-sum arithmetic."""
    from executor_u1mindexer_spark.operators import quantile as QT

    ref_vals = [(i * 37) % 1000 / 10.0 for i in range(800)]
    same_vals = [(i * 53) % 1000 / 10.0 for i in range(800)]
    shift_vals = [60.0 + (i * 37) % 400 / 10.0 for i in range(800)]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "value double")
    same = spark.createDataFrame([(v,) for v in same_vals], "value double")
    shifted = spark.createDataFrame([(v,) for v in shift_vals], "value double")

    r_same = QT.ks_two_sample(ref, same, "value").collect()[0]
    assert not r_same.drift_detected
    r_shift = QT.ks_two_sample(ref, shifted, "value").collect()[0]
    assert r_shift.drift_detected

    def replay_dnum(a_vals, b_vals):
        import math

        a = sorted(math.floor(v * 100.0 + 0.5) for v in a_vals)
        b = sorted(math.floor(v * 100.0 + 0.5) for v in b_vals)
        n, m = len(a), len(b)
        best = 0
        for x in sorted(set(a) | set(b)):
            ca = sum(1 for v in a if v <= x)
            cb = sum(1 for v in b if v <= x)
            best = max(best, abs(ca * m - cb * n))
        return best

    assert r_same.d_num == replay_dnum(ref_vals, same_vals)
    assert r_shift.d_num == replay_dnum(ref_vals, shift_vals)
    assert r_same.n_ref == 800 and r_same.n_cmp == 800
    # the verdict's integer lane replay: D > 1.358*sqrt((n+m)/(n*m))
    for r in (r_same, r_shift):
        lhs = r.d_num * r.d_num * 1_000_000
        rhs = 1_844_164 * (r.n_ref + r.n_cmp) * r.n_ref * r.n_cmp
        assert bool(r.drift_detected) == (lhs > rhs)


def test_mann_whitney_detects_a_shift_and_clears_identical_halves(spark):
    """mann_whitney_u (operators/quantile, r14): same-distribution
    samples stay inside |z| <= 1.96; a location shift crosses it. The
    python replay recomputes the doubled-midrank R1/U1 lanes exactly
    (scipy-free rank-sum with midranks on the centi grid) and the
    z arithmetic to 1e-9."""
    import math

    from executor_u1mindexer_spark.operators import quantile as QT

    ref_vals = [(i * 37) % 1000 / 10.0 for i in range(800)]
    same_vals = [(i * 53) % 1000 / 10.0 for i in range(800)]
    shift_vals = [60.0 + (i * 37) % 400 / 10.0 for i in range(800)]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "value double")
    same = spark.createDataFrame([(v,) for v in same_vals], "value double")
    shifted = spark.createDataFrame([(v,) for v in shift_vals], "value double")

    r_same = QT.mann_whitney_u(ref, same, "value").collect()[0]
    assert not r_same.drift_detected and abs(r_same.z_score) <= 1.96
    r_shift = QT.mann_whitney_u(ref, shifted, "value").collect()[0]
    assert r_shift.drift_detected and abs(r_shift.z_score) > 1.96

    def replay(a_vals, b_vals):
        a = [math.floor(v * 100.0 + 0.5) for v in a_vals]
        b = [math.floor(v * 100.0 + 0.5) for v in b_vals]
        merged = sorted(a + b)
        n1, n2 = len(a), len(b)
        n = n1 + n2
        # doubled midranks per distinct value + exact tie term
        from collections import Counter

        cnt = Counter(merged)
        ca = Counter(a)
        c_before = 0
        r1_d = 0
        tie = 0
        for v in sorted(cnt):
            t = cnt[v]
            rank2 = 2 * c_before + t + 1
            r1_d += ca.get(v, 0) * rank2
            tie += t * t * t - t
            c_before += t
        u1_d = r1_d - n1 * (n1 + 1)
        var = (n1 * n2 / 12.0) * ((n + 1) - tie / (n * (n - 1)))
        z = round((u1_d - float(n1) * n2) / (2.0 * math.sqrt(var)), 9)
        return r1_d, u1_d, z

    for got, vals in ((r_same, same_vals), (r_shift, shift_vals)):
        r1_d, u1_d, z = replay(ref_vals, vals)
        assert got.r1_doubled == r1_d
        assert got.u1_doubled == u1_d
        assert abs(got.z_score - z) < 2e-9


def test_merged_value_cdf_matches_python_prefix_sums_on_random_data(spark):
    """Property: the shared KS/MWU two-pass prefix-sum machinery
    (_merged_value_cdf: 64 in-plan range buckets + within-bucket window
    cumsum + broadcast theta-join offsets) equals a plain python
    cumulative count, on random two-sample data across several domain
    shapes — including a single-value domain (mx == mn exercises the
    DIV (mx - mn + 1) guard) and a heavily-tied domain."""
    import random

    from executor_u1mindexer_spark.operators import quantile as QT

    rng = random.Random(14)
    cases = [
        [rng.uniform(0, 100) for _ in range(300)],          # spread
        [rng.choice([1.0, 2.0, 3.0]) for _ in range(200)],  # heavy ties
        [42.0] * 50,                                        # one value
        [rng.uniform(-5, 5) for _ in range(150)],           # negatives
    ]
    for vals_a in cases:
        vals_b = [v + rng.choice([0.0, 0.5]) for v in vals_a[::2]]
        ref = spark.createDataFrame([(v,) for v in vals_a], "value double")
        cmp = spark.createDataFrame([(v,) for v in vals_b], "value double")
        got = {
            r["__y"]: (r["n_ref"], r["n_cmp"], r["c_r"], r["c_c"])
            for r in QT._merged_value_cdf(ref, cmp, "value").collect()
        }
        import math

        a = sorted(math.floor(v * 100.0 + 0.5) for v in vals_a)
        b = sorted(math.floor(v * 100.0 + 0.5) for v in vals_b)
        want = {}
        for y in sorted(set(a) | set(b)):
            want[y] = (
                sum(1 for v in a if v == y),
                sum(1 for v in b if v == y),
                sum(1 for v in a if v <= y),
                sum(1 for v in b if v <= y),
            )
        assert got == want, (len(vals_a), sorted(got.items())[:3])


def test_isqrt_verdict_lane_is_exact_on_both_engines(spark):
    """Property (ADVICE r14): the shared _isqrt_steps chain — float-
    seeded, one integer-Newton correction, 6-step staircase — equals
    math.isqrt exactly on BOTH engines, across the corners the analysis
    leans on: 0, tiny K, perfect squares +-1 at every magnitude, random
    K up to the 9.9e37 documented bound, and the exact __k of two
    1e8-row samples (the scale where the old d_num^2 lane overflowed)."""
    import math
    import random
    from decimal import Decimal

    import duckdb

    from executor_u1mindexer_spark.operators import quantile as QT

    rng = random.Random(15)
    ks = list(range(0, 26))
    for mag in range(1, 38):
        p = rng.randrange(10 ** ((mag + 1) // 2))
        for k in (p * p - 1, p * p, p * p + 1, rng.randrange(10**mag)):
            if 0 <= k < 10**38 // 2:
                ks.append(k)
    ks.append(1844164 * (2 * 10**8) * 10**8 * 10**8)  # two 1e8-row samples
    ks.append(99 * 10**36)  # documented 9.9e37 bound
    want = [math.isqrt(k) for k in ks]

    df = spark.createDataFrame(
        [(Decimal(k),) for k in ks], "__k decimal(38,0)"
    )
    for name, expr in QT._isqrt_steps("DECIMAL(38,0)", "div"):
        df = df.withColumn(name, F.expr(expr))
    got_spark = [int(r["__isq"]) for r in df.orderBy("__k").collect()]
    assert got_spark == [w for _, w in sorted(zip(ks, want))]

    values = ", ".join(f"(CAST('{k}' AS HUGEINT))" for k in ks)
    sql = f"WITH __v0 AS (SELECT col0 AS __k FROM (VALUES {values}) v(col0))"
    prev = "__v0"
    for i, (name, expr) in enumerate(QT._isqrt_steps("HUGEINT", "//")):
        sql += f", __v{i + 1} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"__v{i + 1}"
    sql += f" SELECT __k, __isq FROM {prev} ORDER BY __k"
    got_duck = [int(r[1]) for r in duckdb.sql(sql).fetchall()]
    assert got_duck == [w for _, w in sorted(zip(ks, want))]


def test_ks_mwu_degenerate_inputs_agree_across_engines(spark):
    """ADVICE r14 degenerate contract, pinned on BOTH engines:
    - both inputs empty -> ZERO rows (Spark groupBy-over-empty; the
      oracle's WHERE __tr IS NOT NULL filter);
    - one side empty -> one row, d_stat/z_score NULL, drift false
      (no ANSI divide-by-zero, no DuckDB inf);
    - all values tied across both samples (variance exactly 0) and a
      single-row pool (n < 2) -> MWU z NULL, drift false."""
    import duckdb

    from executor_u1mindexer_spark.operators import quantile as QT

    def duck(sql):
        return duckdb.sql(sql).fetchall()

    def src(vals):
        if not vals:
            return "(SELECT CAST(NULL AS DOUBLE) AS value WHERE 1=0)"
        rows = ", ".join(f"(CAST({v!r} AS DOUBLE))" for v in vals)
        return f"(SELECT col0 AS value FROM (VALUES {rows}) t(col0))"

    def frames(vals):
        return spark.createDataFrame(
            [(float(v),) for v in vals] or [],  # type: ignore[arg-type]
            "value double",
        )

    empty, one, tied = [], [7.5], [3.0] * 40

    # both empty -> zero rows, both engines, both tests
    for fn, ora in (
        (QT.ks_two_sample, QT.oracle_ks_two_sample_sql),
        (QT.mann_whitney_u, QT.oracle_mann_whitney_u_sql),
    ):
        assert fn(frames(empty), frames(empty), "value").count() == 0
        assert duck(ora(src(empty), src(empty), "value")) == []

    # one side empty -> one row, NULL stat, drift false
    r = QT.ks_two_sample(frames(tied), frames(empty), "value").collect()
    assert len(r) == 1 and r[0].d_stat is None and r[0].drift_detected is False
    assert r[0].n_ref == 40 and r[0].n_cmp == 0 and r[0].d_num == 0
    o = duck(QT.oracle_ks_two_sample_sql(src(tied), src(empty), "value"))
    assert [tuple(x) for x in o] == [tuple(r[0])]

    r = QT.mann_whitney_u(frames(tied), frames(empty), "value").collect()
    assert len(r) == 1 and r[0].z_score is None and r[0].drift_detected is False
    o = duck(QT.oracle_mann_whitney_u_sql(src(tied), src(empty), "value"))
    assert [tuple(x) for x in o] == [tuple(r[0])]

    # fully-tied pool -> MWU variance exactly 0 -> z NULL, drift false
    r = QT.mann_whitney_u(frames(tied), frames(tied), "value").collect()
    assert len(r) == 1 and r[0].z_score is None and r[0].drift_detected is False
    o = duck(QT.oracle_mann_whitney_u_sql(src(tied), src(tied), "value"))
    assert [tuple(x) for x in o] == [tuple(r[0])]
    # ... and KS on the identical tied pools: d_num 0, no drift
    r = QT.ks_two_sample(frames(tied), frames(tied), "value").collect()
    assert len(r) == 1 and r[0].d_num == 0 and r[0].drift_detected is False
    o = duck(QT.oracle_ks_two_sample_sql(src(tied), src(tied), "value"))
    assert [tuple(x) for x in o] == [tuple(r[0])]

    # single-row pool (n = 1 < 2): the n(n-1) divisor is guarded
    r = QT.mann_whitney_u(frames(one), frames(empty), "value").collect()
    assert len(r) == 1 and r[0].z_score is None and r[0].drift_detected is False
    o = duck(QT.oracle_mann_whitney_u_sql(src(one), src(empty), "value"))
    assert [tuple(x) for x in o] == [tuple(r[0])]


def test_ks_by_group_isolates_the_shifted_slice(spark):
    """ks_two_sample_by_group (r15): shifting ONE group's comparison
    values flips ONLY that group's verdict; the other slices stay
    under their own critical lines. The python replay recomputes each
    group's d_num exactly (per-group brute-force CDF sweep), pinning
    the group-scoped prefix-sum machinery, and a one-sided group
    (present only in ref) surfaces with n_cmp 0, NULL d_stat, false."""
    import math

    from executor_u1mindexer_spark.operators import quantile as QT

    rng_vals = [(i * 37) % 1000 / 10.0 for i in range(400)]
    ref_rows = [("a", v) for v in rng_vals] + [("b", v) for v in rng_vals]
    ref_rows += [("lonely", v) for v in rng_vals[:50]]
    cmp_rows = [("a", v + 60.0) for v in rng_vals]  # shifted slice
    cmp_rows += [("b", (i * 53) % 1000 / 10.0) for i in range(400)]  # same dist
    ref = spark.createDataFrame(ref_rows, "grp string, value double")
    cmp = spark.createDataFrame(cmp_rows, "grp string, value double")

    out = {
        r.grp: r
        for r in QT.ks_two_sample_by_group(ref, cmp, "value", "grp").collect()
    }
    assert set(out) == {"a", "b", "lonely"}
    assert out["a"].drift_detected and not out["b"].drift_detected
    assert out["lonely"].n_cmp == 0 and out["lonely"].d_stat is None
    assert out["lonely"].drift_detected is False and out["lonely"].d_num == 0

    def replay_dnum(a_vals, b_vals):
        a = sorted(math.floor(v * 100.0 + 0.5) for v in a_vals)
        b = sorted(math.floor(v * 100.0 + 0.5) for v in b_vals)
        n, m = len(a), len(b)
        best = 0
        for x in sorted(set(a) | set(b)):
            ca = sum(1 for v in a if v <= x)
            cb = sum(1 for v in b if v <= x)
            best = max(best, abs(ca * m - cb * n))
        return best

    assert out["a"].d_num == replay_dnum(rng_vals, [v + 60.0 for v in rng_vals])
    assert out["b"].d_num == replay_dnum(
        rng_vals, [(i * 53) % 1000 / 10.0 for i in range(400)]
    )
    # per-group verdict replay against the slice's own critical line
    for g in ("a", "b"):
        r = out[g]
        lhs = r.d_num * r.d_num * 1_000_000
        rhs = 1_844_164 * (r.n_ref + r.n_cmp) * r.n_ref * r.n_cmp
        assert bool(r.drift_detected) == (lhs > rhs)

    # DuckDB twin on the identical rows
    import duckdb

    def src(rows):
        vals = ", ".join(f"('{g}', CAST({v!r} AS DOUBLE))" for g, v in rows)
        return f"(SELECT col0 AS grp, col1 AS value FROM (VALUES {vals}) t(col0, col1))"

    ora = duckdb.sql(
        QT.oracle_ks_two_sample_by_group_sql(src(ref_rows), src(cmp_rows), "value", "grp")
    ).fetchall()
    spark_rows = [tuple(out[g]) for g in sorted(out)]
    assert [tuple(r) for r in ora] == spark_rows


def test_ks_by_group_excludes_null_group_keys_explicitly(spark):
    """NULL group keys are excluded like NULL values — by an explicit
    filter on BOTH engines, not by accidental equi-join semantics. A
    corpus with NULL-group rows yields exactly the non-NULL groups,
    identical across engines."""
    import duckdb

    from executor_u1mindexer_spark.operators import quantile as QT

    rows_ref = [("a", 1.0), (None, 2.0), ("a", 3.0), (None, 9.0)]
    rows_cmp = [("a", 1.5), (None, 7.0), ("a", 2.5)]
    ref = spark.createDataFrame(rows_ref, "grp string, value double")
    cmp = spark.createDataFrame(rows_cmp, "grp string, value double")
    out = QT.ks_two_sample_by_group(ref, cmp, "value", "grp").collect()
    assert [r.grp for r in out] == ["a"]
    assert (out[0].n_ref, out[0].n_cmp) == (2, 2)

    def src(rows):
        vals = ", ".join(
            f"({'NULL' if g is None else repr(g)}, CAST({v!r} AS DOUBLE))"
            for g, v in rows
        )
        return f"(SELECT col0 AS grp, col1 AS value FROM (VALUES {vals}) t(col0, col1))"

    ora = duckdb.sql(
        QT.oracle_ks_two_sample_by_group_sql(src(rows_ref), src(rows_cmp), "value", "grp")
    ).fetchall()
    assert [tuple(r) for r in ora] == [tuple(r) for r in out]


def test_mwu_by_group_isolates_the_shifted_slice(spark):
    """mann_whitney_u_by_group (r15, r16 registry candidate): shifting
    ONE group's comparison values flips only that group's verdict; the
    python replay recomputes each slice's doubled-midrank R1/U1 exactly
    and z to 1e-9; a one-sided group and a fully-tied group surface
    with z NULL, drift false; the DuckDB twin matches row-for-row."""
    import math
    from collections import Counter

    import duckdb

    from executor_u1mindexer_spark.operators import quantile as QT

    base = [(i * 37) % 1000 / 10.0 for i in range(400)]
    same = [(i * 53) % 1000 / 10.0 for i in range(400)]
    ref_rows = (
        [("a", v) for v in base]
        + [("b", v) for v in base]
        + [("lonely", v) for v in base[:50]]
        + [("tied", 4.0)] * 30
    )
    cmp_rows = (
        [("a", v + 60.0) for v in base]
        + [("b", v) for v in same]
        + [("tied", 4.0)] * 20
    )
    ref = spark.createDataFrame(ref_rows, "grp string, value double")
    cmp = spark.createDataFrame(cmp_rows, "grp string, value double")
    out = {
        r.grp: r
        for r in QT.mann_whitney_u_by_group(ref, cmp, "value", "grp").collect()
    }
    assert set(out) == {"a", "b", "lonely", "tied"}
    assert out["a"].drift_detected and not out["b"].drift_detected
    assert out["lonely"].z_score is None and out["lonely"].drift_detected is False
    assert out["tied"].z_score is None and out["tied"].drift_detected is False

    def replay(a_vals, b_vals):
        a = [math.floor(v * 100.0 + 0.5) for v in a_vals]
        b = [math.floor(v * 100.0 + 0.5) for v in b_vals]
        n1, n2 = len(a), len(b)
        n = n1 + n2
        cnt, ca = Counter(a + b), Counter(a)
        c_before = r1_d = tie = 0
        for v in sorted(cnt):
            t = cnt[v]
            r1_d += ca.get(v, 0) * (2 * c_before + t + 1)
            tie += t * t * t - t
            c_before += t
        u1_d = r1_d - n1 * (n1 + 1)
        var = (n1 * n2 / 12.0) * ((n + 1) - tie / (n * (n - 1)))
        z = round((u1_d - float(n1) * n2) / (2.0 * math.sqrt(var)), 9)
        return r1_d, u1_d, z

    for g, vals in (("a", [v + 60.0 for v in base]), ("b", same)):
        r1_d, u1_d, z = replay(base, vals)
        assert out[g].r1_doubled == r1_d and out[g].u1_doubled == u1_d
        assert abs(out[g].z_score - z) < 2e-9

    def src(rows):
        vals = ", ".join(f"('{g}', CAST({v!r} AS DOUBLE))" for g, v in rows)
        return f"(SELECT col0 AS grp, col1 AS value FROM (VALUES {vals}) t(col0, col1))"

    ora = duckdb.sql(
        QT.oracle_mann_whitney_u_by_group_sql(src(ref_rows), src(cmp_rows), "value", "grp")
    ).fetchall()
    assert [tuple(r) for r in ora] == [tuple(out[g]) for g in sorted(out)]


def test_psi_by_group_isolates_the_shifted_slice(spark):
    """psi_drift_by_group (r16, VERDICT r15 #3a): shifting ONE group's
    comparison values flips only that group's stable verdict; an
    untouched group's rows equal the ungrouped psi_drift run on its
    slice alone (strict isolation); a cmp-only group surfaces as loud
    bucket-0 NULL-PSI rows and a ref-only group as NULL-PSI rows (not
    silently dropped); NULL groups are excluded; psi_total replays
    exactly from the emitted rounded terms; empty inputs yield zero
    rows; the DuckDB twin matches row-for-row."""
    from decimal import Decimal

    import duckdb

    from executor_u1mindexer_spark.operators import quantile as QT

    base = [(i * 37) % 1000 / 10.0 for i in range(400)]
    same = [(i * 53) % 1000 / 10.0 for i in range(400)]
    ref_rows = (
        [("a", v) for v in base]
        + [("b", v) for v in base]
        + [("gone", v) for v in base[:80]]
        + [(None, 1.0)]
    )
    cmp_rows = (
        [("a", v + 60.0) for v in base]
        + [("b", v) for v in same]
        + [("newcat", v) for v in base[:80]]
        + [(None, 2.0)]
    )
    ref = spark.createDataFrame(ref_rows, "grp string, value double")
    cmp = spark.createDataFrame(cmp_rows, "grp string, value double")
    rows = QT.psi_drift_by_group(ref, cmp, "value", "grp").collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r)
    assert set(by_grp) == {"a", "b", "gone", "newcat"}

    # shifted slice detected; same-distribution slice stable
    assert all(not r.stable for r in by_grp["a"])
    assert by_grp["a"][0].psi_total > 0.2
    assert all(r.stable for r in by_grp["b"])
    assert by_grp["b"][0].psi_total < 0.1

    # strict isolation: group b's rows == the ungrouped run on b alone
    solo = QT.psi_drift(
        ref.filter(F.col("grp") == "b"), cmp.filter(F.col("grp") == "b"), "value"
    ).collect()
    assert [tuple(r)[1:] for r in sorted(by_grp["b"], key=lambda r: r.bucket)] == [
        tuple(r) for r in solo
    ]

    # cmp-only group: all mass in bucket 0, loudly NULL PSI
    assert [r.bucket for r in by_grp["newcat"]] == [0]
    nc = by_grp["newcat"][0]
    assert nc.n_ref == 0 and nc.n_cmp == 80
    assert nc.psi_term is None and nc.psi_total is None and nc.stable is None
    # ref-only group: present with NULL PSI, not dropped
    assert all(r.n_cmp == 0 and r.psi_total is None for r in by_grp["gone"])

    # psi_total replays exactly from the emitted rounded terms
    for g in ("a", "b"):
        want = float(
            sum(Decimal(repr(r.psi_term)) for r in by_grp[g] if r.psi_term is not None)
        )
        assert abs(by_grp[g][0].psi_total - want) < 1e-12

    # empty-input contract
    empty = spark.createDataFrame([], "grp string, value double")
    assert QT.psi_drift_by_group(empty, empty, "value", "grp").count() == 0

    def src(rows_):
        vals = ", ".join(
            f"({'NULL' if g is None else repr(g)}, CAST({v!r} AS DOUBLE))"
            for g, v in rows_
        )
        return f"(SELECT col0 AS grp, col1 AS value FROM (VALUES {vals}) t(col0, col1))"

    ora = duckdb.sql(
        QT.oracle_psi_drift_by_group_sql(src(ref_rows), src(cmp_rows), "value", "grp")
    ).fetchall()
    want_rows = [tuple(r) for r in sorted(rows, key=lambda r: (r.grp, r.bucket))]
    assert [tuple(r) for r in ora] == want_rows


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1", "g2"]),
            st.integers(0, 1),  # which sample the row lands in
            st.floats(0.0, 50.0, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=120,
    )
)
def test_grouped_drift_trio_equals_per_slice_ungrouped(spark, rows):
    """Property (the grouped drift trio's core contract): for ANY
    grouped two-sample dataset, each grouped operator's per-group rows
    are EXACTLY the ungrouped operator run on that group's slice alone
    — grouped KS, grouped MWU, and grouped PSI all reduce to their
    ungrouped forms slice-by-slice (no cross-slice leakage in the
    shared folds, windows, offsets, octiles, or totals)."""
    from executor_u1mindexer_spark.operators import quantile as QT

    ref_rows = [(g, round(v, 2)) for g, side, v in rows if side == 0]
    cmp_rows = [(g, round(v, 2)) for g, side, v in rows if side == 1]
    schema = "grp string, value double"
    ref = spark.createDataFrame(ref_rows, schema) if ref_rows else (
        spark.createDataFrame([], schema)
    )
    cmp = spark.createDataFrame(cmp_rows, schema) if cmp_rows else (
        spark.createDataFrame([], schema)
    )
    groups = sorted({g for g, _ in ref_rows} | {g for g, _ in cmp_rows})

    for grouped_fn, solo_fn in (
        (QT.ks_two_sample_by_group, QT.ks_two_sample),
        (QT.mann_whitney_u_by_group, QT.mann_whitney_u),
        (QT.psi_drift_by_group, QT.psi_drift),
    ):
        got = {}
        for r in grouped_fn(ref, cmp, "value", "grp").collect():
            got.setdefault(r.grp, []).append(tuple(r)[1:])
        want = {}
        for g in groups:
            solo = solo_fn(
                ref.filter(F.col("grp") == g),
                cmp.filter(F.col("grp") == g),
                "value",
            ).collect()
            if solo:
                want[g] = [tuple(r) for r in solo]
        assert got == want, grouped_fn.__name__
