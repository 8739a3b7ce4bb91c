"""Training-data pipeline op semantics: hash-sampling stability, budget
packing, chunk coverage, quantization error bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from executor_u1mindexer_spark import plans, tables
from executor_u1mindexer_spark.operators import pipeline as P


def test_hash_sample_is_nested_across_fractions(spark, sf_dir):
    """The 10% sample is a SUBSET of the 20% sample — the property that lets
    a pipeline scale a mixture up without resampling everything (rand()
    sampling does not have it)."""
    docs = tables.load(spark, sf_dir, "documents")
    s10 = {r.doc_id for r in P.sample_fraction(docs, "doc_id", 0.1).collect()}
    s20 = {r.doc_id for r in P.sample_fraction(docs, "doc_id", 0.2).collect()}
    assert s10 and s10 < s20


def test_hash_sample_rate_is_close(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    n = docs.count()
    kept = P.sample_fraction(docs, "doc_id", 0.3).count()
    assert abs(kept / n - 0.3) < 0.1  # hash uniformity at n=500


def test_pack_budget_monotone_and_bounded(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    rows = P.pack_token_budget(docs, 5000).collect()
    assert rows
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r)
    for lang, rs in per_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        assert rs[-1].cum_cost <= 5000
        assert all(a.cum_cost < b.cum_cost for a, b in zip(rs, rs[1:]))


def test_chunks_cover_all_words(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents").limit(20)
    chunks = P.chunk_sliding_window(docs, size=32, stride=16).collect()
    words = {r.doc_id: r.n for r in docs.select("doc_id", F.size(F.split("text", r"\s+")).alias("n")).collect()}
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    for doc_id, cs in by_doc.items():
        # stride 16 / size 32: every word index is inside some chunk
        last = max(c.chunk_idx for c in cs)
        assert 16 * last + 32 >= words[doc_id]
        assert all(c.chunk_words <= 32 for c in cs)


def test_chunks_keep_passenger_columns_without_changing_chunks(spark, sf_dir):
    """r16: `keep` carries passenger columns through the chunker so
    pipelines need no join-back; the chunk rows themselves must be
    byte-identical to the keep=() form, and every chunk row must carry
    its source row's passenger value."""
    docs = tables.load(spark, sf_dir, "documents").limit(20)
    plain = P.chunk_sliding_window(docs, size=32, stride=16).collect()
    kept = P.chunk_sliding_window(docs, size=32, stride=16, keep=("lang",)).collect()
    strip = lambda rows: sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.chunk_words) for r in rows
    )
    assert strip(plain) == strip(kept)
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    assert all(r.lang == langs[r.doc_id] for r in kept)


def test_quantize_error_bounded_by_half_scale(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    rows = P.quantize_int8(emb).collect()
    assert rows
    for r in rows:
        assert r.max_abs_err <= r.scale / 2 + 1e-12  # round-to-nearest bound


def test_bm25_scores_keep_null_text_docs_in_corpus_stats(spark):
    from executor_u1mindexer_spark.suites.text_suite import bm25_scores

    docs = spark.createDataFrame(
        [(0, "query table spark"), (1, None), (2, "query query")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bm25_scores(docs).collect()}
    assert set(rows) == {0, 1, 2}  # the NULL-text doc still counts toward N
    assert rows[1].dl == 1 and rows[1].tf_query == 0  # '' -> one empty token
    assert rows[0].score_micro > rows[2].score_micro > rows[1].score_micro == 0


def test_bpe_learn_merges_semantics(spark):
    """Pins the documented deterministic BPE variant on a corpus chosen to
    exercise every rule: overlap-counted pair frequencies, (a, b)
    alphabetical tie-break, single-pass boundary-consuming merge (the odd
    'cat cat cat cat' chain merges once per pass, finishing in a later
    round), and merged tokens re-entering the pair pool."""
    from executor_u1mindexer_spark.suites.text_suite import bpe_learn_merges

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the cat mat"),
            (1, "the cat sat"),
            (2, None),
            (3, "cat cat cat cat"),
            (4, "on the mat the cat sat"),
        ],
        "doc_id long, text string",
    )
    merges, final = bpe_learn_merges(docs, n_merges=4)
    assert merges == [
        (1, "the", "cat", 4),
        (2, "cat", "cat", 3),       # overlap counting: 3 adjacent pairs
        (3, "the~cat", "sat", 3),   # merged token re-enters the pool
        (4, "cat", "cat", 1),       # the pair the single pass left behind
    ]
    got = {r.doc_id: r.s for r in final.collect()}
    assert got[0] == " the~cat~sat on the~cat mat "
    assert got[3] == " cat~cat cat~cat "
    assert got[2] == "  "  # NULL text flows through untouched


def test_drift_bucket_ids_are_bigint_safe(spark):
    """ADVICE r06: bucket ids compute in BIGINT (an INT cast saturates in
    Spark / raises in DuckDB beyond 2^31) and edge buckets are overflow
    buckets: negatives clamp to 0, huge values clamp to n-1."""
    a = spark.createDataFrame(
        [(-5.0,), (0.1,), (1e15,), (6.2,)], "value double"
    )
    b = spark.createDataFrame([(3.9,), (1e18,)], "value double")
    rows = {r.bucket: (r.n_a, r.n_b)
            for r in P.drift_chi2_buckets(a, b, "value", 1.0, 8).collect()}
    assert rows[0] == (2, 0)   # -5.0 and 0.1 both land in bucket 0
    assert rows[7] == (1, 1)   # 1e15 and 1e18 clamp to the top bucket
    assert rows[3] == (0, 1) and rows[6] == (1, 0)


def test_pps_systematic_matches_python_replay(spark):
    """Exact pick-set parity with a sequential replay of the rule, on
    sparse ids (exercises the affine bucket boundaries: empty buckets,
    uneven fill)."""
    import random

    from executor_u1mindexer_spark.operators.pipeline import pps_systematic

    rng = random.Random(99)
    rows = [(rng.randrange(10**9), rng.randrange(1, 500)) for _ in range(300)]
    rows = list({k: w for k, w in rows}.items())  # unique keys
    df = spark.createDataFrame(rows, "doc_id long, n_chars int")
    k = 17
    got = {
        r.doc_id: (r.weight, r.cum, r.pick_idx, r.n_hits)
        for r in pps_systematic(df, key="doc_id", weight_col="n_chars", k=k).collect()
    }
    total = sum(w for _, w in rows)
    cum = 0
    expect = {}
    for key, w in sorted(rows):
        lo = cum * k // total
        cum += w
        hi = cum * k // total
        if hi > lo:
            expect[key] = (w, cum, lo + 1, hi - lo)
    assert got == expect
    assert abs(len(got) - k) <= 1  # ~k picks by construction


def test_pps_systematic_heavy_row_multi_hit(spark):
    from executor_u1mindexer_spark.operators.pipeline import pps_systematic

    # one row carries half the mass -> it must land multiple stride hits
    rows = [(1, 1000)] + [(i, 10) for i in range(2, 102)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars int")
    out = {r.doc_id: r.n_hits for r in
           pps_systematic(df, key="doc_id", weight_col="n_chars", k=10).collect()}
    assert out[1] >= 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        pps_systematic(df, key="doc_id", weight_col="n_chars", k=0)


def test_pps_systematic_no_single_partition_window(spark):
    from executor_u1mindexer_spark.operators.pipeline import pps_systematic

    df = spark.createDataFrame(
        [(i, i % 7 + 1) for i in range(500)], "doc_id long, n_chars int"
    )
    ns = plans.nodes(pps_systematic(df, key="doc_id", weight_col="n_chars", k=20))
    ws = [n for n in ns if n.name == "Window"]
    # the only unpartitioned window is over the <= n_buckets totals
    # (sum(__bt)); the per-row cumsum must be partitioned by bucket and
    # ordered by key
    cum = [w for w in ws if "__local_cum" in w.terms()]
    assert cum and all(w.keys == ("__b",) and "__k" in w.terms() for w in cum), cum
    assert all("__bt" in w.terms() for w in ws if w.keys != ("__b",)), ws


def test_rolling_zscore_flags_spike_not_constant(spark):
    from executor_u1mindexer_spark.operators.pipeline import rolling_zscore_anomaly

    # key 1: gentle noise then a spike; key 2: constant (variance 0 ->
    # never flags, even though any deviation would be "infinite sigma")
    rows = []
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 11.0, 9.0, 10.0, 50.0]
    rows += [(i, 1, i, vals[i]) for i in range(len(vals))]
    rows += [(100 + i, 2, i, 7.0) for i in range(8)]
    df = spark.createDataFrame(rows, "event_id long, user_id int, ts long, value double")
    got = {
        r.event_id: r.is_anomaly
        for r in rolling_zscore_anomaly(
            df, key="user_id", order_cols=("ts", "event_id"),
            value_col="value", id_col="event_id", window_rows=20,
        ).collect()
    }
    assert got[9] is True          # the spike
    assert not any(got[i] for i in range(9))      # the noise never flags
    assert not any(got[100 + i] for i in range(8))  # constant never flags
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window_rows"):
        rolling_zscore_anomaly(
            df, key="user_id", order_cols=("ts",), value_col="value",
            id_col="event_id", window_rows=1,
        )


def test_pps_single_bucket_degenerates_correctly(spark):
    """n_buckets=1 collapses the two-pass cumsum to one partition-wide
    window — still exact (the offsets table is a single zero row)."""
    from executor_u1mindexer_spark.operators.pipeline import pps_systematic

    rows = [(i, (i * 13) % 7 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars int")
    a = sorted(map(tuple, pps_systematic(
        df, key="doc_id", weight_col="n_chars", k=9, n_buckets=1).collect()))
    b = sorted(map(tuple, pps_systematic(
        df, key="doc_id", weight_col="n_chars", k=9, n_buckets=64).collect()))
    assert a == b and len(a) >= 8


# -- hypothesis property test: PPS pick-set vs sequential replay -------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(1, 400)),
        min_size=2,
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 30),
)
def test_pps_systematic_property(spark, rows, k):
    from executor_u1mindexer_spark.operators.pipeline import pps_systematic

    df = spark.createDataFrame(rows, "doc_id long, n_chars int")
    got = {
        r.doc_id: (r.weight, r.cum, r.pick_idx, r.n_hits)
        for r in pps_systematic(
            df, key="doc_id", weight_col="n_chars", k=k
        ).collect()
    }
    total = sum(w for _, w in rows)
    cum = 0
    expect = {}
    for key, w in sorted(rows):
        lo = cum * k // total
        cum += w
        hi = cum * k // total
        if hi > lo:
            expect[key] = (w, cum, lo + 1, hi - lo)
    assert got == expect


def test_mixture_temperature_alpha_half_semantics(spark):
    """r10: the smallest stratum keeps (almost) everything, larger strata
    keep ~sqrt(n_min/n_s), and the selection is the deterministic hash
    rule (re-running gives the identical kept set)."""
    from executor_u1mindexer_spark.operators import pipeline as P
    from pyspark.sql import functions as F

    rows = (
        [(i, "small") for i in range(100)]
        + [(10_000 + i, "big") for i in range(10_000)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = P.mixture_temperature(df, "doc_id", "lang")
    counts = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # threshold for the smallest stratum is exactly HASH_BUCKETS (sqrt(1)=1)
    # -> every row whose bucket < 1e6 is kept, i.e. all of them
    assert counts["small"] == 100
    # big stratum keeps ~sqrt(100/10000) = 10% (hash-rule tolerance)
    assert 700 <= counts["big"] <= 1300
    # pure function of the data: identical on re-run
    again = {r.lang: r.n for r in P.mixture_temperature(df, "doc_id", "lang")
             .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == counts


def test_domain_quota_caps_and_is_deterministic(spark):
    import pytest

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    kept = P.domain_quota(df, "doc_id", "src", 10)
    by_src = {r.src: sorted(r.ids) for r in kept.groupBy("src")
              .agg(F.sort_array(F.collect_list("doc_id")).alias("ids")).collect()}
    assert len(by_src["big"]) == 10          # cap bites
    assert by_src["small"] == [1000, 1001, 1002]  # under-cap domain untouched
    # pure function of the data: identical on re-run
    again = {r.src: sorted(r.ids) for r in P.domain_quota(df, "doc_id", "src", 10)
             .groupBy("src").agg(F.sort_array(F.collect_list("doc_id")).alias("ids")).collect()}
    assert again == by_src
    # salted: the quota choice is NOT the sample_fraction prefix (different
    # hash stream) — at least one of the 10 kept ids differs from the 10
    # smallest unsalted hash_bucket ids
    unsalted = [r.doc_id for r in df.filter(F.col("src") == "big")
                .orderBy(P.hash_bucket(F.col("doc_id")).asc(), F.col("doc_id").asc())
                .limit(10).collect()]
    assert sorted(unsalted) != by_src["big"]
    with pytest.raises(ValueError, match="cap"):
        P.domain_quota(df, "doc_id", "src", 0)


def test_dq_audit_counts_every_violation_class(spark):
    facts = [
        (1, 10, 5.0), (2, 10, -1.0),          # negative value
        (2, 99, 3.0),                          # dup key AND dangling fk
        (3, None, 2.0),                        # null fk key (not an fk violation)
    ]
    df = spark.createDataFrame(facts, "k long, fk long, v double")
    dim = spark.createDataFrame([(10,), (20,)], "d long")
    out = {r.check_name: (r.n_violations, r.passed)
           for r in P.dq_audit(
               df,
               {"v_positive": "v > 0", "fk_nonnull": "fk IS NOT NULL"},
               unique_cols=["k"],
               fk=("fk", dim, "d"),
           ).collect()}
    assert out == {
        "v_positive": (1, False),
        "fk_nonnull": (1, False),
        "unique_k": (1, False),
        "fk_fk": (1, False),
    }
    clean = spark.createDataFrame([(1, 10, 1.0)], "k long, fk long, v double")
    out2 = {r.check_name: r.passed
            for r in P.dq_audit(clean, {"v_positive": "v > 0"},
                                unique_cols=["k"], fk=("fk", dim, "d")).collect()}
    assert all(out2.values())
    # NULL predicate counts as a violation (Deequ semantics): NULL > 0 is
    # NULL, which is NOT TRUE — sum(when(~pred)) would let it escape
    nullv = spark.createDataFrame([(1, 10, None), (2, 10, 1.0)],
                                  "k long, fk long, v double")
    out3 = {r.check_name: r.n_violations
            for r in P.dq_audit(nullv, {"v_positive": "v > 0"}).collect()}
    assert out3 == {"v_positive": 1}


def test_interval_union_swallows_and_splits(spark):
    """The overlap rule sessionize can't express: an early LONG interval
    swallows later short ones (one island), a gap splits (two islands),
    adjacency [0,10)+[10,15) merges (half-open union), and exact
    duplicates collapse into their island."""
    from executor_u1mindexer_spark.operators import events as E

    rows = [
        # u1: [0,100) swallows [5,10) and [50,60); [100,110) is ADJACENT
        # (merges under half-open union); [200,205) splits a new island
        (1, 1, 0, 100), (1, 2, 5, 10), (1, 3, 50, 60),
        (1, 4, 100, 110), (1, 5, 200, 205),
        # u2: duplicate intervals + containment
        (2, 6, 0, 10), (2, 7, 0, 10), (2, 8, 2, 3),
    ]
    df = spark.createDataFrame(rows, "u long, id long, s long, e long")
    got = {r.u: (r.n_intervals, r.n_islands, r.covered_units, r.span_units)
           for r in E.interval_union_coverage(df, "u", "s", "e", "id").collect()}
    assert got[1] == (5, 2, 115, 205)   # [0,110) + [200,205)
    assert got[2] == (3, 1, 10, 10)


def test_interval_union_matches_brute_force_on_random_sets(spark):
    """Seeded-random stress: 200 intervals over 10 keys with heavy
    overlap, operator output == a plain-Python sweep-line merge."""
    import random

    rng = random.Random(20260815)
    rows = []
    for i in range(200):
        k = rng.randint(0, 9)
        s = rng.randint(0, 500)
        rows.append((k, i, s, s + rng.randint(1, 80)))
    from executor_u1mindexer_spark.operators import events as E

    df = spark.createDataFrame(rows, "u long, id long, s long, e long")
    got = {r.u: (r.n_intervals, r.n_islands, r.covered_units, r.span_units)
           for r in E.interval_union_coverage(df, "u", "s", "e", "id").collect()}

    by_key = {}
    for k, _, s, e in rows:
        by_key.setdefault(k, []).append((s, e))
    want = {}
    for k, iv in by_key.items():
        iv.sort()
        islands = []
        for s, e in iv:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want[k] = (
            len(iv),
            len(islands),
            sum(e - s for s, e in islands),
            islands[-1][1] - islands[0][0],
        )
    assert got == want


def test_interval_gap_report_complement_and_brute_force(spark):
    """interval_gap_report (r11): gaps are the islands' complement —
    checked on the hand case (one gap per split) and on the seeded
    stress set against the same plain-Python sweep-line merge; also pins
    the identity covered_units + sum(gap_units) == span_units per key,
    and that reversed/empty/NULL-bound intervals are dropped by the
    shared policy."""
    import random

    from executor_u1mindexer_spark.operators import events as E

    rows = [
        (1, 1, 0, 100), (1, 2, 5, 10), (1, 3, 50, 60),
        (1, 4, 100, 110), (1, 5, 200, 205),
        (2, 6, 0, 10), (2, 7, 0, 10), (2, 8, 2, 3),
        # policy rows: reversed, empty, NULL bound — all dropped
        (1, 9, 50, 40), (1, 10, 7, 7), (2, 11, None, 9),
    ]
    df = spark.createDataFrame(rows, "u long, id long, s long, e long")
    got = [(r.u, r.gap_start, r.gap_end, r.gap_units)
           for r in E.interval_gap_report(df, "u", "s", "e", "id").collect()]
    assert got == [(1, 110, 200, 90)]  # u1's single split; u2 has one island

    rng = random.Random(20260815)
    srows = []
    for i in range(200):
        k = rng.randint(0, 9)
        s = rng.randint(0, 500)
        srows.append((k, i, s, s + rng.randint(1, 80)))
    sdf = spark.createDataFrame(srows, "u long, id long, s long, e long")
    ggaps = {}
    for r in E.interval_gap_report(sdf, "u", "s", "e", "id").collect():
        ggaps.setdefault(r.u, []).append((r.gap_start, r.gap_end, r.gap_units))
    by_key = {}
    for k, _, s, e in srows:
        by_key.setdefault(k, []).append((s, e))
    cov = {r.u: (r.covered_units, r.span_units)
           for r in E.interval_union_coverage(sdf, "u", "s", "e", "id").collect()}
    for k, iv in by_key.items():
        iv.sort()
        islands = []
        for s, e in iv:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want = [(a_e, b_s, b_s - a_e)
                for (_, a_e), (b_s, _) in zip(islands, islands[1:])]
        assert ggaps.get(k, []) == want
        covered, span = cov[k]
        assert covered + sum(g for _, _, g in want) == span


def test_dq_audit_rejects_bad_check_names(spark):
    """ADVICE r10: names reach the generated stack() SQL as a literal
    AND an identifier — anything beyond a plain identifier must fail
    construction loudly, never mis-parse."""
    import pytest as _pt

    from executor_u1mindexer_spark.operators import pipeline as P

    df = spark.createDataFrame([(1,)], "v long")
    for bad in ("has space", "quote'd", "hy-phen", "1leading"):
        with _pt.raises(ValueError, match="not a plain SQL identifier"):
            P.dq_audit(df, {bad: "v > 0"})
    with _pt.raises(ValueError, match="not a plain SQL identifier"):
        P.dq_audit(df, {"ok": "v > 0"}, unique_cols=["bad col"])


def test_sessionize_capped_matches_plain_python_fold(spark):
    """sessionize_capped (r11): hand case exercising both split rules
    (gap split, cap split mid-burst, exact-boundary non-splits) plus a
    seeded-random stress vs a plain-Python replay of the recurrence."""
    import random
    from datetime import datetime, timedelta

    from executor_u1mindexer_spark.operators import events as E

    base = datetime(2025, 1, 1)

    def ts(s):
        return base + timedelta(seconds=s)

    # gap=100, cap=250: 0,80,160,250 stay one session (every diff < 100;
    # duration 250 is NOT > cap — exact-boundary non-split); 320 cap-splits
    # (320-0 > 250) despite diff 70; 400 rides; 700 gap-splits (diff 300)
    rows = [(1, i, ts(t)) for i, t in enumerate((0, 80, 160, 250, 320, 400, 700))]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = [(r.session_start_s, r.session_end_s, r.n_events)
           for r in E.sessionize_capped(df, 100, 250)
                     .orderBy("session_start_s").collect()]
    b = int(base.timestamp())
    assert got == [(b + 0, b + 250, 4), (b + 320, b + 400, 2), (b + 700, b + 700, 1)]

    rng = random.Random(20260815)
    rows = []
    eid = 0
    for u in range(8):
        t = 0
        for _ in range(rng.randint(5, 60)):
            t += rng.randint(1, 160)
            rows.append((u, eid, ts(t)))
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {(r.user_id, r.session_start_s, r.session_end_s, r.n_events)
           for r in E.sessionize_capped(df, 100, 250).collect()}

    want = set()
    by_u = {}
    for u, _, t in rows:
        by_u.setdefault(u, []).append(int(t.timestamp()))
    for u, times in by_u.items():
        times.sort()
        start = prev = times[0]
        n = 1
        for t in times[1:]:
            if t - prev >= 100 or t - start > 250:
                want.add((u, start, prev, n))
                start, n = t, 1
            else:
                n += 1
            prev = t
        want.add((u, start, prev, n))
    assert got == want and len(want) > 30


def test_gopher_doc_metrics_hand_computed(spark):
    # doc 1: "the cat sat on the mat" — 6 words, 17 chars, 2 stopwords
    # ('the' x2), top token 'the' (2), no symbol words
    # doc 2: "a b@d t0ken a a" — 5 words, 11 chars, 3 stopwords ('a' x3),
    # top 'a' (3), 1 symbol word ('b@d'; 't0ken' is [a-z0-9] and is NOT)
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "  a b@d t0ken a a  ")],
        "doc_id long, text string",
    )
    m = {r.doc_id: r for r in P.gopher_doc_metrics(docs).collect()}
    assert m[1].n_words == 6
    assert m[1].mean_word_len == 17.0 / 6.0
    assert m[1].stopword_frac == 2.0 / 6.0
    assert m[1].top_token_frac == 2.0 / 6.0
    assert m[1].symbol_word_frac == 0.0
    assert m[2].n_words == 5
    assert m[2].mean_word_len == 11.0 / 5.0
    assert m[2].stopword_frac == 3.0 / 5.0
    assert m[2].top_token_frac == 3.0 / 5.0
    assert m[2].symbol_word_frac == 1.0 / 5.0


def test_gopher_audit_melts_through_dq_audit(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "a a a a")],
        "doc_id long, text string",
    )
    out = {
        r.check_name: (r.n_violations, r.passed)
        for r in P.dq_audit(
            P.gopher_doc_metrics(docs),
            {"short_doc": "n_words >= 5", "rep_high": "top_token_frac <= 0.5e0"},
        ).collect()
    }
    # doc 2 has 4 words (short) and top fraction 1.0 (repetitive)
    assert out == {"short_doc": (1, False), "rep_high": (1, False)}


# ------------------------------------------------- priority sampling (r12)


def _prio_replay(pairs, k):
    """Sequential replay of priority_sample's exact contract."""
    import hashlib
    import math

    pr = []
    for key, w in pairs:
        if w <= 0:
            continue
        h = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)
        q = float(w) * 4294967296.0 / (float(h) + 1.0)
        pr.append((key, w, q))
    pr.sort(key=lambda t: (-t[2], t[0]))
    topkp1 = pr[: k + 1]
    tau = topkp1[k][2] if len(topkp1) == k + 1 else 0.0
    out = []
    for key, w, q in topkp1[:k]:
        adj = max(float(w), tau)
        out.append((key, w, q, adj, math.floor(adj * 1000000.0)))
    return sorted(out), tau


def test_priority_sample_matches_python_replay(spark):
    k = 16
    pairs = [(i, 1 + (i * 37) % 500) for i in range(300)]
    df = spark.createDataFrame(pairs, "k long, w long").repartition(7)
    got = sorted(
        (r["k"], r.weight, r.q, r.adj_weight, r.adj_micros)
        for r in P.priority_sample(df, key="k", weight_col="w", k=k).collect()
    )
    want, _tau = _prio_replay(pairs, k)
    assert got == want


def test_priority_sample_exact_when_n_below_k(spark):
    pairs = [(i, 10 + i) for i in range(5)]
    df = spark.createDataFrame(pairs, "k long, w long")
    rows = P.priority_sample(df, key="k", weight_col="w", k=64).collect()
    # tau = 0: every adjusted weight is the raw weight (a census)
    assert sorted((r["k"], r.adj_weight) for r in rows) == [
        (i, float(10 + i)) for i in range(5)
    ]


def test_priority_sample_ht_estimator_is_unbiased_in_replay(spark):
    """DLT Thm 1: E[sum adj over sample] = total. Checked over 400
    disjoint hash draws of the pure-python replay (the Spark side is
    pinned bit-exact to the replay above, so the property transfers);
    one Spark draw is spot-checked inside the band of the empirical
    spread."""
    k = 32
    weights = [1 + (i * 13) % 97 for i in range(250)]
    total = float(sum(weights))
    ests = []
    for salt in range(400):
        pairs = [(i + salt * 10_000, w) for i, w in enumerate(weights)]
        smp, _tau = _prio_replay(pairs, k)
        ests.append(sum(r[3] for r in smp))
    mean = sum(ests) / len(ests)
    assert abs(mean - total) / total < 0.02
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "k long, w long"
    )
    est_spark = sum(
        r.adj_weight
        for r in P.priority_sample(df, key="k", weight_col="w", k=k).collect()
    )
    lo, hi = min(ests), max(ests)
    span = hi - lo
    assert lo - 0.1 * span <= est_spark <= hi + 0.1 * span


def test_priority_sample_weight_gate_raises(spark):
    df = spark.createDataFrame([(1, 1 << 22)], "k long, w long")
    try:
        P.priority_sample(df, key="k", weight_col="w", k=4).collect()
    except Exception as e:  # Spark wraps raise_error
        assert "exact-double bound" in str(e)
    else:
        raise AssertionError("weight gate did not fire")


def test_priority_sample_k_validated(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1)], "k long, w long")
    with _pytest.raises(ValueError):
        P.priority_sample(df, key="k", weight_col="w", k=0)


# --------------------------------------------- frequent item pairs (r12)


def test_frequent_pairs_hand_baskets(spark):
    """Known baskets: pair (1,2) in 3 baskets, (1,3) in 2, singleton 9.
    minsup=2 keeps (1,2) sup=3 and (1,3) sup=2; lift is exact."""
    rows = [
        (100, 1), (100, 2), (100, 3),
        (200, 1), (200, 2), (200, 3),
        (300, 1), (300, 2),
        (400, 9),
        (400, 9),  # duplicate listing dedups inside the basket
    ]
    df = spark.createDataFrame(rows, "bk long, it long")
    got = {
        (r.item_a, r.item_b): (r.support, r.lift)
        for r in P.frequent_pairs(
            df, basket_col="bk", item_col="it", minsup=2
        ).collect()
    }
    n = 4  # baskets
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == (3, 3 * n / (3 * 3))
    assert got[(1, 3)] == (2, 2 * n / (3 * 2))
    assert got[(2, 3)] == (2, 2 * n / (3 * 2))


def test_frequent_pairs_apriori_prune_blocks_infrequent_items(spark):
    # item 5 appears in only 1 basket: no pair containing it survives
    # even though (5, 6) co-occur once
    rows = [(1, 5), (1, 6), (2, 6), (3, 6)]
    df = spark.createDataFrame(rows, "bk long, it long")
    got = P.frequent_pairs(df, basket_col="bk", item_col="it", minsup=2).collect()
    assert got == []


def test_frequent_pairs_minsup_validated(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1)], "bk long, it long")
    with _pytest.raises(ValueError):
        P.frequent_pairs(df, basket_col="bk", item_col="it", minsup=0)


# --------------------------------------------------- per-group OLS (r12)


def test_ols_trend_recovers_exact_linear_series(spark):
    """y rises exactly 14.4 units/day (0.01/minute): the closed form
    must recover slope_per_day = 14.4 and value_at_start = the first
    value, independent of partitioning."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(minutes=m), 5.0 + 0.01 * m) for m in range(100)
    ] + [("b", t0, 7.0)]  # single point: den = 0 -> NULL fit
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp_ntz, value double"
    ).repartition(7)
    from executor_u1mindexer_spark.operators import events as E

    got = {
        r.event_type: (r.n, r.slope_per_day, r.value_at_start)
        for r in E.ols_trend_by_group(df, "event_type", "ts", "value").collect()
    }
    assert got["a"][0] == 100
    assert got["a"][1] == 14.4
    assert got["a"][2] == 5.0
    assert got["b"] == (1, None, None)


def test_ols_trend_matches_numpy_on_noisy_data(spark):
    """Against numpy's lstsq on deterministic pseudo-noise (exact to the
    9-digit rounding of the emitted columns)."""
    import datetime as dt

    import numpy as np

    t0 = dt.datetime(2024, 1, 1)
    xs = list(range(0, 600, 7))
    ys = [round(50 + 0.03 * m + ((m * 37) % 11 - 5) * 0.25, 2) for m in xs]
    rows = [("g", t0 + dt.timedelta(minutes=m), y) for m, y in zip(xs, ys)]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp_ntz, value double"
    )
    from executor_u1mindexer_spark.operators import events as E

    r = E.ols_trend_by_group(df, "event_type", "ts", "value").collect()[0]
    # replay in exact integer space like the operator (centi-units,
    # round-half-up); center x at its min for lstsq conditioning — the
    # slope is shift-invariant and the intercept becomes value-at-start
    yc = np.array([int(np.floor(y * 100.0 + 0.5)) for y in ys], dtype=np.int64)
    xm = np.array(xs, dtype=np.int64)
    A = np.vstack([xm - xm.min(), np.ones(len(xm))]).T.astype(np.float64)
    slope_cpm, icpt = np.linalg.lstsq(A, yc.astype(np.float64), rcond=None)[0]
    assert abs(r.slope_per_day - slope_cpm * 14.4) < 1e-6
    assert abs(r.value_at_start - icpt / 100.0) < 1e-6


# ------------------------------------------------- MAD outliers (r12)


def test_mad_outliers_hand_group(spark):
    """Hand group [1, 2, 3, 4, 100]: median 3, MAD 1, only 100 is an
    outlier (|100-3| = 97 > 3). Even-count group [1, 2, 3, 4]: median
    2.5 and MAD 1.0 exercise the half-integer interpolation lanes."""
    from executor_u1mindexer_spark.operators import events as E

    rows = [("a", float(v)) for v in (1, 2, 3, 4, 100)] + [
        ("b", float(v)) for v in (1, 2, 3, 4)
    ]
    df = spark.createDataFrame(rows, "g string, value double").repartition(3)
    got = {
        r.g: (r.n, r.median_value, r.mad_value, r.n_outliers)
        for r in E.mad_outliers_by_group(df, "g", "value").collect()
    }
    assert got["a"] == (5, 3.0, 1.0, 1)
    # group b: devs from 2.5 are [1.5, 0.5, 0.5, 1.5] -> MAD = 1.0;
    # 1.5 > 3.0 is false -> no outliers
    assert got["b"] == (4, 2.5, 1.0, 0)


def test_mad_zero_flags_every_off_median_row(spark):
    from executor_u1mindexer_spark.operators import events as E

    rows = [("c", 5.0)] * 6 + [("c", 5.01)]
    df = spark.createDataFrame(rows, "g string, value double")
    r = E.mad_outliers_by_group(df, "g", "value").collect()[0]
    assert r.mad_value == 0.0 and r.n_outliers == 1


# ------------------------------------------------ A/B conversion (r12)


def test_ab_conversion_hand_2x2(spark):
    """Hand-built arms with known 2x2 = [[2,2],[3,1]]: chi2 replayed via
    the closed form n(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)); the 24h window
    boundary is inclusive (purchase at exactly +24h converts, +24h+1s
    does not)."""
    import datetime as dt

    from executor_u1mindexer_spark.operators import events as E

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)

    # find user ids for each arm under the real hash
    import hashlib

    def arm(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2

    a_users = [u for u in range(100) if arm(u) == 0][:4]
    b_users = [u for u in range(100) if arm(u) == 1][:4]
    rows = []
    # arm0: 2 convert (one exactly at +24h), 2 don't (one at +24h+1s)
    for i, u in enumerate(a_users):
        rows.append((u, "view", t0))
        if i == 0:
            rows.append((u, "purchase", t0 + 2 * h))
        elif i == 1:
            rows.append((u, "purchase", t0 + 24 * h))  # boundary: converts
        elif i == 2:
            rows.append((u, "purchase", t0 + 24 * h + dt.timedelta(seconds=1)))
    # arm1: 3 convert, 1 doesn't
    for i, u in enumerate(b_users):
        rows.append((u, "view", t0))
        if i < 3:
            rows.append((u, "purchase", t0 + 3 * h))
    df = spark.createDataFrame(
        [(u, ty, ts) for u, ty, ts in rows],
        "user_id long, event_type string, ts timestamp_ntz",
    )
    got = {r.arm: r for r in E.ab_conversion_lift(df).collect()}
    assert (got[0].n_users, got[0].n_converted) == (4, 2)
    assert (got[1].n_users, got[1].n_converted) == (4, 3)
    a, b, c, d = 2, 2, 3, 1
    n = a + b + c + d
    chi2 = n * (a * d - b * c) ** 2 / ((a + b) * (c + d) * (a + c) * (b + d))
    assert abs(got[0].chi2 - chi2) < 1e-9
    assert abs(got[0].rel_lift - ((c / (c + d)) / (a / (a + b)) - 1)) < 1e-9


def test_ab_conversion_zero_margin_is_null_chi2(spark):
    import datetime as dt

    from executor_u1mindexer_spark.operators import events as E

    t0 = dt.datetime(2024, 1, 1)
    # every user converts -> b = d = 0 -> den = 0 -> chi2 NULL
    rows = []
    for u in range(8):
        rows.append((u, "view", t0))
        rows.append((u, "purchase", t0 + dt.timedelta(hours=1)))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp_ntz"
    )
    for r in E.ab_conversion_lift(df).collect():
        assert r.chi2 is None and r.conv_rate == 1.0


def test_ab_conversion_arm0_zero_conversions_null_rel_lift(spark):
    """ADVICE r12: arm 0 with users but ZERO conversions must yield NULL
    rel_lift (not a DIVIDE_BY_ZERO crash under Spark 4 ANSI) — the
    sparse-funnel case. chi2 stays defined (den > 0 here)."""
    import datetime as dt
    import hashlib

    from executor_u1mindexer_spark.operators import events as E

    def arm(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2

    t0 = dt.datetime(2024, 1, 1)
    a_users = [u for u in range(100) if arm(u) == 0][:3]
    b_users = [u for u in range(100) if arm(u) == 1][:3]
    rows = []
    for u in a_users:  # views only — zero conversions in arm 0
        rows.append((u, "view", t0))
    for i, u in enumerate(b_users):
        rows.append((u, "view", t0))
        if i < 2:
            rows.append((u, "purchase", t0 + dt.timedelta(hours=2)))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp_ntz"
    )
    got = {r.arm: r for r in E.ab_conversion_lift(df).collect()}
    assert got[0].rel_lift is None and got[1].rel_lift is None
    assert got[0].chi2 is not None  # a=0 but den = (a+b)(c+d)(a+c)(b+d) > 0


def test_ab_conversion_single_arm_still_emits_occupancy(spark):
    """ADVICE r12: when every user hashes to one arm the 2x2 cannot form
    — the surviving arm's occupancy row must still emit (LEFT join), with
    NULL rel_lift/chi2 rather than silently returning zero rows."""
    import datetime as dt
    import hashlib

    from executor_u1mindexer_spark.operators import events as E

    def arm(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2

    t0 = dt.datetime(2024, 1, 1)
    a_users = [u for u in range(100) if arm(u) == 0][:4]
    rows = []
    for i, u in enumerate(a_users):
        rows.append((u, "view", t0))
        if i < 2:
            rows.append((u, "purchase", t0 + dt.timedelta(hours=1)))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp_ntz"
    )
    out = E.ab_conversion_lift(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.arm, r.n_users, r.n_converted) == (0, 4, 2)
    assert r.rel_lift is None and r.chi2 is None
    assert r.conv_rate == 0.5
