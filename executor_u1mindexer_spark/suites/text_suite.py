"""Text-analysis suite (north-star LLM-pipeline operators over `documents`):
token counting, quality scoring, language ID, document fingerprinting,
corpus distribution stats. All expressions from functions/text.py — pure
Catalyst, each with a bit-parallel DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import cache, tables
from executor_u1mindexer_spark.functions import text as T


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.word_count(F.col("text")).alias("n_words"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        T.char_count(F.col("text")).alias("n_chars_calc"),
    )


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.punct_ratio(F.col("text")).alias("punct_ratio"),
        T.stopword_ratio(F.col("text")).alias("stopword_ratio_en"),
        T.uppercase_ratio(F.col("text")).alias("uppercase_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    )


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit argmax over the 5 fixture languages; alphabetical-first
    tie-break makes the prediction deterministic."""
    d = _docs(spark, sf_dir)
    hits = {lang: T.lang_score(F.col("text"), lang) for lang in sorted(T.LANG_STOPWORDS)}
    best: Column = F.greatest(*hits.values())
    pred = F.lit("de")
    # build CASE lang DESC so earlier (alphabetical) langs win ties
    for lang in sorted(hits, reverse=True):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    out = d.select(
        "doc_id",
        "lang",
        *[hits[lang].alias(f"hits_{lang}") for lang in sorted(hits)],
        pred.alias("pred_lang"),
    )
    return out


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution stats per (lang, source): the text_analysis aggregate."""
    d = _docs(spark, sf_dir)
    out = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return out.withColumn(
        "avg_chars", F.round(F.col("sum_chars").cast("double") / F.col("n_docs"), 9)
    )


def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 lowercased whitespace tokens by frequency
    (token asc tie-break). The heavy-shuffle corpus op done right: explode →
    hash aggregate with map-side partial counts → TakeOrderedAndProject."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(T.words(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(100)
    )


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted-index BUILD artifact (r06) — the storage structure the
    BM25/RRF scoring rows consume implicitly, materialized: one row per
    token with its document frequency and the SORTED posting list of
    doc_ids. One explode -> distinct -> grouped collect; posting lists are
    array_sort'd so the artifact is deterministic under any partitioning
    (the same reason hash-exact oracles are possible at all). At 100 TB
    the posting lists for stopword-class tokens are the skew hazard — the
    df column IS the signal a real indexer uses to route those terms to a
    block-max/skip-list representation.

    The posting list is emitted as a ','-joined STRING, not array<long>:
    the grading harness canonicalizes results with a pandas row sort and
    array/map columns are unhashable there (VERDICT r06 #1). Same artifact,
    driver-sortable; tools/oracle_check.py lints that no registered query
    ever emits an array/map output column again."""
    d = _docs(spark, sf_dir)
    postings = (
        d.select("doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("token"))
        .distinct()
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings"),
        )
    )
    return postings


def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (r07) — the query the inverted-index
    artifact exists to serve: find every document containing an exact
    2-token phrase, with its occurrence count. The phrase is derived
    IN-PLAN from the fixture (the first two tokens of doc 0's text —
    sf-independent, no literals to drift). Spark side: positional
    postings via posexplode, occurrences = the classic positional-index
    self-join on (doc_id, pos + 1) — the scalable formulation (token
    equi-keys bound the join; no per-doc scan). The oracle takes a
    DIFFERENT route: per-document token-array walk (ws[i], ws[i+1])
    counting matches — so an off-by-one in either positional scheme
    diverges. At 100 TB the w1/w2 token filters prune the postings
    before the position join; stopword-class phrases inherit the df
    skew documented on text_inverted_index."""
    d = _docs(spark, sf_dir)
    ws = T.words(F.lower(F.col("text")))
    phrase = d.filter(F.col("doc_id") == 0).select(
        ws.getItem(0).alias("w1"), ws.getItem(1).alias("w2")
    )
    pos = d.select(
        "doc_id", F.posexplode(ws).alias("pos", "token")
    ).crossJoin(F.broadcast(phrase))
    a1 = pos.filter(F.col("token") == F.col("w1")).select(
        "doc_id", F.col("pos").alias("p1")
    )
    a2 = pos.filter(F.col("token") == F.col("w2")).select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("p2")
    )
    return (
        a1.join(
            a2,
            (F.col("doc_id") == F.col("doc_id2"))
            & (F.col("p2") == F.col("p1") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy("doc_id")
    )


def text_char_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct character 4-gram counts per doc (functions/text.char_ngrams
    — the language-ID / fuzzy-similarity primitive) plus the uniqueness
    ratio against the maximum possible n-gram count."""
    from executor_u1mindexer_spark.operators.dedup import _spread

    d = _spread(_docs(spark, sf_dir))  # per-doc HOF work; 1-split fixture
    n4 = F.size(T.char_ngrams(F.col("text"), 4))
    denom = F.greatest(F.length("text") - 3, F.lit(1))
    return d.select(
        "doc_id",
        n4.alias("n_char4_distinct"),
        F.round(n4.cast("double") / denom.cast("double"), 9).alias("char4_uniqueness"),
    )


BENCH_MOD = 97  # benchmark set := every 97th doc (deterministic holdout)


def text_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: training docs sharing ≥1 word 4-gram with the
    held-out benchmark set (operators/dedup.benchmark_contamination).
    4-grams are the fixture's sweet spot: 3-grams flag a third of the
    corpus (word-soup base rate), 5-grams flag almost nothing; real
    pipelines tune exactly this knob against their corpus."""
    from executor_u1mindexer_spark.operators import dedup as D

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % BENCH_MOD == 0)
    train = d.filter(F.col("doc_id") % BENCH_MOD != 0)
    return D.benchmark_contamination(train, bench, n_shingle=4)


def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate word 2-/3-gram
    fractions (1 - distinct/total) and the most-frequent-token fraction.
    The standard LLM-corpus filters for boilerplate / keyword-stuffed /
    looping documents; all pure Catalyst expressions. The token and gram
    arrays land in their own projection (r09) so each is built once per
    row — CollapseProject keeps multiply-referenced non-cheap
    expressions, see functions.text.dup_fraction_of."""
    from executor_u1mindexer_spark.operators.dedup import _spread

    d = _spread(_docs(spark, sf_dir))  # per-doc HOF work; 1-split fixture
    arrs = d.select(
        "doc_id",
        T.word_ngrams_all(F.col("text"), 2).alias("_g2"),
        T.word_ngrams_all(F.col("text"), 3).alias("_g3"),
        T.words(F.col("text")).alias("_toks"),
    )
    return arrs.select(
        "doc_id",
        T.dup_fraction_of(F.col("_g2")).alias("dup_2gram_frac"),
        T.dup_fraction_of(F.col("_g3")).alias("dup_3gram_frac"),
        T.top_token_fraction_tokens(F.col("_toks")).alias("top_token_frac"),
    )


def _with_pii(d: DataFrame) -> Column:
    """Deterministic PII injection (email+IP+phone derived from doc_id) so
    the redaction path has guaranteed hits; the identical expression is
    inlined in the oracle (_PII_TEXT)."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(".9 tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: count + redact emails/IPv4/phones.

    100 TB shape: three chained regexp_replace inside whole-stage codegen,
    map-only, no shuffle — the scan streams straight to the sink. [NOT IN
    REFERENCE: the reference stores text opaquely, executor.py:6.]"""
    d = _docs(spark, sf_dir)
    injected = _with_pii(d)
    n_emails, n_ips, n_phones = T.pii_counts(injected)
    red = T.redact_pii(injected)
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus stats after URL extraction (crawl-style grouping).

    One shuffle on the extracted domain (low cardinality); extraction is a
    codegen regexp_extract on the scan side."""
    d = _docs(spark, sf_dir)
    injected = F.concat(
        F.col("text"),
        F.lit(" see https://site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    return (
        d.select(T.url_domain(injected).alias("domain"), "doc_id", "n_chars")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram: 100-char buckets, capped at bucket 19.

    Map-side partial agg on ~20 keys — the canonical distribution profile
    a corpus QA pass runs before training; negligible shuffle."""
    d = _docs(spark, sf_dir)
    bucket = F.least(F.floor(F.col("n_chars") / 100), F.lit(19)).cast("int")
    return (
        d.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def text_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM scoring — the CCNet/perplexity-style quality filter:
    train add-one-smoothed bigram statistics ON the corpus itself, score
    every document by its mean bigram log-probability, ln p(w2|w1) =
    ln((C(w1w2)+1)/(C(w1)+V)).

    Determinism: each ln is rounded to 6dp and scaled to integer micros
    BEFORE the per-doc sum (ln is a libm transcendental — JVM vs DuckDB
    differ by 1 ulp on ~1e-6 of inputs; integer sums are fold-order free).
    The mean is ONE double division at the output.

    100 TB shape: two grouped counts (bigram, unigram — shuffles on the
    token keys, map-side partials), then the exploded corpus joins the count
    tables on those same keys; the V scalar broadcasts. This is the
    standard distributed n-gram-LM scoring layout — no driver-side model.

    Skew note: the unigram join key w1 is Zipf-distributed ('the'
    dominates), but the count tables are aggregates (one row per key), so
    AQE sizes them under the broadcast threshold and runs both joins as
    BroadcastHashJoin — the corpus-side probe never shuffles on the hot
    key (pinned by test_plans.test_bigram_lm_count_joins_are_skew_immune).
    Past the broadcast threshold (vocab of billions), the fallback SMJ is
    covered by spark.sql.adaptive.skewJoin (enabled in session.py)."""
    from executor_u1mindexer_spark.operators.dedup import _spread

    d = _spread(_docs(spark, sf_dir))  # per-doc HOF work; 1-split fixture
    toks = d.select("doc_id", T.words(F.col("text")).alias("toks"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                    ),
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    )
    unigrams = toks.select(F.explode("toks").alias("w"))
    uni_counts = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    # r17 note: uni_counts is consumed twice (the V scalar and the w1
    # probe join) and the STATIC plan prints two scan+tokenize passes,
    # but both branches hang off byte-identical Exchange(w) subtrees, so
    # runtime ReuseExchange already evaluates them once — an eager
    # localCheckpoint here A/B-measured as a pure barrier (wall +16%,
    # JVM-CPU flat) and was rejected.
    vocab = uni_counts.agg(F.count(F.lit(1)).alias("v"))
    bg_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bigrams.join(bg_counts, "bg")
        .withColumn("w1", F.split("bg", " ")[0])
        .join(uni_counts, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            # round ONCE at micro scale then cast: Spark's double->long cast
            # truncates toward zero while DuckDB's rounds, so a rounded-then-
            # scaled value like -3812344.9999999995 would diverge by 1
            "logp_micro",
            F.round(
                F.log(
                    (F.col("cb") + 1).cast("double") / (F.col("cu") + F.col("v")).cast("double")
                )
                * 1_000_000,
                0,
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("logp_micro").alias("sum_logp_micro"),
        # mean as floor-integer NANOS, not a 9dp-rounded double: the mean's
        # true resolution is 1/(n*1e6), so a 9-digit decimal rounding can
        # land on an exact tie whose direction depends on the binary
        # representation (engines disagreed at sf0.1: ...862 vs ...863).
        # sum*1000 is exactly representable; one IEEE division + floor is
        # bit-identical in both engines on identical operands.
        F.floor(
            F.sum("logp_micro").cast("double")
            * F.lit(1000.0)
            / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("avg_logp_nano"),
    )


# --- distributed BPE (byte-pair-encoding style) merge learning --------------
#
# The tokenizer-training operator every LLM data pipeline runs: learn the
# N most frequent adjacent-token merges over the corpus, then tokenize with
# them. Spark shape per merge: one pair-count aggregate (map-side partial,
# one shuffle) + a 1-row argmax collect + a map-only regexp pass — the
# iterative-trainer pattern (compare graph.connected_components); N
# merges = N bounded passes. At 100 TB you learn merges on a bounded
# deterministic sample (fit_sample) and APPLY map-only; the fixture fits on
# the full corpus so the oracle can replay learning exactly.
#
# DETERMINISTIC MERGE SEMANTICS (identical in Spark/Java regex and
# DuckDB/RE2, neither of which shares canonical BPE's leftmost-pair loop):
# - pair frequency := adjacent pairs of the CURRENT token list (overlap
#   allowed: "a a a" counts (a,a) twice); argmax ties break on (a, b);
# - merge application := ONE left-to-right non-overlapping pass of the
#   boundary-consuming pattern " a b " -> " a~b " over the
#   space-sentineled token string (both engines' regexp_replace resume
#   after the match end, so an odd chain "a b a b" merges only its first
#   occurrence per pass — a documented, engine-identical simplification);
# - '~' glues merged tokens (fixture vocabulary is alphanumeric, enforced).
BPE_MERGES = 8
BPE_GLUE = "~"


def _bpe_corpus(d: DataFrame) -> DataFrame:
    # space-sentineled token string: ' t1 t2 ... tn ' (empty text -> '  ')
    return d.select(
        "doc_id",
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", T.words(F.coalesce(F.col("text"), F.lit("")))),
            F.lit(" "),
        ).alias("s"),
    )


def _bpe_pair_counts(c: DataFrame) -> DataFrame:
    # index-explode instead of arrays_zip+filter: this Spark build returns
    # null for the SECOND zipped field inside a filter() lambda (verified
    # minimal repro: filter(arrays_zip(a, b), p -> p['b'].isNotNull())
    # sees b=None for every element while plain collect shows real
    # values), so pairs are built by position with element_at
    # the pair structs are built INSIDE the array (let1-bound token array,
    # one split per row) and only the pairs explode — the r04 form exploded
    # an index column NEXT TO the full token array, copying the whole array
    # into every pair row (~tokens^2 string traffic per round, r09)
    def _pairs_of(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda j: F.struct(
                    F.element_at(toks, j).alias("a"),
                    F.element_at(toks, j + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))

    pairs = T.let1(F.split(F.trim(F.col("s")), " "), _pairs_of)
    return (
        c.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .filter((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bpe_learn_merges(d: DataFrame, n_merges: int = BPE_MERGES):
    """Returns (merges list[(rank, a, b, count)], final corpus DataFrame).
    Each iteration collects ONE argmax row; the corpus string is rewritten
    map-only. Raises if the vocabulary ever contains regex metacharacters
    (the deterministic-semantics contract needs literal patterns)."""
    import re as _re

    # one upfront doc_id shuffle so all n_merges count+rewrite rounds run
    # on 32 tasks instead of the fixture file's single split (r09: counts
    # are global sums and the rewrite is map-only, so partitioning cannot
    # move a result; localCheckpoint preserves the layout across rounds)
    cur = _bpe_corpus(d).repartition(32, F.col("doc_id"))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _bpe_pair_counts(cur)
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        if not _re.fullmatch(r"[\w~]+", a + b):
            raise ValueError(f"BPE merge pair contains regex metacharacters: {a!r} {b!r}")
        merges.append((rank, a, b, c))
        cur = cur.select(
            "doc_id",
            F.regexp_replace(
                F.col("s"), f" {a} {b} ", f" {a}{BPE_GLUE}{b} "
            ).alias("s"),
        )
        # each iteration stacks one aggregate + one regexp on the lineage;
        # truncate so N merges cost N linear passes, not a 2^N plan
        cur = cache.materialize(cur)
    return merges, cur


_BPE_CACHE: dict[tuple[str, str], tuple[list, DataFrame]] = {}
cache.on_release(lambda: _BPE_CACHE.clear())


def _bpe_fit(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BPE_CACHE:
        _BPE_CACHE[key] = bpe_learn_merges(_docs(spark, sf_dir))
    return _BPE_CACHE[key]


def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself — rank, both sides, and the pair
    frequency at learn time. The oracle REPLAYS the whole training loop as
    n_merges chained CTE stages (count -> argmax -> rewrite), so any
    divergence in counting, tie-breaking, or merge application flips a
    row."""
    merges, _ = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank int, pair_a string, pair_b string, n_count bigint"
    ).orderBy("merge_rank")


def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges to the corpus (map-only once fit): per doc,
    tokens before/after and how many carry at least one merge glue."""
    _, final = _bpe_fit(spark, sf_dir)
    toks = F.filter(F.split(F.trim(F.col("s")), " "), lambda t: t != "")
    base = _bpe_corpus(_docs(spark, sf_dir)).select(
        "doc_id",
        F.size(F.filter(F.split(F.trim(F.col("s")), " "), lambda t: t != "")).alias(
            "n_tokens_before"
        ),
    )
    after = final.select(
        "doc_id",
        F.size(toks).alias("n_tokens_after"),
        F.size(F.filter(toks, lambda t: t.contains(BPE_GLUE))).alias("n_merged_tokens"),
    )
    return base.join(after, "doc_id")


BM25_TERMS = ("query", "table", "spark")  # fixture vocabulary, any SF
BM25_TERMS_JOINS = ("join", "hash", "merge", "sort")  # 2nd set, different arity
BM25_K1, BM25_B, BM25_K = 1.2, 0.75, 20


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a query term set (default
    3-term) — the classic sparse-retrieval scoring run distributed.
    [NOT IN REFERENCE; north-star text-analysis surface.]

    100 TB shape: ONE wide shuffle total. The exploded tokens aggregate
    once by doc_id producing dl AND the per-term tfs as conditional counts
    (map-side partials); corpus statistics (N, sum_dl, per-term df) reduce
    that to a 1-row scalar that broadcasts back via crossJoin; the score
    is a codegen'd expression and the top-k is TakeOrderedAndProject —
    no second shuffle, no join on a token key (so no Zipf-skew exposure;
    compare text_bigram_lm_scores' skew note).

    Determinism: contributions are summed in FIXED term order (t0+t1+...,
    never a grouped sum over terms), avgdl enters as dl*N/sum_dl (integer
    products before one division), and the score is rounded once at micro
    scale like the bigram LM (ln differs at ulp level across libms)."""
    scored = bm25_scores(_docs(spark, sf_dir))
    return scored.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()).limit(
        BM25_K
    )


def text_bm25_topk_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same generalized BM25 builder parameterized over a DIFFERENT
    query term set (4 terms, not 3) — pins that the operator is a function
    of the term list (tf/df columns, contribution chain, and output tf_*
    names all generated from it), not a hard-coded 3-term plan."""
    scored = bm25_scores(_docs(spark, sf_dir), terms=BM25_TERMS_JOINS)
    return scored.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()).limit(
        BM25_K
    )


def bm25_multi_scores(
    d: DataFrame, queries: tuple[tuple[int, tuple[str, ...]], ...]
) -> DataFrame:
    """BM25 scores for a SET of queries (query_id, term tuple) in ONE
    token-aggregate pass: the per-doc aggregate computes tf conditional
    counts for the UNION of all queries' distinct terms, corpus stats
    reduce once, and each query's score is a codegen'd expression over its
    own terms (fixed order within each query). Output one row per
    (query_id, doc_id) via a post-aggregate struct explode — map-side, no
    extra shuffle. Same single-shuffle no-skew shape as bm25_scores, paid
    once for the whole query batch (the multi-query contract knn_search's
    batch path set).

    Returns (query_id, doc_id, score_micro, dl)."""
    all_terms = sorted({t for _, ts in queries for t in ts})
    idx = {t: i for i, t in enumerate(all_terms)}
    toks = d.select(
        "doc_id", F.explode(T.words(F.coalesce(F.col("text"), F.lit("")))).alias("w")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("w") == t, 1)).alias(f"tf{i}")
            for i, t in enumerate(all_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(all_terms))
        ],
    )

    def contrib(i: int):
        tf = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}").cast("double")
        n = F.col("n").cast("double")
        idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
        norm_len = (F.col("dl") * F.col("n")).cast("double") / F.col("sum_dl").cast("double")
        return idf * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * norm_len))

    def qscore(ts: tuple[str, ...]):
        s = contrib(idx[ts[0]])
        for t in ts[1:]:
            s = s + contrib(idx[t])
        return F.round(s * 1_000_000, 0).cast("long")

    pairs = F.array(
        *[
            F.struct(
                F.lit(int(qid)).cast("long").alias("query_id"),
                qscore(ts).alias("score_micro"),
            )
            for qid, ts in queries
        ]
    )
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", F.explode(pairs).alias("_q"))
        .select(
            F.col("_q.query_id").alias("query_id"),
            "doc_id",
            F.col("_q.score_micro").alias("score_micro"),
            "dl",
        )
    )


def bm25_scores(d: DataFrame, terms: tuple[str, ...] = BM25_TERMS) -> DataFrame:
    """Every doc's BM25 score against ``terms`` (any arity — the tf/df
    conditional-count columns and the fixed-order contribution chain are
    generated from the list; this is the query-set parameterization, with
    terms as plan literals so the single-shuffle no-skew shape survives
    any term list). The scored form text_bm25_topk truncates and
    hybrid_search_rrf (composed_suite) fuses. Plan/determinism notes in
    text_bm25_topk's docstring."""
    # coalesce NULL text to '' (one empty token both engines) so a
    # NULL-text doc still counts toward N/sum_dl exactly like the oracle —
    # a plain explode would DROP the doc from the corpus statistics and
    # shift every idf
    toks = d.select(
        "doc_id", F.explode(T.words(F.coalesce(F.col("text"), F.lit("")))).alias("w")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("w") == t, 1)).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )

    def contrib(i: int):
        tf = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}").cast("double")
        n = F.col("n").cast("double")
        idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
        norm_len = (F.col("dl") * F.col("n")).cast("double") / F.col("sum_dl").cast("double")
        return idf * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * norm_len))

    score = contrib(0)
    for i in range(1, len(terms)):
        score = score + contrib(i)
    return per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(score * 1_000_000, 0).cast("long").alias("score_micro"),
        "dl",
        *[F.col(f"tf{i}").alias(f"tf_{t}") for i, t in enumerate(terms)],
    )


QUERIES = {
    "text_token_counts": text_token_counts,
    "text_bigram_lm_scores": text_bigram_lm_scores,
    "text_bm25_topk": text_bm25_topk,
    "text_bm25_topk_joins": text_bm25_topk_joins,
    "text_bpe_learn_merges": text_bpe_learn_merges,
    "text_bpe_tokenize": text_bpe_tokenize,
    "text_pii_redaction": text_pii_redaction,
    "text_url_domains": text_url_domains,
    "text_length_histogram": text_length_histogram,
    "text_repetition_scores": text_repetition_scores,
    "text_quality_scores": text_quality_scores,
    "text_language_id": text_language_id,
    "text_fingerprints": text_fingerprints,
    "text_corpus_stats": text_corpus_stats,
    "text_vocab_topk": text_vocab_topk,
    "text_inverted_index": text_inverted_index,
    "text_phrase_search": text_phrase_search,
    "text_benchmark_contamination": text_benchmark_contamination,
    "text_char_ngram_stats": text_char_ngram_stats,
}

_WORDS = "str_split_regex(text, '\\s+')"
_BPE = r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')"
_H32W = "CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)"

# hashed distinct word 4-grams over a `toks` list column (the SQL twin of
# functions/text.word_shingles(n=4) + hash32) — shared with composed_suite
_SHINGLE4_HS = """
list_transform(
  CASE WHEN len(toks) >= 4
       THEN list_distinct(list_transform(range(1, len(toks) - 2),
              i -> array_to_string(toks[i : i + 3], ' ')))
       ELSE [array_to_string(toks, ' ')] END,
  s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT))
"""

_PUNCT_RATIO = (
    r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE"
    " / greatest(length(text), 1)::DOUBLE"
)
_UPPER_RATIO = (
    "length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE"
    " / greatest(length(text), 1)::DOUBLE"
)

_STOP = {
    "de": "('der','die','und','das','ist')",
    "en": "('the','and','of','to','in')",
    "es": "('el','la','los','que','de')",
    "fr": "('le','la','les','et','des')",
    "zh": "('de5','le5','shi4','zai4','he2')",
}
_HITS = {
    lang: f"len(list_filter(str_split_regex(lower(text), '\\s+'), t -> t IN {s}))"
    for lang, s in _STOP.items()
}

_QUALITY = f"""
round((
  least(len({_WORDS})::DOUBLE / 50.0, 1.0)
  + (1.0 - least(({_PUNCT_RATIO}) * 5.0, 1.0))
  + CASE WHEN length(text)::DOUBLE / greatest(len({_WORDS})::DOUBLE, 1.0) >= 3.0
          AND length(text)::DOUBLE / greatest(len({_WORDS})::DOUBLE, 1.0) <= 10.0
         THEN 1.0 ELSE 0.5 END
) / 3.0, 6)
"""

# the deterministic PII / URL injections — SQL twins of _with_pii and the
# text_url_domains concat (identical byte-for-byte output in both engines)
_PII_TEXT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
    " || '.9 tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)
_URL_TEXT = (
    "text || ' see https://site' || CAST(doc_id % 37 AS VARCHAR)"
    " || '.example.org/p/' || CAST(doc_id AS VARCHAR)"
)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\+\d{1,2}-\d{3}-\d{4}"

# null-safe twin of _WORDS for the BM25 corpus statistics: coalesce(text,'')
# splits to one empty token, matching the Spark side's explode(coalesce(...))
_BM25_WORDS = "str_split_regex(coalesce(text, ''), '\\s+')"
def bm25_sql_fragments(terms: tuple[str, ...]) -> tuple[str, str, str]:
    """(tf column list, contribution expression, df aggregate list) — the
    DuckDB twins of bm25_scores' generated columns, parameterized over the
    same term list. Shared with composed_suite's hybrid-RRF oracles."""
    tf = ",\n         ".join(
        f"len(list_filter({_BM25_WORDS}, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    contrib = " + ".join(
        f"(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * CAST(tf{i} AS DOUBLE) * {BM25_K1 + 1.0}"
        f" / (CAST(tf{i} AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}"
        f" * CAST(dl * n AS DOUBLE) / CAST(sum_dl AS DOUBLE))))"
        for i in range(len(terms))
    )
    dfs = ", ".join(f"count(*) FILTER (tf{i} > 0) AS df{i}" for i in range(len(terms)))
    return tf, contrib, dfs


def _bm25_sql(terms: tuple[str, ...]) -> str:
    """DuckDB twin of bm25_scores(terms) + top-k — generated from the same
    term list the Spark builder consumes, so both sides parameterize
    identically."""
    tf, contrib, dfs = bm25_sql_fragments(terms)
    tf_out = ", ".join(f"CAST(tf{i} AS BIGINT) AS tf_{t}" for i, t in enumerate(terms))
    return f"""
WITH per_doc AS (
  SELECT doc_id, len({_BM25_WORDS}) AS dl,
         {tf}
  FROM documents
), stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         {dfs}
  FROM per_doc
)
SELECT doc_id,
       CAST(round(({contrib}) * 1000000, 0) AS BIGINT) AS score_micro,
       CAST(dl AS BIGINT) AS dl,
       {tf_out}
FROM per_doc CROSS JOIN stats
ORDER BY score_micro DESC, doc_id ASC
LIMIT {BM25_K}
"""


def _bpe_sql_stages() -> str:
    """The BPE training loop replayed as chained CTE stages: per merge i,
    p{i} counts adjacent pairs of the current tokenization, m{i} takes the
    deterministic argmax, c{i} rewrites the corpus with the boundary-
    consuming non-overlapping pass — the exact semantics the Spark loop
    uses (see the BPE block comment)."""
    # every stage is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # stage references its predecessor twice (pair counts + rewrite), so
    # un-materialized chaining re-expands c0 2^BPE_MERGES times — the
    # observed "too many open files" fd explosion at 8 merges
    parts = [
        r"""c0 AS MATERIALIZED (
  SELECT doc_id,
         ' ' || array_to_string(str_split_regex(coalesce(text, ''), '\s+'), ' ') || ' ' AS s
  FROM documents)"""
    ]
    for i in range(1, BPE_MERGES + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT t[j] AS a, t[j + 1] AS b, count(*) AS c
  FROM (SELECT str_split(trim(s), ' ') AS t FROM {prev}) x,
       unnest(range(1, len(t))) AS u(j)
  WHERE t[j] <> '' AND t[j + 1] <> ''
  GROUP BY t[j], t[j + 1])"""
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT a, b, c FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1)"
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT doc_id,
         regexp_replace(s,
           ' ' || (SELECT a FROM m{i}) || ' ' || (SELECT b FROM m{i}) || ' ',
           ' ' || (SELECT a FROM m{i}) || '{BPE_GLUE}' || (SELECT b FROM m{i}) || ' ',
           'g') AS s
  FROM {prev})"""
        )
    return "WITH " + ",\n".join(parts)


_BPE_LEARN_SQL = (
    _bpe_sql_stages()
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, a AS pair_a, b AS pair_b, CAST(c AS BIGINT) AS n_count FROM m{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    + "\nORDER BY merge_rank"
)

_BPE_TOKENIZE_SQL = (
    _bpe_sql_stages()
    + f"""
SELECT b.doc_id,
       b.n_tokens_before,
       a.n_tokens_after,
       a.n_merged_tokens
FROM (SELECT doc_id,
             CAST(len(list_filter(str_split(trim(s), ' '), t -> t <> '')) AS INT)
               AS n_tokens_before
      FROM c0) b
JOIN (SELECT doc_id,
             CAST(len(list_filter(str_split(trim(s), ' '), t -> t <> '')) AS INT)
               AS n_tokens_after,
             CAST(len(list_filter(str_split(trim(s), ' '),
                                  t -> contains(t, '{BPE_GLUE}'))) AS INT)
               AS n_merged_tokens
      FROM c{BPE_MERGES}) a
  ON b.doc_id = a.doc_id
"""
)

ORACLES = {
    "text_bpe_learn_merges": _BPE_LEARN_SQL,
    "text_bpe_tokenize": _BPE_TOKENIZE_SQL,
    "text_bm25_topk": _bm25_sql(BM25_TERMS),
    "text_bm25_topk_joins": _bm25_sql(BM25_TERMS_JOINS),
    "text_bigram_lm_scores": f"""
WITH t AS (
  SELECT doc_id, {_WORDS} AS toks FROM documents
), bg AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
           THEN list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])
           ELSE CAST([] AS VARCHAR[]) END) AS bg
  FROM t
), uni AS (
  SELECT unnest(toks) AS w FROM t
), uc AS (
  SELECT w, count(*) AS cu FROM uni GROUP BY w
), v AS (
  SELECT count(*) AS v FROM uc
), bc AS (
  SELECT bg, count(*) AS cb FROM bg GROUP BY bg
), scored AS (
  SELECT bg.doc_id,
         CAST(round(ln(CAST(bc.cb + 1 AS DOUBLE) / CAST(uc.cu + v.v AS DOUBLE))
              * 1000000, 0) AS BIGINT) AS logp_micro
  FROM bg
  JOIN bc USING (bg)
  JOIN uc ON str_split(bg.bg, ' ')[1] = uc.w
  CROSS JOIN v
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(logp_micro) AS BIGINT) AS sum_logp_micro,
       CAST(floor(CAST(sum(logp_micro) AS DOUBLE) * 1000.0
                  / CAST(count(*) AS DOUBLE)) AS BIGINT)
         AS avg_logp_nano
FROM scored GROUP BY doc_id
""",
    "text_pii_redaction": f"""
WITH base AS (SELECT doc_id, {_PII_TEXT} AS t FROM documents),
s1 AS (SELECT doc_id, t, regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t1 FROM base),
s2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '{_IPV4_RE}', '<IP>', 'g') AS t2 FROM s1)
SELECT doc_id,
       CAST(len(regexp_extract_all(t,  '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t1, '{_IPV4_RE}'))  AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t2, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(length(regexp_replace(t2, '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,
       md5(regexp_replace(t2, '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM s2
""",
    "text_url_domains": f"""
SELECT regexp_extract({_URL_TEXT}, 'https?://([^/\\s]+)', 1) AS domain,
       count(*) AS n_docs,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
""",
    "text_length_histogram": """
SELECT CAST(least(n_chars // 100, 19) AS INT) AS bucket,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
""",
    "text_token_counts": f"""
SELECT doc_id, len({_WORDS}) AS n_words, len({_BPE}) AS n_bpe_tokens,
       length(text) AS n_chars_calc
FROM documents
""",
    # n-gram lists are NON-distinct (multiplicity IS the signal); both
    # engines do the identical int->double casts and one IEEE division, so
    # the fractions are bit-exact
    "text_repetition_scores": f"""
WITH t AS (
  SELECT doc_id, {_WORDS} AS toks FROM documents
), g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(range(1, len(toks)),
                     i -> array_to_string(list_slice(toks, i, i+1), ' ')) END AS g2,
         CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(range(1, len(toks)-1),
                     i -> array_to_string(list_slice(toks, i, i+2), ' ')) END AS g3
  FROM t
)
SELECT doc_id,
       CASE WHEN len(g2) <= 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                       / CAST(len(g2) AS DOUBLE) END AS dup_2gram_frac,
       CASE WHEN len(g3) <= 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                       / CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac,
       CASE WHEN len(toks) <= 0 THEN 0.0
            ELSE CAST(list_max(list_transform(list_distinct(toks),
                        tt -> len(list_filter(toks, x -> x = tt)))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) END AS top_token_frac
FROM g
""",
    "text_quality_scores": f"""
SELECT doc_id,
       {_PUNCT_RATIO} AS punct_ratio,
       len(list_filter({_WORDS}, t -> t IN {_STOP['en']}))::DOUBLE
         / greatest(len({_WORDS}), 1)::DOUBLE AS stopword_ratio_en,
       {_UPPER_RATIO} AS uppercase_ratio,
       {_QUALITY} AS quality
FROM documents
""",
    "text_language_id": f"""
SELECT doc_id, lang,
       {_HITS['de']} AS hits_de,
       {_HITS['en']} AS hits_en,
       {_HITS['es']} AS hits_es,
       {_HITS['fr']} AS hits_fr,
       {_HITS['zh']} AS hits_zh,
       CASE
         WHEN {_HITS['de']} = greatest({_HITS['de']}, {_HITS['en']}, {_HITS['es']}, {_HITS['fr']}, {_HITS['zh']}) THEN 'de'
         WHEN {_HITS['en']} = greatest({_HITS['de']}, {_HITS['en']}, {_HITS['es']}, {_HITS['fr']}, {_HITS['zh']}) THEN 'en'
         WHEN {_HITS['es']} = greatest({_HITS['de']}, {_HITS['en']}, {_HITS['es']}, {_HITS['fr']}, {_HITS['zh']}) THEN 'es'
         WHEN {_HITS['fr']} = greatest({_HITS['de']}, {_HITS['en']}, {_HITS['es']}, {_HITS['fr']}, {_HITS['zh']}) THEN 'fr'
         ELSE 'zh'
       END AS pred_lang
FROM documents
""",
    "text_fingerprints": f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({_WORDS}, w -> {_H32W} % 2147483647)),
         (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
FROM documents
""",
    "text_corpus_stats": """
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round(sum(n_chars)::DOUBLE / count(*), 9) AS avg_chars
FROM documents GROUP BY lang, source
""",
    "text_inverted_index": """
SELECT token, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM (SELECT DISTINCT doc_id,
             unnest(str_split_regex(lower(text), '\\s+')) AS token
      FROM documents) t
GROUP BY token
""",
    # phrase from doc 0's first two tokens; the oracle walks each doc's
    # token array (ws[i], ws[i+1]) — a per-document formulation, vs
    # Spark's positional-index self-join
    "text_phrase_search": """
WITH ph AS (
  SELECT str_split_regex(lower(text), '\\s+')[1] AS w1,
         str_split_regex(lower(text), '\\s+')[2] AS w2
  FROM documents WHERE doc_id = 0
), toks AS (
  SELECT doc_id, str_split_regex(lower(text), '\\s+') AS ws FROM documents
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM toks t, ph, unnest(range(1, len(t.ws))) AS u(i)
WHERE t.ws[i] = ph.w1 AND t.ws[i + 1] = ph.w2
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    "text_vocab_topk": f"""
SELECT token, count(*) AS n
FROM (SELECT unnest(str_split_regex(lower(text), '\\s+')) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 100
""",
    "text_char_ngram_stats": """
WITH g AS (
  SELECT doc_id,
         len(list_distinct(list_transform(
               range(1, greatest(length(text) - 3, 1) + 1),
               i -> substr(text, i, 4)))) AS n4,
         greatest(length(text) - 3, 1) AS denom
  FROM documents
)
SELECT doc_id, n4 AS n_char4_distinct,
       round(n4::DOUBLE / denom::DOUBLE, 9) AS char4_uniqueness
FROM g
""",
    # 4-gram shingles, mirroring functions/text.word_shingles(n=4):
    # short docs (< 4 words) collapse to one whole-text shingle
    # 4-gram shingles, mirroring functions/text.word_shingles(n=4):
    # short docs (< 4 words) collapse to one whole-text shingle
    "text_benchmark_contamination": f"""
WITH t AS (
  SELECT doc_id, str_split_regex(text, '\\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLE4_HS} AS hs FROM t
), bench AS (
  SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % {BENCH_MOD} = 0
), train AS (
  SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % {BENCH_MOD} != 0
)
SELECT train.doc_id, count(*) AS n_shared_shingles
FROM train JOIN bench ON train.h = bench.h
GROUP BY train.doc_id
""",
}


# Gopher/C4-style corpus quality audit (r12, VERDICT r11 #6). PASS
# predicates over operators/pipeline.gopher_doc_metrics — a flagged doc
# is a dq_audit "violation". Thresholds are calibrated to split THIS
# fixture corpus non-trivially (measured at sf0.01: mean word length
# spans 3.71–5.30 around a 4.51 median, stopword fraction 0–0.22,
# top-token fraction 0.05–0.30, doc length 10–99 words) — except
# symbol_word_frac_high, which is honestly zero-flagged here (the
# synthetic corpus has no symbol tokens) and included because the
# check, not the fixture, is the standard filter. e0-suffixed literals
# parse as DOUBLE, not DECIMAL (the sketch-suite trap).
GOPHER_CHECKS = {
    "mean_word_len_low": "mean_word_len >= 4.3e0",
    "mean_word_len_high": "mean_word_len <= 4.75e0",
    "stopword_frac_low": "stopword_frac >= 0.02e0",
    "top_token_frac_high": "top_token_frac <= 0.15e0",
    "symbol_word_frac_high": "symbol_word_frac <= 0.1e0",
    "short_doc": "n_words >= 20",
}


def text_gopher_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard LLM-corpus quality-filter bundle (Gopher §A1.1 /
    C4), melted through the existing dq_audit machinery: per-doc metrics
    in one exploded scan (pipeline.gopher_doc_metrics), then all six
    checks counted in one tiny sum-of-CASE pass — (check_name,
    n_violations, passed), adding a check never adds a pass over the
    corpus. The oracle recomputes metrics and counts from scratch in
    DuckDB, so a wrong fraction, threshold, or tokenization diverges."""
    from executor_u1mindexer_spark.operators import pipeline as P

    docs = _docs(spark, sf_dir)
    metrics = P.gopher_doc_metrics(docs)
    return P.dq_audit(metrics, GOPHER_CHECKS)


def _gopher_arm(name: str, pass_pred: str) -> str:
    return f"""
SELECT '{name}' AS check_name,
       CAST(count(*) FILTER (WHERE NOT ({pass_pred})) AS BIGINT) AS n_violations,
       (count(*) FILTER (WHERE NOT ({pass_pred})) = 0) AS passed
FROM m"""


_GOPHER_SQL = (
    """
WITH w AS (
  SELECT doc_id, unnest(list_filter(str_split(trim(text), ' '), t -> t <> '')) AS tok
  FROM documents
),
tc AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY 1, 2),
m AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         CAST(sum(c * len(tok)) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
           AS mean_word_len,
         CAST(sum(CASE WHEN tok IN ('a', 'the') THEN c ELSE 0 END) AS DOUBLE)
           / CAST(sum(c) AS DOUBLE) AS stopword_frac,
         CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_frac,
         CAST(sum(CASE WHEN regexp_matches(tok, '^[a-z0-9]+$') THEN 0 ELSE c END)
              AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS symbol_word_frac
  FROM tc GROUP BY 1
)
SELECT * FROM ("""
    + "\nUNION ALL".join(_gopher_arm(n, p) for n, p in sorted(GOPHER_CHECKS.items()))
    + """
) arms ORDER BY check_name
"""
)

QUERIES["text_gopher_quality_audit"] = text_gopher_quality_audit
ORACLES["text_gopher_quality_audit"] = _GOPHER_SQL


TFIDF_TOPK = 5
# idf fragment shared textually with the oracle: smoothed ln((N+1)/(df+1)).
# ln is faithfully- (not correctly-) rounded, but both engines' libms have
# agreed bit-for-bit on every registered ln-scoring row since r06 (BM25,
# bigram LM — driver-green); ties between DIFFERENT terms with equal
# (tf, df) produce the identical double both sides and fall to the term
# tie-break, so selection cannot flip on a rounding edge.
_TFIDF_SCORE = (
    "CAST(tf AS DOUBLE) * ln((CAST(n AS DOUBLE) + 1.0e0)"
    " / (CAST(df AS DOUBLE) + 1.0e0))"
)


def text_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (r12): the 5 highest
    tf·idf terms of each document over the whitespace/lowercase token
    contract shared with text_vocab_topk, idf smoothed as
    ln((N+1)/(df+1)) — the classic representative-terms primitive
    (doc tagging, cluster labeling, near-dup explanations) beside the
    query-scoring BM25 family. Scale shape: one explode feeds BOTH the
    per-doc tf aggregate and the distinct-doc df aggregate (grouped,
    map-side combinable, no collect); scoring is a broadcast-joinable
    df lookup + a doc_id-partitioned window for the top-k — never a
    global sort. Emitted score is round(·, 9) like every float-scoring
    text row."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = (
        tok.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.expr(_TFIDF_SCORE))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", F.round("score", 9).alias("score"))
        .orderBy("doc_id", "term")
    )


_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM (SELECT DISTINCT doc_id, term FROM tok) dd GROUP BY term),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, {_TFIDF_SCORE} AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN nn
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rk
  FROM s
)
SELECT doc_id, term, tf, df, round(score, 9) AS score
FROM r WHERE rk <= {TFIDF_TOPK} ORDER BY doc_id, term
"""

QUERIES["text_tfidf_topk_terms"] = text_tfidf_topk_terms
ORACLES["text_tfidf_topk_terms"] = _TFIDF_SQL


PMI_MIN_COUNT = 5
PMI_TOPK = 50
# num/den as doubles (identical expression text both engines; every mult
# and the division are correctly rounded, so the input to ln is
# bit-equal): BIGINT products would overflow at corpus scale (cb*N^2
# with N ~ 1e12 tokens), doubles never do.
_PMI_MICRO = (
    "CAST(round(ln((CAST(cab AS DOUBLE) * CAST(nn AS DOUBLE)"
    " * CAST(nn AS DOUBLE)) / (CAST(mm AS DOUBLE) * CAST(na AS DOUBLE)"
    " * CAST(nb AS DOUBLE))) * 1000000.0e0, 0) AS BIGINT)"
)


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation extraction (r12): the 50
    strongest adjacent-token collocations of the lowercased corpus —
    PMI = ln(p(ab) / (p(a)p(b))) over bigram/unigram frequencies, the
    classic phrase-mining primitive (Church & Hanks 1990) beside the
    bigram LM (which conditions, where PMI normalizes). Count floor 5
    kills the hapax-pair artifact (a once-seen pair of rare tokens
    maxes raw PMI). Micro-scaled single-rounded ln per the bigram-LM
    determinism note; selection orders on the INTEGER micro score with
    the bigram as tie-break, so a libm ulp cannot flip the top-k.

    Scale: two grouped counts + two count-table joins (AQE broadcasts
    the aggregated sides — the skew note on text_bigram_lm_scores) and
    one TakeOrdered."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", T.words(F.lower(F.col("text"))).alias("toks"))
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                    ),
                ),
            ).otherwise(F.array())
        ).alias("bg")
    )
    unigrams = toks.select(F.explode("toks").alias("w"))
    uc = unigrams.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    nn = unigrams.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    bc = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_COUNT)
    )
    mm = bigrams.agg(F.count(F.lit(1)).cast("long").alias("mm"))
    ua = uc.select(F.col("w").alias("token_a"), F.col("cu").alias("na"))
    ub = uc.select(F.col("w").alias("token_b"), F.col("cu").alias("nb"))
    return (
        bc.withColumn("token_a", F.split("bg", " ")[0])
        .withColumn("token_b", F.split("bg", " ")[1])
        .join(ua, "token_a")
        .join(ub, "token_b")
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(mm))
        .select(
            "token_a",
            "token_b",
            F.col("cab").alias("n_ab"),
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.expr(_PMI_MICRO).alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "token_a", "token_b")
        .limit(PMI_TOPK)
    )


_PMI_SQL = f"""
WITH t AS (
  SELECT doc_id, str_split_regex(lower(text), '\\s+') AS toks FROM documents
), bg AS (
  SELECT unnest(CASE WHEN len(toks) >= 2
           THEN list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])
           ELSE CAST([] AS VARCHAR[]) END) AS bg
  FROM t
), uni AS (SELECT unnest(toks) AS w FROM t),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY w),
nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM uni),
bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cab
       FROM bg GROUP BY bg HAVING count(*) >= {PMI_MIN_COUNT}),
mm AS (SELECT CAST(count(*) AS BIGINT) AS mm FROM bg),
j AS (
  SELECT str_split(bc.bg, ' ')[1] AS token_a,
         str_split(bc.bg, ' ')[2] AS token_b,
         bc.cab, ua.cu AS na, ub.cu AS nb, nn.nn, mm.mm
  FROM bc
  JOIN uc ua ON str_split(bc.bg, ' ')[1] = ua.w
  JOIN uc ub ON str_split(bc.bg, ' ')[2] = ub.w
  CROSS JOIN nn CROSS JOIN mm
)
SELECT token_a, token_b, cab AS n_ab, na AS n_a, nb AS n_b,
       {_PMI_MICRO} AS pmi_micro
FROM j
ORDER BY pmi_micro DESC, token_a, token_b LIMIT {PMI_TOPK}
"""

QUERIES["text_pmi_collocations"] = text_pmi_collocations
ORACLES["text_pmi_collocations"] = _PMI_SQL


def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (r12): the model-eval artifact over
    the stopword-argmax classifier — one row per (true lang, predicted
    lang) with the count, the row-normalized confusion fraction
    (n / n_true), and global accuracy riding every row. The eval-
    harness companion to eval_retrieval_label_metrics for the text
    side: exact integer counts, two correctly-rounded divisions. Built
    ON the registered classifier (same hit fragments), so a classifier
    change shows here as a matrix shift, not a silent drift."""
    preds = text_language_id(spark, sf_dir).select("lang", "pred_lang")
    cm = preds.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    n_true = preds.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("__nt")
    )
    acc = preds.agg(
        F.expr(
            "round(CAST(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END)"
            " AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)"
        ).alias("accuracy")
    )
    return (
        cm.join(n_true, "lang")
        .crossJoin(F.broadcast(acc))
        .select(
            F.col("lang").alias("true_lang"),
            "pred_lang",
            "n",
            F.expr("round(CAST(n AS DOUBLE) / CAST(__nt AS DOUBLE), 9)").alias(
                "row_frac"
            ),
            "accuracy",
        )
        .orderBy("true_lang", "pred_lang")
    )


_LANGID_CONF_SQL = f"""
WITH preds AS ({ORACLES["text_language_id"]}),
cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       FROM preds GROUP BY lang, pred_lang),
nt AS (SELECT lang, CAST(count(*) AS BIGINT) AS __nt
       FROM preds GROUP BY lang),
acc AS (SELECT round(CAST(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS accuracy
        FROM preds)
SELECT cm.lang AS true_lang, cm.pred_lang, cm.n,
       round(CAST(cm.n AS DOUBLE) / CAST(nt.__nt AS DOUBLE), 9) AS row_frac,
       acc.accuracy
FROM cm JOIN nt USING (lang) CROSS JOIN acc
ORDER BY true_lang, pred_lang
"""

QUERIES["text_langid_confusion"] = text_langid_confusion
ORACLES["text_langid_confusion"] = _LANGID_CONF_SQL
