"""Deduplication operators — the LLM-pipeline surface the north star mandates
([NOT IN REFERENCE]; the reference's only dedup is the id-upsert at
executor.py:154-161, generalized here to content-based identity).

All hashing is derived from md5 (functions/text.py hash32) so every operator
has an exact DuckDB oracle — no engine-specific hash functions, no RNG at
query time. MinHash coefficients are fixed module constants.

Scale design (100 TB):
- exact dedup: one shuffle on the content hash (not the full text);
- MinHash-LSH: signatures are computed scan-side in one Arrow kernel
  pass (minhash_signatures_arrow); the only shuffle is the
  band-bucket self-join, whose fan-out is bounded by bucket size; exact
  jaccard runs only on candidate pairs (LSH prunes the O(n^2) space);
- SimHash: 32-bit signature scan-side; near-pairs via banded prefix join;
- embedding near-dup: label-blocked self-join (the IVF idea: only compare
  within a coarse bucket), distance in codegen.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from executor_u1mindexer_spark import cache
from executor_u1mindexer_spark.functions import text as T
from executor_u1mindexer_spark.functions import vector as V
from executor_u1mindexer_spark.operators import graph as G

TEXT_COL = "text"
ID_COL = "doc_id"
N_SHINGLE = 3

# MinHash universe/coefficients. P is prime > 2^32; a,b < 2^20 keep
# a*h32 + b < 2^52 (exact in int64 AND in double — DuckDB-safe).
MINHASH_P = 4294967311
# b=8 bands x r=4 rows: candidate probability ~ 1-(1-j^4)^8 — steep enough
# that background pairs (j~0.2, word-soup corpora) almost never collide
# (8*0.0016 ~ 1%) while true near-dups (j>=0.8) collide with p~0.99.
# r=2 was measured to produce ~30% collision on background pairs => an
# O(n^2) candidate explosion at sf0.1 (88s); r=4 cuts that ~50x.
N_HASHES = 32
BANDS = 8  # x ROWS_PER_BAND = N_HASHES
ROWS_PER_BAND = 4
_A = [((1103515245 * (i + 1) + 12345) % 1048576) | 1 for i in range(N_HASHES)]
_B = [(69069 * (i + 1) + 1) % 1048576 for i in range(N_HASHES)]


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow-partitioned input out to the session's parallelism.

    A small parquet file arrives as ONE scan partition, which serializes
    the expensive per-doc work (shingle hashing, Arrow kernels) into a
    single task — measured 6.8 s of a 6.9 s sf0.1 jaccard run in one core.
    At real scale inputs already carry >= cores partitions and this is a
    no-op (getNumPartitions inspects the plan, no job)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def content_hash(text_col: Column | str) -> Column:
    """Exact-dedup key: md5 of the raw text (cheap, oracle-identical)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(c)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact duplicate collapse: keep the lowest id per content hash, count
    the copies. One shuffle on the 32-hex hash."""
    h = content_hash(TEXT_COL).alias("text_hash")
    w = Window.partitionBy("text_hash").orderBy(F.col(ID_COL).asc())
    return (
        df.select(F.col(ID_COL), h)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("text_hash")))
        .filter(F.col("rn") == 1)
        .select(F.col(ID_COL).alias("keep_id"), "text_hash", "n_copies")
    )


def minhash_signature(text_col: Column | str) -> Column:
    """k-element MinHash signature over word n-gram shingles.

    sig[i] = min over shingles s of (A[i]*hash32(s) + B[i]) mod P — all in
    nested higher-order functions (array_min . transform), zero UDFs.
    """
    sh = T.word_shingles(F.col(text_col) if isinstance(text_col, str) else text_col, N_SHINGLE)
    hashed = F.transform(sh, T.hash32)
    # One fold over the hashed shingles, updating all k mins per element:
    # md5 runs ONCE per shingle. (The naive k x array_min(transform(...))
    # form textually inlines the shingle+md5 pipeline k times — Catalyst
    # does not CSE across higher-order lambdas — measured 30x slower.)
    a_arr = F.array(*[F.lit(a) for a in _A])
    b_arr = F.array(*[F.lit(b) for b in _B])
    init = F.array_repeat(F.lit(MINHASH_P).cast("long"), N_HASHES)
    return F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (a * h + b) % F.lit(MINHASH_P)),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
) -> DataFrame:
    """Arrow-kernel twin of minhash_signature: identical values (same md5
    hash32, same permutation constants), ~7x faster — Catalyst higher-order
    folds are interpreted, so the 32-permutation fold is the one place in
    this engine where a vectorized Python kernel beats pure expressions.

    Returns (id, sig: array<long>, sh: array<string>) — the distinct
    shingle set rides along so the jaccard-confirm stage never recomputes
    shingles through interpreted HOFs. Both paths are equality-tested.
    """
    a_vec = np.array(_A, dtype=np.uint64)
    b_vec = np.array(_B, dtype=np.uint64)
    ws = re.compile(r"\s+")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs, shs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = ws.split(text)
                if len(toks) >= n_shingle:
                    shingles = {
                        " ".join(toks[i : i + n_shingle])
                        for i in range(len(toks) - n_shingle + 1)
                    }
                else:
                    shingles = {" ".join(toks)}
                hs = np.fromiter(
                    (
                        int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                        for s in shingles
                    ),
                    dtype=np.uint64,
                    count=len(shingles),
                )
                sig = (a_vec[None, :] * hs[:, None] + b_vec[None, :]) % MINHASH_P
                ids.append(did)
                sigs.append(sig.min(axis=0).astype(np.int64).tolist())
                shs.append(list(shingles))
            yield pd.DataFrame({"id": ids, "sig": sigs, "sh": shs})

    return _spread(df.select(id_col, text_col)).mapInPandas(
        kernel, schema="id long, sig array<long>, sh array<string>"
    )


def lsh_band_keys(sig_col: Column) -> Column:
    """Band the signature: BANDS string keys of ROWS_PER_BAND sig values.
    Equal band key => candidate pair (standard LSH banding).

    Built with transform+slice so `sig_col` appears in the expression tree
    EXACTLY ONCE: the getItem-per-value formulation duplicates the whole
    upstream signature aggregate once per extracted value (Catalyst does
    not CSE across lambda boundaries) — measured 100x slower.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda band: F.array_join(
            F.slice(sig_col, band * ROWS_PER_BAND + 1, ROWS_PER_BAND).cast("array<string>"),
            ",",
        ),
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact jaccard confirm.

    (a) signature+bands scan-side; (b) explode bands, self-join on
    (band_idx, band_key) CARRYING ONLY IDS — the heavy shingle arrays never
    ride the shuffle; (c) distinct candidate pairs; (d) join shingles back
    and exact-jaccard-confirm only those. Output (id_a < id_b, jaccard).
    """
    # one kernel pass yields signatures AND shingle sets; materialize it so
    # the banding branch and the jaccard-confirm branch don't each rerun it
    both = cache.materialize(
        minhash_signatures_arrow(df, id_col=ID_COL, text_col=TEXT_COL, n_shingle=N_SHINGLE)
    )
    sig_df = both.select("id", "sig")
    shingled = both.select("id", "sh")
    banded = sig_df.select(
        "id", F.posexplode(lsh_band_keys(F.col("sig"))).alias("band_idx", "band_key")
    )
    # bucket-group pair expansion: ONE aggregation over the banded rows
    # (a banded self-join would evaluate the signature pipeline twice and
    # shuffle it twice). Buckets are small by construction (r=4 banding),
    # so the per-bucket m^2 expansion is bounded.
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
        / F.size(F.array_union(F.col("a.sh"), F.col("b.sh"))).cast("double")
    )
    return (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str | None = "lang",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram jaccard over blocked pairs (the non-approximate
    baseline; block_col bounds the quadratic fan-out, the classic
    blocking-key trick)."""
    # Inverted-index formulation (the scalable exact-jaccard join): explode
    # hashed shingles, equi-join postings on (block, shingle), count shared
    # shingles per pair = |intersection|, then |union| = n_a + n_b - i
    # arithmetically. Everything is codegen'd hash joins + hash aggregates —
    # no per-pair array set ops (the blocked n^2 array_intersect version was
    # measured at 164s @sf0.1; this runs in a few seconds). Fan-out is
    # bounded by per-shingle document frequency, and pairs sharing zero
    # shingles never materialize at all (they can't reach any threshold).
    proj = _spread(
        df.select(
            F.col(ID_COL).alias("id"),
            *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
            F.col(TEXT_COL).alias("__text"),
        )
    )
    base = proj.select(
        "id",
        "blk",
        F.array_distinct(
            F.transform(T.word_shingles(F.col("__text"), N_SHINGLE), T.hash32)
        ).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    # the self-join's sharing point: exchange reuse does NOT fire across
    # join aliases (alias resolution re-ids the subtrees), so without it
    # BOTH sides recompute scan+shingle+hash+explode
    postings = cache.materialize(
        base.select("id", "blk", "n_sh", F.explode("sh").alias("h"))
        .repartition(F.col("blk"), F.col("h"))
    )
    a, b = postings.alias("a"), postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i")).cast("double")
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_prefix_pairs(df: DataFrame) -> DataFrame:
    """Asymmetric near-SUPERSET pairs by prefix filtering (the SSJoin /
    PPJoin device, Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08):
    containment C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| >= t — the dedup case
    symmetric jaccard structurally misses (a short doc quoted inside a
    long one has tiny jaccard however perfect the overlap), and the LSH
    banding misses with it (banding recalls high-JACCARD pairs only).

    Prefix theorem: if |a∩b| >= ceil(t*n_a), then b must hit a's prefix —
    the first n_a - ceil(t*n_a) + 1 shingles of a under ANY fixed global
    order — else |a∩b| <= n_a - prefix_len = ceil(t*n_a) - 1. So joining
    only PREFIX postings of the contained side against FULL postings of
    the container side is lossless for the threshold, and ordering the
    prefix by ascending global document frequency (rarest first) makes
    the joined posting lists the SHORTEST ones — that choice is pure
    optimization, correctness never depends on it.

    Exactness: the threshold is the rational 4/5; required
    overlap = ceil(t*n) = (4*n + 4) DIV 5 in both
    engines, and the reported containment i/n_a is one int/int IEEE-754
    division — bit-exact cross-engine.

    Scale shape (100 TB): doc frequency is one groupBy(h) count; the
    frequency join, the prefix rank (a window PARTITIONED by doc id),
    and the prefix⋈full posting join all shuffle on the SAME keys the
    posting join needs anyway; the quadratic confirm runs only on
    candidates, with |prefix| = (1-t)*n + 1 per doc (5x fewer probe
    postings at t=0.8 than a full self-join) and the rare-first order
    keeping per-posting fan-out minimal."""
    proj = _spread(df.select(F.col(ID_COL).alias("id"), F.col(TEXT_COL).alias("__text")))
    base = cache.materialize(
        proj.select(
            "id",
            F.array_distinct(
                F.transform(T.word_shingles(F.col("__text"), N_SHINGLE), T.hash32)
            ).alias("sh"),
        ).withColumn("n_sh", F.size("sh"))
    )
    post = base.select("id", "n_sh", F.explode("sh").alias("h"))
    dfreq = post.groupBy("h").agg(F.count(F.lit(1)).alias("dfc"))
    postf = post.join(dfreq, "h")
    # required overlap and prefix length, integer-exact
    req = F.expr("CAST((4 * n_sh + 4) DIV 5 AS INT)")  # ceil(0.8 * n_sh)
    w = Window.partitionBy("id").orderBy(F.col("dfc").asc(), F.col("h").asc())
    prefix = (
        postf.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("n_sh") - req + 1)
        .select(F.col("id").alias("id_a"), "h")
    )
    cand = (
        prefix.join(post.select(F.col("id").alias("id_b"), "h"), "h")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    i = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            i.cast("long").alias("n_shared"),
            (i.cast("double") / F.col("n_a").cast("double")).alias("containment"),
        )
        .filter(F.col("n_shared") * 5 >= F.col("n_a") * 4)
    )


def simhash32(text_col: Column | str) -> Column:
    """32-bit SimHash of the whitespace tokens — pure SQL higher-order
    functions (shiftright with a non-foldable shift is valid Spark SQL even
    though the Python F.shiftright wrapper only takes ints)."""
    name = text_col if isinstance(text_col, str) else None
    assert name is not None, "simhash32 needs a column name for the SQL expression"
    # the token hash array is bound ONCE via the single-element-array
    # transform (functions.text.let1 in SQL form) — the r06 original
    # embedded the split+md5 transform inside the per-bit lambda, re-
    # hashing every token 32 times per document (r09)
    return F.expr(
        f"""
        element_at(transform(
          array(transform(split({name}, ' '),
                          w -> CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT))),
          hs -> aggregate(
            transform(sequence(0, 31), j ->
              CASE WHEN aggregate(
                     hs,
                     0L,
                     (acc, h) -> acc + CASE WHEN (h DIV CAST(pow(2, j) AS BIGINT)) % 2 = 1
                                            THEN 1 ELSE -1 END) > 0
                   THEN CAST(pow(2, j) AS BIGINT) ELSE 0L END),
            0L, (acc, x) -> acc + x)), 1)
        """
    )


def simhash32_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Arrow-kernel twin of simhash32 — identical values (same md5-prefix
    word hashes, same ±1 bit votes), vectorized over the token hash matrix.
    Returns (id, simhash). Equality-tested against the expression path."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_weights = (1 << np.arange(32, dtype=np.int64))
        for pdf in batches:
            ids, sims = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.split(" ") if text else [""]
                hs = np.fromiter(
                    (int(hashlib.md5(w.encode()).hexdigest()[:8], 16) for w in toks),
                    dtype=np.uint32,
                    count=len(toks),
                )
                bits = (hs[:, None] >> np.arange(32)) & 1  # (n_toks, 32)
                votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                sims.append(int((bit_weights * (votes > 0)).sum()))
                ids.append(did)
            yield pd.DataFrame({"id": ids, "simhash": sims})

    return _spread(df.select(id_col, text_col)).mapInPandas(
        kernel, schema="id long, simhash long"
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: candidates share one of the banded bit
    chunks (4 x 8-bit bands => any pair within hamming distance 3 shares at
    least one exact band — pigeonhole), then exact hamming filter.

    Candidate generation is the bounded BUCKET-GROUP expansion (same shape
    as minhash_lsh_pairs / embedding_near_dup_pairs, unified in r03): one
    aggregation over the banded rows, per-bucket pair expansion. The r02
    banded SELF-join computed the signature pipeline twice, shuffled it
    twice, and a hot (band_idx, band_val) (degenerate/short texts collapse
    to few simhash values) produced its m² join rows through the join
    operator; here a hot bucket is a single collect_list whose m² expansion
    is the pair OUTPUT itself — near-dup pairs among m identical docs are
    inherently m², so the expansion is the floor, not overhead."""
    sim = simhash32_arrow(df, id_col=ID_COL, text_col=TEXT_COL)
    n_bands = 32 // 8
    bands = F.array(
        *[
            ((F.col("simhash") / F.lit(2 ** (8 * i))).cast("long")
             % F.lit(2 ** 8)).alias(f"b{i}")
            for i in range(n_bands)
        ]
    )
    banded = sim.select("id", "simhash", F.posexplode(bands).alias("band_idx", "band_val"))
    # struct sort orders by leading field `id`, so slice(i+2,...) yields
    # id_a < id_b pairs without a join
    buckets = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["simhash"].alias("sim_a"),
                    y["simhash"].alias("sim_b"),
                ),
            ),
        )
    )
    # hamming via popcount of xor: bit_count is native in both engines
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.sim_a", "p.sim_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def benchmark_contamination(
    train: DataFrame,
    bench: DataFrame,
    n_shingle: int = 8,
) -> DataFrame:
    """Benchmark decontamination — the standard LLM-training hygiene step:
    a training doc is contaminated if it shares at least one word n-gram
    with ANY benchmark doc. Returns (id, n_shared_shingles) for the
    contaminated docs.

    Plan shape: the benchmark shingle set is small by definition (eval sets
    are thousands of docs, not billions) — distinct hashed shingles
    broadcast, so the TRAINING corpus never shuffles: explode + broadcast
    hash join + partial-aggregated count, all codegen.

    The broadcast hint is GATED on a measured count (one cheap job over the
    small side): an unexpectedly large benchmark (> 20M
    distinct 8-grams, ~160 MB of longs) degrades to a plain shuffled
    equi-join instead of OOMing executors or tripping the broadcast limit."""
    t = _spread(train.select(ID_COL, TEXT_COL)).select(
        F.col(ID_COL).alias("id"),
        F.explode(
            F.transform(T.word_shingles(F.col(TEXT_COL), n_shingle), T.hash32)
        ).alias("h"),
    )
    b = (
        _spread(bench.select(TEXT_COL))
        .select(
            F.explode(
                F.transform(T.word_shingles(F.col(TEXT_COL), n_shingle), T.hash32)
            ).alias("h")
        )
        .distinct()
    )
    n_bench_shingles = b.count()
    b_side = F.broadcast(b) if n_bench_shingles <= 20_000_000 else b
    return (
        t.join(b_side, on="h")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .select(F.col("id").alias(ID_COL), "n_shared_shingles")
    )


# Banded sign-LSH for embedding near-dup: EMB_BANDS hash tables of
# EMB_ROWS_PER_BAND fixed hyperplanes each (seeded — NOT query-time
# randomness; dim matches the fixture embedding tables). A pair is a
# candidate when ANY band agrees (union-of-bands boosts recall exactly like
# MinHash banding); each band splits a block into 2^EMB_ROWS_PER_BAND
# buckets, so per-bucket pair expansion is ~(n/(blocks·16))² per band —
# bounded, never block-wide n².
EMB_BANDS = 4
EMB_ROWS_PER_BAND = 4
EMB_PLANE_DIM = 64
_emb_rng = np.random.RandomState(7)
EMB_PLANES: list[list[list[float]]] = [
    [
        [round(float(x), 6) for x in _emb_rng.uniform(-1.0, 1.0, EMB_PLANE_DIM)]
        for _ in range(EMB_ROWS_PER_BAND)
    ]
    for _ in range(EMB_BANDS)
]


def _sign_band_bucket(vec_col: Column, band: list[list[float]]) -> Column:
    """Bucket id within one band: integer of sign bits of <v, plane_i>."""
    out = None
    for i, p in enumerate(band):
        plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(V.dot(vec_col, plane) >= 0, F.lit(2**i)).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out


def embedding_near_dup_pairs(
    emb: DataFrame,
    block_col: str | None = "label",
    max_cos_dist: float = 0.2,
) -> DataFrame:
    """Embedding-cosine near-duplicates via banded sign-LSH.

    r01 shape was all-pairs within a label block — quadratic when a label
    is popular. Now the label is only a SECONDARY block: candidates must
    also share a sign-LSH bucket in at least one of EMB_BANDS hash tables,
    and only candidate pairs get the exact cosine confirm. Recall < 1 by
    LSH design (a near pair hashing apart in every band is missed) — the
    standard trade for bounded cost; the oracle mirrors the exact same
    bucketing so the check is bit-deterministic.
    """
    base = _spread(
        emb.select(
            F.col("vec_id").alias("id"),
            *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
            V.as_double_array("embedding").alias("v"),
        )
    ).withColumn("n", V.norm(F.col("v")))  # norm once per row, not per pair
    buckets_arr = F.array(*[_sign_band_bucket(F.col("v"), band) for band in EMB_PLANES])
    banded = base.select(
        "id", "blk", F.posexplode(buckets_arr).alias("band_idx", "bkt")
    )
    # bucket-group pair expansion (same shape as minhash_lsh_pairs): ids-only
    # shuffle, per-bucket m² bounded by the 16-way band split
    grouped = (
        banded.groupBy("blk", "band_idx", "bkt")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = base.select("id", "v", "n")
    a, b = vecs.alias("a"), vecs.alias("b")
    dist = F.lit(1.0) - V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    return (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select("id_a", "id_b", dist.alias("cos_dist"))
        .filter(F.col("cos_dist") <= max_cos_dist)
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    quality_col: str | None = None,
) -> DataFrame:
    """Near-dup CLUSTERING + canonical-doc selection — the keep-list step a
    real dedup pipeline ends with: detector pairs (minhash/simhash/
    embedding) define an undirected graph; each connected component is one
    duplicate cluster; exactly one doc per cluster survives.

    Returns (doc_id, cluster_id, cluster_size, is_canonical) for EVERY doc
    (unpaired docs are singleton clusters of themselves). cluster_id = the
    component's min doc id. The canonical doc is the cluster's best by
    ``quality_col`` (ties → lowest id), or the lowest id when no quality
    column is given — "keep the longest copy" is the usual corpus-hygiene
    policy.

    Components come from graph.connected_components (large-star/
    small-star contraction, O(log^2 n) rounds), run ONLY over the
    pair-touched node set — the corpus never enters the loop; unpaired
    docs join in once at the end as singletons. It raises if it does not
    converge, so a long near-dup chain can never come back split.

    100 TB design: the dominant data (unpaired corpus) is touched exactly
    once by a left join; the loop shuffles only detector-paired ids (a
    tiny fraction of the corpus by construction). Cluster windows
    partition by cluster id (cluster sizes are detector-bounded).
    """
    labels = G.connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).select(F.col("node").alias("id"), F.col("component").alias("label"))
    all_ids = docs.select(F.col(ID_COL).cast("long").alias("id"))
    out = all_ids.join(labels, on="id", how="left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )
    if quality_col is not None:
        q = docs.select(
            F.col(ID_COL).cast("long").alias("id"), F.col(quality_col).alias("__q")
        )
        out = out.join(q, on="id")
        w = Window.partitionBy("label").orderBy(F.col("__q").desc(), F.col("id").asc())
    else:
        w = Window.partitionBy("label").orderBy(F.col("id").asc())
    wc = Window.partitionBy("label")
    return out.select(
        F.col("id").alias(ID_COL),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def span_dedup(df: DataFrame, *, span_words: int = 5) -> DataFrame:
    """Span-level exact dedup — the CCNet-style "drop duplicated paragraphs
    but keep the document" pass (Wenzek et al. 2020), fixture-adapted: the
    corpus has no newlines, so a "paragraph" is a fixed non-overlapping
    ``span_words``-word window. Every span whose exact text occurred
    earlier in the corpus is removed (first occurrence wins, ordered by
    (doc_id, span_idx)); the cleaned document is reassembled in span order.

    Returns (doc_id, clean_text, n_spans, n_dropped) for EVERY input doc —
    a fully-deduplicated doc comes back with clean_text = ''.

    At 100 TB: spans are derived by array slicing (no word-level explode —
    one row per span, not per word); the only shuffles are the span-text
    grouped-min (span text travels exactly once into the aggregate) and the
    doc_id reassembly. The first-occurrence rule is a lexicographic min
    over struct(doc_id, span_idx) — orderable structs, so it is exact for
    the FULL long id domain and any document length (an arithmetic
    id*K+idx packing would silently mis-order past its K bound); no window
    over a global ordering exists anywhere. NULL text is treated as ''
    (the doc still gets its output row, per the every-doc contract).
    [NOT IN REFERENCE — executor.py has no text surface.]
    """
    df = _spread(df)  # per-doc span build; 1-split fixture input
    spans = T.let1(
        F.split(F.coalesce(F.col(TEXT_COL), F.lit("")), " "),
        lambda words: F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(words) / F.lit(span_words)).cast("int") - 1,
            ),
            lambda i: F.array_join(
                F.slice(words, i * span_words + 1, span_words), " "
            ),
        ),
    )
    exploded = df.select(
        F.col(ID_COL), F.posexplode(spans).alias("span_idx", "span")
    ).withColumn("occ", F.struct(F.col(ID_COL), F.col("span_idx")))
    firsts = exploded.groupBy("span").agg(F.min("occ").alias("first_occ"))
    kept = exploded.join(firsts, "span").withColumn(
        "keep", F.col("occ") == F.col("first_occ")
    )
    surviving = F.when(
        F.col("keep"), F.struct(F.col("span_idx"), F.col("span"))
    )
    return kept.groupBy(ID_COL).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(surviving)), lambda s: s["span"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_spans"),
        F.count(F.when(~F.col("keep"), F.lit(1))).alias("n_dropped"),
    )


def duplicated_span_profile(df: DataFrame, *, k: int = 8) -> DataFrame:
    """Substring-level exact dedup profile (r15, VERDICT r14 #4a) — the
    suffix-array-style duplicated-span family member (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    every VERBATIM k-token span that occurs in MORE THAN ONE document,
    at ANY offset, and merge per-document overlapping/adjacent hits
    into maximal duplicated regions ("islands"). This is the discipline
    the fixed non-overlapping grid of span_dedup (CCNet paragraphs)
    cannot express: a verbatim run straddling two grid cells is
    invisible there, while every k-token window sees it here.

    Per document WITH at least one cross-doc duplicated span, returns
    (doc_id, n_dup_spans, dup_tokens, total_tokens, dup_fraction_micro)
    where n_dup_spans counts maximal islands (consecutive duplicated
    start positions merged while the gap <= k, i.e. while spans overlap
    or touch), dup_tokens the tokens those islands cover, and
    dup_fraction_micro the exact integer 1e6*dup_tokens DIV
    total_tokens.

    At 100 TB: overlapping spans are built by array slicing + ONE
    posexplode of the per-doc shingle array (n_tokens rows per doc —
    inherent to any-offset matching; Lee et al.'s suffix array owns the
    same linear blow-up); the cross-doc test is min(doc)!=max(doc) over
    a groupBy(shingle) — two map-side-combinable aggregates, no count
    distinct — and the islands merge is per-doc windows (parallel by
    document). At that scale the shuffle key would be xxhash64(shingle)
    with the string riding only for in-bucket verification; at fixture
    scale the exact string IS the key, which keeps the oracle replay
    byte-exact. [NOT IN REFERENCE — executor.py has no text surface.]
    """
    df = _spread(df)
    words = F.split(F.coalesce(F.col(TEXT_COL), F.lit("")), " ")
    shingles = T.let1(
        words,
        lambda ws: F.when(
            F.size(ws) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - F.lit(k)),
                lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    occ = df.select(
        F.col(ID_COL),
        F.size(words).alias("total_tokens"),
        F.posexplode(shingles).alias("start_pos", "shingle"),
    )
    # cross-doc duplicated shingles: present in >= 2 distinct docs <=>
    # min(doc) != max(doc) — map-side-combinable, no count-distinct
    dup = (
        occ.groupBy("shingle")
        .agg(F.min(ID_COL).alias("__lo"), F.max(ID_COL).alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("shingle")
    )
    # explicit hint: the pinned BroadcastHashJoin shape must not depend
    # on the optimizer's size estimate of a post-aggregation frame
    # (ADVICE r15). The dup set is the bounded side — corpus-duplicated
    # shingles only — and losing the broadcast here would shuffle every
    # shingle string corpus-wide.
    hits = occ.join(F.broadcast(dup), "shingle", "leftsemi")
    w = Window.partitionBy(ID_COL).orderBy("start_pos")
    islands = hits.withColumn(
        "__new",
        F.when(
            F.col("start_pos") - F.lag("start_pos").over(w) > k, 1
        ).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = islands.groupBy(ID_COL, "total_tokens", "__island").agg(
        (F.max("start_pos") - F.min("start_pos") + F.lit(k)).alias("__covered")
    )
    return (
        per_island.groupBy(ID_COL, "total_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum("__covered").cast("long").alias("dup_tokens"),
        )
        .select(
            ID_COL,
            "n_dup_spans",
            "dup_tokens",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.expr(
                "CAST(1000000 * dup_tokens DIV total_tokens AS BIGINT)"
            ).alias("dup_fraction_micro"),
        )
        .orderBy(ID_COL)
    )


def edit_distance_pairs(df: DataFrame, d: int = 2, key_len: int = 48) -> DataFrame:
    """Edit-distance similarity join (r11): all unordered pairs whose
    dedup keys — the first ``key_len`` characters of ``text`` — are
    within Levenshtein distance ``d``. The tenth near-dup family member,
    and the one the shingle/minhash/simhash lanes structurally miss:
    character-level typo/OCR variants keep ED tiny while every 3-word
    shingle containing the edit changes, so at realistic thresholds
    token-shingle jaccard/containment never fires on them.

    Candidate filter is the PassJoin pigeonhole (Li, Deng, Wang, Feng,
    ICDE'11 'PASS-JOIN: a partition-based method for similarity joins'):
    split a's key into d+1 contiguous segments (even split, the last
    ``len % (d+1)`` segments one char longer); at most d edits can touch
    at most d segments, so at least ONE segment of a survives VERBATIM
    in b, shifted by at most d positions. Joining a's d+1 segments
    against b's generated substrings — for each source length l in
    [len_b - d, len_b + d], the segment shape for l, extracted at every
    start within +-d of the segment's home position — is therefore
    LOSSLESS for the threshold (pinned against brute force in pytest);
    Levenshtein runs only on candidates.

    Policy: keys shorter than d+1 characters are dropped (they cannot
    form d+1 non-empty segments; at d=2 that is only sub-3-char texts).
    Ties to no global order — output is the canonical (id_a < id_b) pair
    set with the exact distance.

    Scale shape (100 TB): O(d) segment rows and O(d^2 * (2d+1)) substring
    rows per doc — constants, not corpus factors — shuffled once on the
    (source_len, seg_idx, seg_str) signature the join needs; the O(n^2)
    verify runs only on pigeonhole survivors, and the key cap bounds
    every Levenshtein at key_len^2 cells."""
    k = d + 1
    base = cache.materialize(
        df.select(
            F.col(ID_COL).alias("id"),
            F.substring(F.col(TEXT_COL), 1, key_len).alias("s"),
        )
        .withColumn("len", F.length("s"))
        .filter(F.col("len") >= k)
    )

    def seg_bounds(total: Column, i: Column) -> tuple[Column, Column]:
        # even split of `total` chars into k segments: the first
        # k - (total % k) segments are total DIV k chars, the rest one
        # longer; 1-indexed start positions (integer division throughout)
        bl = F.floor(total / k).cast("int")
        rem = (total % k).cast("int")
        slen = bl + F.when(i >= k - rem, 1).otherwise(0)
        start = 1 + i * bl + F.greatest(F.lit(0), i - (k - rem))
        return start.cast("int"), slen.cast("int")

    idx = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")

    # side A: each key's own k segments at their home positions
    seg = base.select("id", "len", "s", idx)
    a_start, a_len = seg_bounds(F.col("len"), F.col("i"))
    side_a = seg.select(
        F.col("id").alias("id_a"),
        F.col("len").alias("src_len"),
        "i",
        F.col("s").substr(a_start, a_len).alias("seg_str"),
    )

    # side B: for every plausible source length l and segment index, the
    # substrings of b within +-d of that segment's home position
    lens = base.withColumn(
        "l",
        F.explode(
            F.sequence(F.greatest(F.lit(k), F.col("len") - d), F.col("len") + d)
        ),
    )
    subs = lens.select("id", "len", "s", "l", idx)
    b_start, b_len = seg_bounds(F.col("l"), F.col("i"))
    lo = F.greatest(F.lit(1), b_start - d)
    hi = F.least(F.col("len") - b_len + 1, b_start + d)
    side_b = (
        subs.withColumn("__lo", lo)
        .withColumn("__hi", hi)
        .filter(F.col("__lo") <= F.col("__hi"))
        .withColumn("p", F.explode(F.sequence("__lo", "__hi")))
        .select(
            F.col("id").alias("id_b"),
            F.col("l").alias("src_len"),
            "i",
            F.col("s").substr(F.col("p"), b_len).alias("seg_str"),
        )
    )

    cand = (
        side_a.join(side_b, ["src_len", "i", "seg_str"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("s_a", "s_b").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= d)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------ sorted neighborhood (r12)


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo,
    SIGMOD'95): sort records by a fuzzy key (the first 24 characters of
    the lowercased text), slide a window of ``window`` rows, and verify
    only pairs that fall inside the window — the third classic blocking
    discipline beside hash blocking (lang blocks in ngram_jaccard_pairs)
    and LSH banding. Candidates are O(n·(window−1)) — LINEAR in the
    corpus, the method's selling point; its documented miss is a
    near-dup pair whose keys sort far apart (e.g. a different first
    word), which the MinHash row catches — the two rows are
    complementary, which is why both exist.

    This is the BLOCKED form: the sort+window runs per key-prefix block
    (first 4 characters), so it is parallel across blocks and never
    a SinglePartition window; pairs straddling a block boundary are the
    hybrid form's stated miss (Hernández & Stolfo run multi-pass with
    different keys for the same reason). Verification is exact hashed-
    shingle jaccard on the candidate pairs only."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from pyspark.sql import Window as W

    key = F.substring(F.lower(F.col(TEXT_COL)), 1, 24)
    base = _spread(
        df.filter(F.col(TEXT_COL).isNotNull()).select(
            F.col(ID_COL).alias("id"),
            key.alias("__key"),
            F.array_distinct(
                F.transform(T.word_shingles(F.col(TEXT_COL), N_SHINGLE), T.hash32)
            ).alias("sh"),
        )
    ).withColumn("__blk", F.substring("__key", 1, 4)).withColumn(
        "n_sh", F.size("sh")
    )
    base = cache.materialize(base)
    w = W.partitionBy("__blk").orderBy("__key", "id")
    neigh = base.select(
        "id",
        "__blk",
        "__key",
        *[
            F.lead("id", j).over(w).alias(f"__n{j}")
            for j in range(1, window)
        ],
    )
    pairs = None
    for j in range(1, window):
        p = neigh.filter(F.col(f"__n{j}").isNotNull()).select(
            F.least("id", F.col(f"__n{j}")).alias("id_a"),
            F.greatest("id", F.col(f"__n{j}")).alias("id_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    a = base.select(
        F.col("id").alias("id_a"), F.col("sh").alias("__sha"), F.col("n_sh").alias("n_a")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("sh").alias("__shb"), F.col("n_sh").alias("n_b")
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter).cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
