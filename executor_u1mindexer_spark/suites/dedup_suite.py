"""Dedup suite (north-star LLM-pipeline operators over `documents`).

The fixture has no exact duplicates, so `exact_dedup_text` injects them
deterministically (docs with doc_id < 50 re-appear shifted by +1e9 —
derived purely from fixture data, identical in the oracle). Near-dup
operators run on the raw table, which contains ~25 planted near-pairs
(3-shingle jaccard >= 0.8).

Every oracle replicates the Spark hashing bit-for-bit: hash32 = first 8 md5
hex chars, MinHash coefficients inlined from operators/dedup.py constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.operators import dedup as D

# 1e9 clears any plausible fixture id range (sf1 ~5e4, sf100 ~5e6) so
# injected ids can never collide with real doc_ids at larger scales
DUP_OFFSET = 1_000_000_000
N_DUP = 50


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.filter(F.col("doc_id") < N_DUP).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(shifted)


def exact_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs_with_dups(spark, sf_dir))


def near_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, threshold=0.5)


def near_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, block_col="lang", threshold=0.5)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    # Arrow kernel (value-identical to D.simhash32, equality-tested)
    return D.simhash32_arrow(docs).withColumnRenamed("id", "doc_id")


def near_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return D.simhash_near_pairs(docs, max_hamming=3)


def near_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(emb, block_col="label", max_cos_dist=0.6)


def near_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup KEEP-LIST: minhash-LSH pairs -> connected components ->
    one canonical doc per cluster (longest text wins, ties lowest id).
    The oracle computes the same components with a recursive CTE over the
    identical pair SQL — transitive closure, so any under-iteration or
    contraction bug in the Spark side diverges."""
    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    return D.dedup_clusters(
        docs.select("doc_id", "n_chars"), pairs, quality_col="n_chars"
    ).orderBy("doc_id")


# 2e9 keeps the containment-fixture ids disjoint from both the real id
# range and the exact-dup injection band at 1e9
CONTAIN_OFFSET = 2_000_000_000
N_CONTAIN = 25


def _docs_with_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inject TRUE containment pairs: docs with doc_id < 25 re-appear
    (shifted by +2e9) truncated to their first ceil(n/2) words — every
    word 3-shingle of the half is a shingle of the whole, so
    containment(injected → original) = 1.0 by construction. Derived
    purely from fixture data; the oracle replays the identical slice."""
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    half = docs.filter(F.col("doc_id") < N_CONTAIN).select(
        (F.col("doc_id") + CONTAIN_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(toks, F.lit(1), ((F.size(toks) + 1) / 2).cast("int")), " "
        ).alias("text"),
    )
    return docs.unionByName(half)


def near_dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset dedup (operators/dedup.py
    containment_prefix_pairs, r10): prefix-filtered shingle-containment
    pairs at t = 4/5 over the corpus plus 25 injected true-subset docs.
    The injected (half → whole) pairs land at containment 1.0; the
    planted symmetric near-dups surface in both directions."""
    return D.containment_prefix_pairs(_docs_with_subsets(spark, sf_dir))


# 3e9 keeps the typo-fixture ids disjoint from the real range, the 1e9
# exact-dup band, and the 2e9 containment band
TYPO_OFFSET = 3_000_000_000
ED_SAMPLE_MOD = 8   # doc_id % 8 == 0 -> the ED-join corpus slice
ED_TYPO_MOD = 40    # doc_id % 40 == 0 -> re-injected with two typos


def _docs_with_typos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ED-join fixture: the doc_id % 8 == 0 corpus slice, plus every
    doc_id % 40 == 0 doc re-injected (+3e9) with chars 7 and 29 replaced
    by literals — edit distance <= 2 from its source by construction
    (exactly 2 unless the original char already matched). Pure
    substr/concat so the oracle replays the identical injection."""
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    sample = docs.filter(F.col("doc_id") % ED_SAMPLE_MOD == 0)
    typo = sample.filter(F.col("doc_id") % ED_TYPO_MOD == 0).select(
        (F.col("doc_id") + TYPO_OFFSET).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 6),
            F.lit("@"),
            F.substring(F.col("text"), 8, 21),
            F.lit("#"),
            F.expr("substring(text, 30)"),
        ).alias("text"),
    )
    return sample.unionByName(typo)


def near_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (r11, operators/dedup.py
    edit_distance_pairs): all pairs within Levenshtein 2 on the first
    48 chars, over the sampled corpus plus injected two-typo copies —
    the character-level near-dup lane the token-shingle families
    structurally miss. Spark runs the PassJoin pigeonhole filter; the
    oracle is deliberately the OPPOSITE formulation (brute-force
    length-filtered all-pairs), so a lossy filter diverges immediately."""
    return D.edit_distance_pairs(_docs_with_typos(spark, sf_dir))


def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style span dedup: drop every 5-word span whose exact text
    occurred earlier in the corpus, reassemble each doc. First occurrence
    = lowest (doc_id, span_idx); the oracle replays the identical rule via
    word-unnest + string_agg (a deliberately different formulation — Spark
    slices arrays, DuckDB explodes words — same semantics)."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.span_dedup(docs, span_words=5).orderBy("doc_id")


QUERIES = {
    "exact_dedup_text": exact_dedup_text,
    "near_dedup_minhash_lsh": near_dedup_minhash_lsh,
    "near_dedup_ngram_jaccard": near_dedup_ngram_jaccard,
    "simhash_fingerprints": simhash_fingerprints,
    "near_dedup_simhash": near_dedup_simhash,
    "near_dedup_embedding_cosine": near_dedup_embedding_cosine,
    "near_dedup_clusters": near_dedup_clusters,
    "near_dedup_containment_prefix": near_dedup_containment_prefix,
    "near_dedup_edit_distance": near_dedup_edit_distance,
    "dedup_repeated_spans": dedup_repeated_spans,
}

# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_H32 = "CAST('0x' || substr(md5({s}), 1, 8) AS BIGINT)"

_SHINGLES = """
CASE WHEN len(toks) >= 3
     THEN list_distinct(list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
     ELSE [array_to_string(toks, ' ')] END
"""

_SIG_MINS = ", ".join(
    f"list_min(list_transform(shh, h -> ({a} * h + {b}) % {D.MINHASH_P}))"
    for a, b in zip(D._A, D._B)
)

_BAND_KEYS = ", ".join(
    " || ',' || ".join(
        f"CAST(sig[{band * D.ROWS_PER_BAND + r + 1}] AS VARCHAR)"
        for r in range(D.ROWS_PER_BAND)
    )
    for band in range(D.BANDS)
)

_JACCARD = (
    "len(list_intersect(a.sh, b.sh))::DOUBLE / "
    "len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE"
)

def _plane_lit(p: list[float]) -> str:
    return "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in p) + "]"


_EDOT = "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]), (s,y) -> s+y)"

# one bucket expression per band, mirroring dedup._sign_band_bucket
_EBUCKETS = ", ".join(
    " + ".join(
        f"(CASE WHEN {_EDOT.format(a='v', b=_plane_lit(p))} >= 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(band)
    )
    for band in D.EMB_PLANES
)

_ECOS = (
    f"1.0 - {_EDOT.format(a='a.v', b='b.v')}"
    f" / (sqrt({_EDOT.format(a='a.v', b='a.v')})"
    f" * sqrt({_EDOT.format(a='b.v', b='b.v')}))"
)

_SIMHASH = """
list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32), j ->
  CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(str_split(text, ' '), w ->
           CASE WHEN ((CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) >> j) & 1) = 1
                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
         (acc, x) -> acc + x) > 0
       THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
  (acc, x) -> acc + x)
"""

ORACLES = {
    "exact_dedup_text": f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUP_OFFSET}, text FROM documents WHERE doc_id < {N_DUP}
), hashed AS (
  SELECT doc_id, md5(text) AS text_hash FROM all_docs
)
SELECT min(doc_id) AS keep_id, text_hash, count(*) AS n_copies
FROM hashed GROUP BY text_hash
""",
    "near_dedup_minhash_lsh": f"""
WITH t AS (
  SELECT doc_id AS id, str_split(text, ' ') AS toks FROM documents
), sh_t AS (
  SELECT id, {_SHINGLES} AS sh FROM t
), sig_t AS (
  SELECT id, sh,
         (SELECT [{_SIG_MINS}]
          FROM (SELECT list_transform(sh, s -> {_H32.format(s='s')}) AS shh)) AS sig
  FROM sh_t
), banded AS (
  SELECT id, sh, r.range AS band_idx, [{_BAND_KEYS}][r.range + 1] AS band_key
  FROM sig_t, range({D.BANDS}) r
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.id < r.id
)
SELECT c.id_a, c.id_b, {_JACCARD} AS jaccard
FROM cand c JOIN sh_t a ON a.id = c.id_a JOIN sh_t b ON b.id = c.id_b
WHERE {_JACCARD} >= 0.5
""",
    # candidate pairs via a shared-shingle postings join instead of
    # all-pairs-in-block (r09 sweep-cost fix: 81 s -> 14 s at sf0.1,
    # row-identical — jaccard >= 0.5 > 0 implies at least one shared
    # shingle, so the restriction loses nothing)
    "near_dedup_ngram_jaccard": f"""
WITH t AS (
  SELECT doc_id AS id, lang AS blk, str_split(text, ' ') AS toks FROM documents
), sh_t AS MATERIALIZED (
  SELECT id, blk,
         list_distinct(list_transform({_SHINGLES}, s -> {_H32.format(s='s')})) AS sh
  FROM t
), post AS (
  SELECT id, blk, unnest(sh) AS h FROM sh_t
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM post l JOIN post r ON l.blk = r.blk AND l.h = r.h AND l.id < r.id
)
SELECT c.id_a, c.id_b, {_JACCARD} AS jaccard
FROM cand c JOIN sh_t a ON a.id = c.id_a JOIN sh_t b ON b.id = c.id_b
WHERE {_JACCARD} >= 0.5
""",
    "simhash_fingerprints": f"""
SELECT doc_id, {_SIMHASH} AS simhash FROM documents
""",
    "near_dedup_simhash": f"""
WITH s AS (
  SELECT doc_id AS id, {_SIMHASH} AS simhash FROM documents
), banded AS (
  SELECT id, simhash, r.range AS band_idx,
         (simhash >> (8 * r.range)) & 255 AS band_val
  FROM s, range(4) r
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
         l.simhash AS sim_a, r.simhash AS sim_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_val = r.band_val AND l.id < r.id
)
SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
    # same minhash pair pipeline as near_dedup_minhash_lsh, then TRUE
    # transitive closure via a recursive CTE — the strongest possible check
    # on the Spark side's iterative connected components (any
    # under-iteration or contraction bug breaks cluster_id equality)
    "near_dedup_clusters": f"""
WITH RECURSIVE t AS (
  SELECT doc_id AS id, str_split(text, ' ') AS toks FROM documents
), sh_t AS (
  SELECT id, {_SHINGLES} AS sh FROM t
), sig_t AS (
  SELECT id, sh,
         (SELECT [{_SIG_MINS}]
          FROM (SELECT list_transform(sh, s -> {_H32.format(s='s')}) AS shh)) AS sig
  FROM sh_t
), banded AS (
  SELECT id, sh, r.range AS band_idx, [{_BAND_KEYS}][r.range + 1] AS band_key
  FROM sig_t, range({D.BANDS}) r
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.id < r.id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sh_t a ON a.id = c.id_a JOIN sh_t b ON b.id = c.id_b
  WHERE {_JACCARD} >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
), lab AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), ranked AS (
  SELECT l.doc_id, l.cluster_id, d.n_chars,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY l.cluster_id) AS csize
  FROM lab l JOIN documents d ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_id, CAST(csize AS BIGINT) AS cluster_size,
       rn = 1 AS is_canonical
FROM ranked ORDER BY doc_id
""",
    "near_dedup_embedding_cosine": f"""
WITH e AS (
  SELECT vec_id AS id, label AS blk,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), eb AS (
  SELECT id, blk, v, [{_EBUCKETS}] AS bks FROM e
), banded AS (
  SELECT id, blk, r.range AS band_idx, bks[r.range + 1] AS bkt
  FROM eb, range({D.EMB_BANDS}) r
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.blk = r.blk AND l.band_idx = r.band_idx AND l.bkt = r.bkt AND l.id < r.id
)
SELECT c.id_a, c.id_b, {_ECOS} AS cos_dist
FROM cand c JOIN e a ON a.id = c.id_a JOIN e b ON b.id = c.id_b
WHERE {_ECOS} <= 0.6
""",
    # Deliberately different formulation: Spark slices word arrays into
    # spans without exploding words; the oracle explodes words and
    # string_aggs them back. Same first-occurrence rule (lexicographic
    # min over (doc_id, span_idx) — ROW min, overflow-free like Spark's
    # struct min), same reassembly order.
    "dedup_repeated_spans": """
WITH spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(ws[i*5+1 : i*5+5], ' ') AS span
  FROM (SELECT doc_id, str_split(coalesce(text, ''), ' ') AS ws
        FROM documents) d,
       unnest(range(CAST(ceil(len(ws)/5.0) AS BIGINT))) AS t(i)
), firsts AS (
  SELECT span, min(ROW(doc_id, span_idx)) AS first_occ FROM spans GROUP BY span
)
SELECT s.doc_id,
       coalesce(string_agg(CASE WHEN ROW(s.doc_id, s.span_idx) = f.first_occ
                                THEN s.span END,
                           ' ' ORDER BY s.span_idx), '') AS clean_text,
       count(*) AS n_spans,
       count(CASE WHEN ROW(s.doc_id, s.span_idx) <> f.first_occ THEN 1 END)
         AS n_dropped
FROM spans s JOIN firsts f ON s.span = f.span
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
    # Prefix-filtered containment (PPJoin device): same posting-level
    # Deliberately the OPPOSITE formulation of the Spark PassJoin filter:
    # brute-force length-filtered all-pairs with DuckDB's levenshtein —
    # a lossy pigeonhole (missed pair) or over-eager verify diverges
    # immediately. Same injection expressions, chars 7 and 29 replaced.
    "near_dedup_edit_distance": f"""
WITH sample AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {ED_SAMPLE_MOD} = 0
), all_docs AS (
  SELECT doc_id, substr(text, 1, 48) AS s FROM sample
  UNION ALL
  SELECT doc_id + {TYPO_OFFSET},
         substr(substr(text, 1, 6) || '@' || substr(text, 8, 21) || '#'
                || substr(text, 30), 1, 48)
  FROM sample WHERE doc_id % {ED_TYPO_MOD} = 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM all_docs a JOIN all_docs b
  ON a.doc_id < b.doc_id AND abs(len(a.s) - len(b.s)) <= 2
WHERE levenshtein(a.s, b.s) <= 2 AND len(a.s) >= 3 AND len(b.s) >= 3
ORDER BY id_a, id_b
""",
    # formulation as the Spark side — doc frequency, rare-first prefix
    # rank (window PARTITIONED by doc, total order (dfc, h) since hashed
    # shingles are distinct per doc), prefix⋈full candidate join, exact
    # intersect confirm. Threshold exact via integer cross-multiply;
    # required overlap ceil(4n/5) = (4n+4) // 5.
    "near_dedup_containment_prefix": f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CONTAIN_OFFSET},
         array_to_string(toks[1:(len(toks)+1)//2], ' ')
  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
  WHERE doc_id < {N_CONTAIN}
), t AS (
  SELECT doc_id AS id, str_split(text, ' ') AS toks FROM all_docs
), base AS MATERIALIZED (
  SELECT id, sh, len(sh) AS n_sh FROM (
    SELECT id,
           list_distinct(list_transform({_SHINGLES}, s -> {_H32.format(s='s')})) AS sh
    FROM t)
), post AS (
  SELECT id, n_sh, unnest(sh) AS h FROM base
), dfreq AS (
  SELECT h, count(*) AS dfc FROM post GROUP BY h
), pf AS (
  SELECT p.id, p.n_sh, p.h,
         row_number() OVER (PARTITION BY p.id ORDER BY d.dfc ASC, p.h ASC) AS rk
  FROM post p JOIN dfreq d USING (h)
), prefix AS (
  SELECT id AS id_a, h FROM pf
  WHERE rk <= n_sh - ((4 * n_sh + 4) // 5) + 1
), cand AS (
  SELECT DISTINCT pr.id_a, po.id AS id_b
  FROM prefix pr JOIN post po USING (h)
  WHERE pr.id_a <> po.id
)
SELECT c.id_a, c.id_b,
       CAST(a.n_sh AS BIGINT) AS n_a,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
       len(list_intersect(a.sh, b.sh))::DOUBLE / a.n_sh::DOUBLE AS containment
FROM cand c JOIN base a ON a.id = c.id_a JOIN base b ON b.id = c.id_b
WHERE len(list_intersect(a.sh, b.sh)) * 5 >= a.n_sh * 4
""",
}


SNM_WINDOW = 4


def near_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (r12,
    operators/dedup.sorted_neighborhood_pairs — Hernández & Stolfo
    SIGMOD'95): candidates from a width-4 window slid over records
    sorted by the first 24 chars of the lowercased text (per key-prefix
    block, so the window is parallel and never SinglePartition), exact
    hashed-shingle jaccard verify on candidates only — O(n·(w−1))
    candidates, LINEAR in the corpus. The third blocking discipline
    beside hash blocks and LSH bands; its stated miss (near-dups whose
    keys sort apart) is the MinHash row's catch — complementary, which
    is the point."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.sorted_neighborhood_pairs(docs, window=SNM_WINDOW, threshold=0.5)


_SNM_LEADS = ", ".join(
    f"lead(id, {j}) OVER w AS __n{j}" for j in range(1, SNM_WINDOW)
)
_SNM_ARMS = "\n    UNION ALL ".join(
    f"SELECT id, __n{j} AS n FROM neigh WHERE __n{j} IS NOT NULL"
    for j in range(1, SNM_WINDOW)
)

ORACLES_SNM_SQL = f"""
WITH t AS (
  SELECT doc_id AS id, substr(lower(text), 1, 24) AS key,
         str_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
), sh_t AS MATERIALIZED (
  SELECT id, key, substr(key, 1, 4) AS blk,
         list_distinct(list_transform({_SHINGLES}, s -> {_H32.format(s='s')})) AS sh
  FROM t
), neigh AS (
  SELECT id, {_SNM_LEADS}
  FROM sh_t WINDOW w AS (PARTITION BY blk ORDER BY key, id)
), pairs AS (
  SELECT DISTINCT least(id, n) AS id_a, greatest(id, n) AS id_b FROM (
    {_SNM_ARMS}
  ) u
)
SELECT p.id_a, p.id_b, {_JACCARD} AS jaccard
FROM pairs p
JOIN sh_t a ON a.id = p.id_a
JOIN sh_t b ON b.id = p.id_b
WHERE {_JACCARD} >= 0.5
"""

QUERIES["near_dedup_sorted_neighborhood"] = near_dedup_sorted_neighborhood
ORACLES["near_dedup_sorted_neighborhood"] = ORACLES_SNM_SQL


def near_dedup_minhash_streaming_backlog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming MinHash-LSH dedup ledger's driver-facing row (r14,
    VERDICT r13 #3 — streaming/dedup_stream.streaming_minhash_dedup was
    pytest-only since r09): a three-file drained backlog of the
    documents table (split doc_id % 3) pushed through the REAL
    applyInPandasWithState bucket kernel — readStream +
    maxFilesPerTrigger=1 + trigger(availableNow) over tmp parquet, the
    memory sink collecting the per-bucket decision ledger — then the
    ledger folded with the documented consumer rule, min(dup_of) per
    doc across bands and emissions.

    Why this is drivable at all: the kernel's ledger CONVERGES to the
    batch rule — dup_of(doc) = the smallest same-bucket smaller id with
    >= 16/32 signature-perm agreement — for ANY micro-batch arrival
    order (dedup_stream.py's improvement-emission argument, property-
    tested under random permutations), so the folded verdicts are
    deterministic even though the emission sequence is not. sim_micro
    re-derives the winning pair's agreement IN-PLAN from the batch
    signature expressions (n_agree * 31250 — 1/32nds are exact
    micros), so a ledger row claiming a non-qualifying pair surfaces
    as a NULL, and ledger_eq_batch (empty symmetric difference vs the
    in-plan batch replay) rides every row. The oracle replays
    signature -> banding -> agreement -> min in DuckDB from the same
    fragments as near_dedup_minhash_lsh.

    Scale: stream state is (ids, sigs, best) per LSH bucket — bounded
    by bucket occupancy exactly like the batch path's banded candidate
    argument; the drained fold touches ledger EMISSIONS only, never
    the corpus."""
    import glob as _glob
    import os as _os
    import shutil
    import tempfile

    from executor_u1mindexer_spark.streaming import dedup_stream as DS

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="spark_graft_mh_backlog_")
    try:
        in_dir = f"{root}/in"
        _os.makedirs(in_dir, exist_ok=True)
        for bid in range(3):
            stage = f"{root}/stage{bid}"
            docs.filter(F.col("doc_id") % 3 == bid).coalesce(1).write.parquet(stage)
            part = _glob.glob(f"{stage}/part-*.parquet")[0]
            shutil.move(part, f"{in_dir}/b{bid}.parquet")
        q = (
            DS.streaming_minhash_dedup(
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            .writeStream.format("memory")
            .queryName("mh_backlog")
            .outputMode("update")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emissions = spark.table("mh_backlog").collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    fold: dict[int, int] = {}
    for r in emissions:
        d, p = int(r.doc_id), int(r.dup_of)
        fold[d] = min(fold.get(d, p), p)
    ledger = spark.createDataFrame(
        sorted(fold.items()), "doc_id long, dup_of long"
    )
    # in-plan batch replay of the identical rule, from the batch
    # expressions the stream's scan side shares
    sig_df = docs.select("doc_id", D.minhash_signature("text").alias("sig"))
    banded = sig_df.select(
        "doc_id",
        "sig",
        F.posexplode(D.lsh_band_keys(F.col("sig"))).alias("band_idx", "band_key"),
    )
    a = banded.select(
        F.col("doc_id").alias("a"), F.col("sig").alias("sa"), "band_idx", "band_key"
    )
    b = banded.select(
        F.col("doc_id").alias("b"), F.col("sig").alias("sb"), "band_idx", "band_key"
    )
    n_agree = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    min_agree = int(DS.SIG_SIM_THRESHOLD * D.N_HASHES)  # 16 of 32
    pairs = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("n_agree", n_agree)
        .filter(F.col("n_agree") >= min_agree)
        .groupBy("a", "b")
        .agg(F.max("n_agree").alias("n_agree"))  # identical across bands
    )
    batch = (
        pairs.groupBy("b")
        .agg(F.min("a").alias("dup_of"))
        .select(F.col("b").alias("doc_id"), "dup_of")
    )
    n_diff = (
        ledger.subtract(batch)
        .unionByName(batch.subtract(ledger))
        .agg(F.count(F.lit(1)).cast("long").alias("__nd"))
    )
    return (
        ledger.join(
            pairs.select(
                F.col("b").alias("doc_id"), F.col("a").alias("dup_of"), "n_agree"
            ),
            ["doc_id", "dup_of"],
            "left",
        )
        .crossJoin(F.broadcast(n_diff))
        .select(
            "doc_id",
            "dup_of",
            (F.col("n_agree").cast("long") * F.lit(31250)).alias("sim_micro"),
            (F.col("__nd") == 0).alias("ledger_eq_batch"),
        )
        .orderBy("doc_id")
    )


_MH_STREAM_SQL = f"""
WITH t AS (
  SELECT doc_id AS id, str_split(text, ' ') AS toks FROM documents
), sh_t AS (
  SELECT id, {_SHINGLES} AS sh FROM t
), sig_t AS MATERIALIZED (
  SELECT id,
         (SELECT [{_SIG_MINS}]
          FROM (SELECT list_transform(sh, s -> {_H32.format(s='s')}) AS shh)) AS sig
  FROM sh_t
), banded AS (
  SELECT id, sig, r.range AS band_idx, [{_BAND_KEYS}][r.range + 1] AS band_key
  FROM sig_t, range({D.BANDS}) r
), pairs AS (
  SELECT DISTINCT l.id AS a, r.id AS b,
         len(list_filter(range(1, {D.N_HASHES} + 1),
                         i -> l.sig[i] = r.sig[i])) AS n_agree
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.id < r.id
), q AS (
  SELECT a, b, n_agree FROM pairs WHERE n_agree >= 16
), led AS (
  SELECT b AS doc_id, min(a) AS dup_of FROM q GROUP BY b
)
-- ledger_eq_batch is computed genuinely on the Spark side (stream fold
-- vs in-plan batch replay); DuckDB cannot see the stream, so the oracle
-- pins the contract: the drained ledger MUST equal this batch rule.
SELECT l.doc_id, l.dup_of, CAST(q.n_agree * 31250 AS BIGINT) AS sim_micro,
       TRUE AS ledger_eq_batch
FROM led l JOIN q ON q.b = l.doc_id AND q.a = l.dup_of
ORDER BY l.doc_id
"""

QUERIES["near_dedup_minhash_streaming_backlog"] = near_dedup_minhash_streaming_backlog
ORACLES["near_dedup_minhash_streaming_backlog"] = _MH_STREAM_SQL


_SPAN_K = 8  # verbatim-run window, tokens; shared with the oracle below


def exact_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (r15, VERDICT r14 #4a,
    operators/dedup.duplicated_span_profile): the Lee et al. 2022
    duplicated-span discipline the 11-lane family lacked — verbatim
    8-token runs shared across DISTINCT documents at ANY offset,
    merged per-doc into maximal islands. Catches the verbatim span
    embedded in otherwise-distinct documents that every whole-doc lane
    (hash/minhash/simhash/ngram/edit/containment) and the fixed
    non-overlapping grid of dedup_repeated_spans structurally miss.
    Output: one row per affected doc with island count, covered-token
    count and the exact integer duplicated fraction."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.duplicated_span_profile(docs, k=_SPAN_K)


_SPAN_SHINGLE = " || ' ' || ".join(
    ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, _SPAN_K)]
)

ORACLES["exact_dedup_substring_spans"] = f"""
WITH t AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, len(toks) AS total_tokens,
         generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
  FROM t
),
sh AS (
  SELECT doc_id, total_tokens, pos AS start_pos,
         {_SPAN_SHINGLE} AS shingle,
         lead(tok, {_SPAN_K - 1}) OVER w AS __last
  FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
occ AS (
  SELECT doc_id, total_tokens, start_pos, shingle
  FROM sh WHERE __last IS NOT NULL
),
dup AS (
  SELECT shingle FROM occ GROUP BY shingle HAVING min(doc_id) <> max(doc_id)
),
hits AS (SELECT occ.* FROM occ JOIN dup USING (shingle)),
isl AS (
  SELECT doc_id, total_tokens, start_pos,
         CASE WHEN start_pos - lag(start_pos) OVER (
                PARTITION BY doc_id ORDER BY start_pos) > {_SPAN_K}
              THEN 1 ELSE 0 END AS __new
  FROM hits
),
isl2 AS (
  SELECT *, sum(__new) OVER (PARTITION BY doc_id ORDER BY start_pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __island
  FROM isl
),
per_island AS (
  SELECT doc_id, total_tokens, __island,
         max(start_pos) - min(start_pos) + {_SPAN_K} AS __covered
  FROM isl2 GROUP BY doc_id, total_tokens, __island
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_dup_spans,
       CAST(sum(__covered) AS BIGINT) AS dup_tokens,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(1000000 * sum(__covered) // total_tokens AS BIGINT)
         AS dup_fraction_micro
FROM per_island GROUP BY doc_id, total_tokens ORDER BY doc_id
"""

QUERIES["exact_dedup_substring_spans"] = exact_dedup_substring_spans
