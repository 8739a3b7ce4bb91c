"""Similarity-search operators — the scale paths beyond brute-force KNN.

operators/knn.py is the exact O(n·q) baseline (broadcast + codegen — right
answer, embarrassingly parallel). These operators add the sub-linear
strategies a 100 TB corpus needs:

- IVF-style bucketed search: a coarse partitioner (here the fixture `label`;
  in production a k-means assignment) restricts each query to its cell —
  n^2/cells work, one shuffle on the cell key.
- Sign-LSH (random hyperplanes): hash vectors to sign-bit buckets, search
  only within the bucket. Planes are fixed module constants (seeded numpy)
  so results are deterministic and oracle-checkable.
- Partitioned top-k merge: per-partition exact top-k via Arrow-batched
  applyInPandas (numpy argpartition — the vectorized stand-in for a
  per-partition hnswlib index build, reference executor.py:112), then a
  global window merge. The map side emits only k rows per (query,
  partition), so the shuffle is tiny regardless of corpus size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from executor_u1mindexer_spark import cache
from executor_u1mindexer_spark.functions import text as T
from executor_u1mindexer_spark.functions import vector as V

ID_COL = "vec_id"
VEC_COL = "embedding"
QUERY_ID_COL = "query_id"
QUERY_VEC_COL = "query_embedding"
N_CELLS = 8
MAX_ITER = 5

# Quantizer (KMeans) training never needs the full corpus: codebook quality
# converges long before 100k training rows, while a full-corpus MLlib fit at
# 100 TB is an iterative all-data job per codebook. Every trainer below fits
# on fit_sample() output and transforms everything.
FIT_SAMPLE_CAP = 100_000
N_PROBE = 2  # default IVF multi-probe width; suites assert against this


def fit_sample(df: DataFrame, id_col: str, cap: int = FIT_SAMPLE_CAP) -> DataFrame:
    """Deterministic bounded training sample: order by md5-hash of the id
    (ties broken by the id itself) and keep the first `cap` rows.

    - Deterministic: a pure function of the row keys — same sample across
      reruns, partitionings, and engines (no rand()/sample() RNG stream).
    - Bounded: orderBy+limit compiles to TakeOrderedAndProject — each
      partition keeps its local top-cap, one merge of <= cap rows; the fit
      input is <= cap rows no matter the corpus size (no full sort shuffle).
    - Unbiased: md5 order is uncorrelated with insertion/value order, so the
      prefix is a uniform draw.
    When the corpus has <= cap rows the sample IS the corpus, so small-SF
    oracle results are unchanged.
    """
    return (
        df.withColumn("__fit_h", T.hash32(F.col(id_col).cast("string")))
        .orderBy("__fit_h", id_col)
        .limit(cap)
        .drop("__fit_h")
    )


# Fixed hyperplanes for sign-LSH (seeded — NOT query-time randomness).
N_PLANES = 4
EMBED_DIM = 64
_rng = np.random.RandomState(42)
PLANES: list[list[float]] = [
    [round(float(x), 6) for x in _rng.uniform(-1.0, 1.0, EMBED_DIM)] for _ in range(N_PLANES)
]


def sign_lsh_bucket(vec_col):
    """Bucket id = integer of sign bits of <v, plane_i> (0..2^N_PLANES-1)."""
    bits = []
    for i, p in enumerate(PLANES):
        plane = F.array(*[F.lit(x) for x in p])
        bits.append(
            F.when(V.dot(vec_col, plane) >= 0, F.lit(2**i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def bucketed_topk(
    stored: DataFrame,
    queries: DataFrame,
    bucket_stored,
    bucket_query,
    *,
    k: int,
    metric: str = "cosine",
) -> DataFrame:
    """Top-k restricted to matching buckets (IVF / LSH shared core).

    bucket_* are column expressions evaluated on each side; the join is an
    equi-join on the bucket key (shuffle-partitioned by bucket, or broadcast
    when the query side is small — Catalyst picks).
    """
    s = stored.select(
        F.col(ID_COL),
        V.as_double_array(VEC_COL).alias("__svec"),
        bucket_stored.alias("__bucket"),
    )
    q = queries.select(
        F.col(QUERY_ID_COL),
        V.as_double_array(QUERY_VEC_COL).alias("__qvec"),
        bucket_query.alias("__bucket"),
    )
    if metric == "cosine":
        # per-row norms before the join (same factoring as knn.knn_search)
        q = q.withColumn("__qn", V.norm(F.col("__qvec")))
        s = s.withColumn("__sn", V.norm(F.col("__svec")))
    joined = s.join(F.broadcast(q), on="__bucket")
    if metric == "cosine":
        dist = F.lit(1.0) - V.dot(F.col("__qvec"), F.col("__svec")) / (
            F.col("__qn") * F.col("__sn")
        )
    else:
        dist = V.distance(metric, F.col("__qvec"), F.col("__svec"))
    w = Window.partitionBy(QUERY_ID_COL).orderBy(F.col("__dist").asc(), F.col(ID_COL).asc())
    return (
        joined.select(QUERY_ID_COL, ID_COL, dist.alias("__dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QUERY_ID_COL, ID_COL, "rank", F.col("__dist").alias("dist"))
    )


def _resolve_dim(stored: DataFrame, m: int, op: str) -> int:
    """Shared dim probe + divisibility gate for the PQ family: probe ONE
    row via limit(1); reject widths m can't split evenly (a silent
    remainder drop would leave dims unencoded while sq_norm sums all of
    them)."""
    probe = stored.select(F.size(V.as_double_array(VEC_COL)).alias("d")).limit(1).collect()
    if not probe:
        raise ValueError(f"{op}: empty input")
    d = probe[0]["d"]
    if d % m != 0:
        raise ValueError(f"{op}: dim {d} not divisible by m={m}")
    return d


def train_pq_codebooks(
    sample: DataFrame,
    *,
    m: int,
    n_codes: int,
    sub: int,
    max_iter: int = 10,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train ALL m subspace codebooks in ONE cogrouped Spark job.

    The r04 predecessor ran m sequential MLlib fits — m driver-coordinated
    iterative jobs even on a bounded sample. Here the sample explodes to
    (subspace j, subvector) rows, groupBy(j).applyInPandas runs a seeded
    numpy Lloyd's per group (all m in parallel, one shuffle of
    sample_rows x m tiny subvectors), and the returned m*n_codes centers —
    the codebooks are TINY by construction — come back as literals.

    Deterministic: the kernel sorts its group by id before touching the
    data (Arrow group order is partitioning-dependent), inits from
    42+j-chosen rows, and re-seeds empty/duplicate clusters to the
    farthest point — a pure function of the sample content.
    """
    import pandas as pd

    rows = sample.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice("__v", j * sub + 1, sub) for j in range(m)])
        ).alias("j", "sv"),
    )

    def lloyd(pdf: pd.DataFrame) -> pd.DataFrame:
        j = int(pdf["j"].iloc[0])
        pdf = pdf.sort_values(id_col)
        x = np.stack(pdf["sv"].to_numpy()).astype(np.float64)
        rng = np.random.RandomState(42 + j)
        k = min(n_codes, len(x))
        centers = x[rng.choice(len(x), k, replace=False)].copy()
        if k < n_codes:  # degenerate tiny sample: pad with repeats
            centers = np.vstack([centers, centers[rng.choice(k, n_codes - k)]])
        for _ in range(max_iter):
            d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            far = x[d.min(axis=1).argmax()]
            for c in range(n_codes):
                pts = x[assign == c]
                centers[c] = pts.mean(axis=0) if len(pts) else far
        return pd.DataFrame(
            {
                "j": [j] * n_codes,
                "code": list(range(n_codes)),
                "center": [[float(v) for v in c] for c in centers],
            }
        )

    got = rows.groupBy("j").applyInPandas(
        lloyd, schema="j int, code int, center array<double>"
    ).collect()
    if not got:
        # an empty sample trains nothing; fail HERE with a clear message
        # instead of letting a None-filled codebook crash literal
        # construction downstream
        raise ValueError("train_pq_codebooks: empty training sample")
    books: list[list[list[float] | None]] = [[None] * n_codes for _ in range(m)]
    for r in got:
        books[r.j][r.code] = [float(v) for v in r.center]
    return books  # type: ignore[return-value]


def nearest_code(subvec, book: list[list[float]]):
    """Literal-codebook argmin as a codegen'd expression: build the n_codes
    distances ONCE as an array, then array_position(array_min) — a chained
    when-tree would re-embed the running best twice per code (2^n_codes
    analysis blowup, measured as a driver OOM). First-match ties are
    deterministic (lowest code wins)."""
    dists = F.array(
        *[
            V.l2_sq_distance(subvec, F.array(*[F.lit(x) for x in center]))
            for center in book
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def probe_cells(
    q_df: DataFrame,
    qvec_col: str,
    query_id_col: str,
    centers,
    n_probe: int,
) -> DataFrame:
    """(query_id, __cell) pairs for each query's ``n_probe`` NEAREST coarse
    centroids — the standard IVF multi-probe knob. nprobe=1 reproduces the
    single nearest-cell assignment; nprobe>1 rescues queries whose nearest
    cell holds fewer than k members (the reason a fixed per-query-k
    invariant failed at sf0.1) and lifts recall.

    Centroids ride as literal arrays (n_cells is small by construction);
    ranking is array_sort over (distance, cell) structs + slice + explode —
    pure codegen, no MLlib transform and no shuffle on the query side.
    Probe #1 agrees with MLlib's own prediction except at floating-point
    near-ties (MLlib assigns via fastSquaredDistance's precomputed-norm
    shortcut, not this naive sum-of-squares fold, so bit-equality is not
    guaranteed when two cells are almost equidistant); multi-probe (the
    nprobe>=2 default) covers those ties by searching both cells.

    EXPRESSION-SIZE CEILING: the ranking embeds n_cells × dim double
    literals in one expression tree (512 at the suite's n_cells=8 /
    dim=64 — trivial). Catalyst handles thousands of literals fine, but
    past n_cells in the low hundreds the generated method risks the JVM's
    64KB bytecode limit (Spark falls back to interpreted eval) and
    analysis time grows; raising n_cells into the hundreds should switch
    to joining a broadcast centroid DataFrame (or an array-literal lookup
    like ivf_pq_topk's element_at table) instead of per-centroid struct
    literals."""
    structs = F.array(
        *[
            F.struct(
                V.l2_sq_distance(
                    F.col(qvec_col),
                    F.array(*[F.lit(float(x)) for x in c]),
                ).alias("d"),
                F.lit(i).alias("c"),
            )
            for i, c in enumerate(centers)
        ]
    )
    probes = F.slice(F.array_sort(structs), 1, n_probe)
    # carry ALL of q_df's columns through so callers don't need to join
    # the query frame back to itself to recover the vector
    return q_df.select(
        "*",
        F.explode(F.transform(probes, lambda s: s["c"])).alias("__cell"),
    )


def kmeans_ivf_topk(
    stored: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    n_probe: int = N_PROBE,
    fit_sample_cap: int = FIT_SAMPLE_CAP,
) -> DataFrame:
    """True IVF: a seeded MLlib KMeans coarse quantizer assigns cells; each
    query searches its ``n_probe`` nearest cells (the production form of
    the label-bucket demo — cells adapt to the data distribution, and
    multi-probe both lifts recall and guards the per-query k when one cell
    runs short).

    Training FITS ON A BOUNDED SAMPLE (fit_sample, <= fit_sample_cap rows —
    deterministic hash-prefix draw) and TRANSFORMS everything: the fit is
    never an all-corpus iterative job. Seed fixed for reproducibility. No
    SQL oracle — the trained centroids aren't expressible in static SQL —
    so the suite reduces this to an invariant row.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    s_feat = stored.select(
        F.col(ID_COL),
        V.as_double_array(VEC_COL).alias("__svec"),
    ).withColumn("features", array_to_vector(F.col("__svec")))
    fit_input = fit_sample(s_feat, ID_COL, fit_sample_cap).select("features")
    model = KMeans(k=N_CELLS, seed=42, maxIter=MAX_ITER).fit(fit_input)
    s_cells = model.transform(s_feat).select(
        ID_COL, "__svec", F.col("prediction").alias("__cell")
    )
    q_feat = queries.select(
        F.col(QUERY_ID_COL),
        V.as_double_array(QUERY_VEC_COL).alias("__qvec"),
    )
    q_cells = probe_cells(
        q_feat, "__qvec", QUERY_ID_COL, model.clusterCenters(), n_probe
    )
    joined = s_cells.join(F.broadcast(q_cells), on="__cell")
    dist = V.distance("cosine", F.col("__qvec"), F.col("__svec"))
    w = Window.partitionBy(QUERY_ID_COL).orderBy(F.col("__dist").asc(), F.col(ID_COL).asc())
    return (
        joined.select(QUERY_ID_COL, ID_COL, dist.alias("__dist"), "__cell")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QUERY_ID_COL, ID_COL, "rank", F.col("__cell").alias("cell"))
    )


def partitioned_topk_merge(
    stored: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    metric: str = "cosine",
) -> DataFrame:
    """Exact KNN via per-partition numpy top-k + global merge.

    The corpus is bucketed into 8 deterministic hash buckets;
    each bucket computes its local top-k per query with one vectorized
    numpy pass over the Arrow-batched group (cogrouped applyInPandas),
    emitting k rows/query/partition; a final window keeps the global top-k.
    This is the shape a per-partition ANN library build would use (hnswlib
    is not in this container; numpy argpartition is the exact,
    dependency-free stand-in — same merge topology).

    BOTH sides stay DataFrames end-to-end (r03: the old signature took a
    driver-collected pandas query set — a driver OOM once the query set is
    corpus-derived and grows with the data). The query set is replicated to
    every bucket via a broadcast cross-join against the 8-row pid
    table (q × 8 small rows — the standard scatter cost of
    scatter-gather search), then cogrouped with the stored bucket.
    """
    def local_topk(spdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        qids = qpdf[QUERY_ID_COL].to_numpy()
        qmat = np.stack(qpdf["__qvec"].to_numpy()).astype(np.float64)
        ids = spdf[ID_COL].to_numpy()
        mat = np.stack(spdf["__svec"].to_numpy()).astype(np.float64)
        # With hnswlib available, this is where a per-partition HNSW
        # index build + knn_query would replace the exact numpy pass
        # (reference executor.py:112); the merge topology is identical.
        if metric == "cosine":
            sim = mat @ qmat.T
            d = 1.0 - sim / (
                np.linalg.norm(mat, axis=1)[:, None] * np.linalg.norm(qmat, axis=1)[None, :]
            )
        elif metric == "euclidean":
            d = ((mat[:, None, :] - qmat[None, :, :]) ** 2).sum(axis=2)
        else:  # inner_product
            d = 1.0 - mat @ qmat.T
        kk = min(k, len(ids))
        part = np.argpartition(d, kk - 1, axis=0)[:kk]  # (kk, n_queries)
        return pd.DataFrame(
            {
                QUERY_ID_COL: np.repeat(qids, kk),
                ID_COL: ids[part.T.ravel()],
                "dist": np.take_along_axis(d, part, axis=0).T.ravel(),
            }
        )

    return _scatter_gather_topk(
        stored,
        queries,
        k=k,
        kernel=local_topk,
        id_col=ID_COL,
        vec_col=VEC_COL,
        query_id_col=QUERY_ID_COL,
        query_vec_col=QUERY_VEC_COL,
        n_partitions=8,
    )


def _scatter_gather_topk(
    stored: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    kernel,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    n_partitions: int,
) -> DataFrame:
    """Shared scatter-gather scaffolding for per-partition top-k search.

    Buckets the corpus into n_partitions deterministic hash buckets
    (F.pmod, NOT abs(hash) % n: abs(Integer.MIN_VALUE) overflows back to
    negative in non-ANSI mode, which with a non-power-of-two n_partitions
    would yield a pid outside 0..n-1 and silently make that vector
    unsearchable — pmod is non-negative for the full int domain),
    broadcast-replicates the query set to every bucket, cogroups, runs
    `kernel(stored_pdf, query_pdf) -> DataFrame[query_id, id, dist]` per
    bucket (never called on an empty side), and keeps the global top-k per
    query with a rank window.  partitioned_topk_merge (exact numpy kernel)
    and hnsw_partitioned_topk (graph kernel) both delegate here so the
    bucketing key, empty-side guard, and merge window can never drift
    apart."""
    spark = stored.sparkSession
    s = stored.select(
        F.col(id_col),
        V.as_double_array(vec_col).alias("__svec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_partitions)).alias("__pid"),
    )
    pids = spark.range(n_partitions).select(F.col("id").cast("int").alias("__pid"))
    q_rep = pids.crossJoin(
        F.broadcast(
            queries.select(
                F.col(query_id_col), V.as_double_array(query_vec_col).alias("__qvec")
            )
        )
    )
    out_schema = f"{query_id_col} long, {id_col} long, dist double"
    empty = pd.DataFrame({query_id_col: [], id_col: [], "dist": []})

    def guarded(spdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if len(spdf) == 0 or len(qpdf) == 0:
            return empty
        return kernel(spdf, qpdf)

    local = (
        s.groupBy("__pid")
        .cogroup(q_rep.groupBy("__pid"))
        .applyInPandas(guarded, schema=out_schema)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "dist")
    )


def hnsw_partitioned_topk(
    stored: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    n_partitions: int = 8,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Approximate KNN via a REAL per-partition HNSW graph build + global
    merge — the reference's actual architecture (hnswlib build + knn_query,
    executor.py:49, 66-70, 112) in the scatter-gather topology of
    partitioned_topk_merge, with operators/hnsw.py's deterministic
    from-scratch HNSW replacing the C++ library this container lacks.

    Same plan shape as partitioned_topk_merge: corpus hash-bucketed, query
    set broadcast-replicated to every bucket, cogrouped applyInPandas
    builds one HNSW per bucket and searches it (k rows/query/bucket out),
    global window keeps the top-k. The graph + search are deterministic
    (id-hash levels, id-ordered inserts, id tie-breaks), so the result is
    stable across partitionings and runs — unlike hnswlib, whose RNG
    levels make every build different.

    Cosine distance and the reference's HNSW knobs (executor.py:22-24) are
    fixed: M 16 and ef_search 50 (HNSW's own defaults), ef_construction
    100.

    max_bucket_rows (r06, VERDICT r05 #2): a per-bucket build ceiling.
    When set, the corpus is counted (cheap metadata-ish scan next to the
    real work) and n_partitions is raised so no bucket exceeds the
    ceiling in expectation — build cost per bucket is O(rows log rows)
    and must fit one executor's memory/time budget, so at 100x the
    corpus you want 100x the buckets, not 100x the bucket. The count is
    one extra job; pass None (default) to keep the caller's n_partitions
    untouched."""
    from executor_u1mindexer_spark.operators.hnsw import HNSW

    if max_bucket_rows is not None:
        if max_bucket_rows < 1:
            raise ValueError(f"max_bucket_rows must be >= 1, got {max_bucket_rows}")
        n_rows = stored.count()
        need = -(-n_rows // max_bucket_rows)  # ceil
        n_partitions = max(n_partitions, int(need))

    def local_hnsw_topk(spdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        ids = spdf[ID_COL].to_numpy()
        mat = np.stack(spdf["__svec"].to_numpy()).astype(np.float64)
        index = HNSW(mat.shape[1], ef_construction=100).build(ids, mat)
        qids = qpdf[QUERY_ID_COL].to_numpy()
        qmat = np.stack(qpdf["__qvec"].to_numpy()).astype(np.float64)
        rows, out_ids, out_d = index.search_batch(qmat, k)
        return pd.DataFrame(
            {QUERY_ID_COL: qids[rows], ID_COL: out_ids, "dist": out_d}
        )

    return _scatter_gather_topk(
        stored,
        queries,
        k=k,
        kernel=local_hnsw_topk,
        id_col=ID_COL,
        vec_col=VEC_COL,
        query_id_col=QUERY_ID_COL,
        query_vec_col=QUERY_VEC_COL,
        n_partitions=n_partitions,
    )


def ivf_pq_topk(
    stored: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    n_probe: int = N_PROBE,
    m: int = 8,
) -> DataFrame:
    """IVF-PQ search with asymmetric distance (ADC) — the composed form of
    kmeans_ivf_topk + product_quantize, and the storage layout real
    100 TB vector engines serve from: the corpus is reduced to (cell,
    m one-byte codes); raw vectors never enter the search join.

    Plan shape (all quantizer state rides as literals — no Python in the
    search path, no shuffle of corpus rows beyond the cell equi-join):
    1. both quantizers fit on ONE shared bounded sample (fit_sample); the
       PQ codebooks are trained on coarse-cell RESIDUALS (v − centroid),
       the standard IVFADC layout — residuals have far less variance than
       raw vectors, so the same m×16 budget quantizes finer;
    2. encode pass: corpus -> (id, cell, codes of v − centroid[cell]) —
       map-only, one scan; the (N_CELLS × dim) centroid table is a literal
       array-of-arrays indexed by element_at, residual is a zip_with;
    3. query side: each query probes its n_probe nearest cells
       (probe_cells — literal centroids, codegen ranking); per PROBE, per
       subspace j, an ADC lookup table lut_j[c] = ||(q−centroid)_j −
       center_jc||^2 as a 16-element literal-array expression. With
       residual encoding the LUT genuinely depends on the probed cell, so
       it is computed after the probe explode by necessity (the r04
       raw-vector form computed cell-independent LUTs post-explode, an
       n_probe-times redundancy — subsumed by this change);
    4. broadcast queries+LUTs into their probed cells; approximate
       distance = sum_j lut_j[code_j] — an element_at chain over the m
       code bytes. ||(q−c) − (v−c)||² = ||q − v||², so the estimator still
       targets the true squared L2;
    5. per-query top-k window (k rows per query out of its probed cells).

    Distances are approximate (PQ quantizes the corpus side; this is the
    standard ADC estimator of squared L2), so the suite reduces the result
    to invariants + a recall floor vs exact KNN, like the other trained
    operators."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = _resolve_dim(stored, m, "ivf_pq_topk")
    sub = d // m

    base = stored.select(F.col(ID_COL), V.as_double_array(VEC_COL).alias("__v"))
    feats = base.select(
        ID_COL,
        "__v",
        array_to_vector(F.col("__v")).alias("__full"),
    )
    fit_input = cache.materialize(fit_sample(feats, ID_COL, FIT_SAMPLE_CAP))
    coarse = KMeans(
        k=N_CELLS, seed=42, maxIter=MAX_ITER, featuresCol="__full"
    ).fit(fit_input.select("__full"))
    coarse.setPredictionCol("__cell")

    # literal (N_CELLS x dim) centroid table, element_at-indexed by cell id;
    # residual = v - centroid[cell] as a zip_with — map-only codegen
    cent_table = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c])
            for c in coarse.clusterCenters()
        ]
    )

    def _residual(vec_col, cell_col):
        return F.zip_with(
            vec_col, F.element_at(cent_table, cell_col + 1), lambda a, b: a - b
        )

    # all m PQ codebooks in ONE cogrouped job (train_pq_codebooks), trained
    # on the fit sample's coarse-cell RESIDUALS — never m sequential fits;
    # encode below is the literal-argmin codegen pass
    fit_res = coarse.transform(fit_input).select(
        ID_COL, _residual(F.col("__v"), F.col("__cell")).alias("__v")
    )
    books = train_pq_codebooks(
        fit_res,
        m=m, n_codes=16, sub=sub, max_iter=MAX_ITER * 2, id_col=ID_COL,
    )

    s_enc = (
        coarse.transform(feats.select(ID_COL, "__v", "__full"))
        .withColumn("__r", _residual(F.col("__v"), F.col("__cell")))
        .select(
            ID_COL,
            "__cell",
            *[
                nearest_code(F.slice("__r", j * sub + 1, sub), books[j]).alias(f"__c{j}")
                for j in range(m)
            ],
        )
    )

    q_base = queries.select(
        F.col(QUERY_ID_COL), V.as_double_array(QUERY_VEC_COL).alias("__qv")
    )
    # n_probe nearest cells per query (literal centroids, codegen ranking)
    q_cells = probe_cells(
        q_base, "__qv", QUERY_ID_COL, coarse.clusterCenters(), n_probe
    )
    # per-probe ADC lookup tables over the QUERY residual for that cell:
    # lut_j = [||(q - centroid[cell])_j - center_jc||^2 for c in codes]
    luts = q_cells.withColumn(
        "__qr", _residual(F.col("__qv"), F.col("__cell"))
    ).select(
        QUERY_ID_COL,
        "__cell",
        *[
            F.array(
                *[
                    V.l2_sq_distance(
                        F.slice("__qr", j * sub + 1, sub),
                        F.array(*[F.lit(x) for x in books[j][c]]),
                    )
                    for c in range(16)
                ]
            ).alias(f"__lut{j}")
            for j in range(m)
        ],
    )

    joined = s_enc.join(F.broadcast(luts), on="__cell")
    adc = F.element_at(F.col("__lut0"), F.col("__c0") + 1)
    for j in range(1, m):
        adc = adc + F.element_at(F.col(f"__lut{j}"), F.col(f"__c{j}") + 1)
    w = Window.partitionBy(QUERY_ID_COL).orderBy(
        F.col("__adc").asc(), F.col(ID_COL).asc()
    )
    return (
        joined.select(QUERY_ID_COL, ID_COL, F.col("__cell"), adc.alias("__adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            QUERY_ID_COL,
            ID_COL,
            "rank",
            F.col("__cell").alias("cell"),
            F.col("__adc").alias("adc_dist"),
        )
    )


def range_search(
    stored: DataFrame,
    queries: DataFrame,
    radius: float,
    *,
    metric: str = "cosine",
) -> DataFrame:
    """Radius (range) search: every stored vector within `radius` of each
    query — the unbounded-k sibling of knn_search (hnswlib exposes only
    top-k, reference executor.py:112; radius search is the standard
    extension every vector store ships).

    100 TB shape: broadcast the (small) query side, scan the corpus once —
    the distance + filter are codegen'd higher-order functions evaluated
    scan-side, so output size is the only data-dependent cost; NO top-k
    window, NO shuffle at all (compare knn_search's rank window)."""
    qs = queries.select(
        F.col(QUERY_ID_COL),
        V.as_double_array(QUERY_VEC_COL).alias("_qv"),
    )
    st = stored.select(F.col(ID_COL), V.as_double_array(VEC_COL).alias("_sv"))
    dist = V.distance(metric, F.col("_qv"), F.col("_sv"))
    return (
        st.join(F.broadcast(qs))
        .select(QUERY_ID_COL, ID_COL, dist.alias("dist"))
        .filter(F.col("dist") <= F.lit(radius))
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid in long form: (label, dim [1-based], centroid, n).

    posexplode -> groupBy(label, dim) — ONE shuffle on (label, dim), partial
    aggregation map-side; at 100 TB this is the canonical class-prototype /
    cluster-summary op (e.g. seeding an IVF coarse quantizer from labeled
    data). avg is rounded to 6dp at the boundary: fold order across
    partitions is engine-specific for double sums (same policy as
    agg_stats_funcs); the magnitude here is O(1) so 6dp is ~1e10 ulps of
    slack."""
    exploded = emb.select(
        F.col("label"),
        F.posexplode(V.as_double_array(VEC_COL)).alias("pos", "val"),
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def product_quantize(
    stored: DataFrame,
    *,
    m: int = 8,
    n_codes: int = 16,
    fit_sample_cap: int = FIT_SAMPLE_CAP,
) -> DataFrame:
    """Product quantization: split the d-dim vector into m contiguous
    subspaces, train an independent seeded codebook per subspace, encode
    every vector as m small integer codes — dim-64 float32 (256 B)
    becomes 8 one-byte codes (32× compression), the storage layout IVF-PQ
    engines keep in RAM while raw vectors stay on disk.

    100 TB shape: codebooks are TINY (m × n_codes × d/m floats) and ALL m
    of them train in ONE cogrouped job over the shared bounded sample
    (train_pq_codebooks — r04 replaced m sequential MLlib fits); the
    codebooks then ride as literals into both the code-assignment argmin
    (nearest_code) and the reconstruction-error expression, so the encode
    really is a map-only codegen pass over the corpus: no shuffle, no
    Python, no MLlib transform stage — nothing but the scan. Returns
    (id, codes array, recon_err — the per-vector squared reconstruction
    error from the SAME literal codebooks, sq_norm).

    The vector width is probed from ONE row via limit(1). It must be divisible
    by m — a silent remainder drop would leave d % m dims unencoded while
    sq_norm still sums all d, skewing the mse invariant (ValueError).

    Like the IVF quantizer, trained centers aren't static SQL — the suite
    reduces this to an invariant row (codes in range, error bounded).
    """
    d = _resolve_dim(stored, m, "product_quantize")
    sub = d // m
    base = stored.select(F.col(ID_COL), V.as_double_array(VEC_COL).alias("__v"))
    books = train_pq_codebooks(
        fit_sample(base, ID_COL, fit_sample_cap),
        m=m, n_codes=n_codes, sub=sub, max_iter=MAX_ITER * 2, id_col=ID_COL,
    )
    code_cols, err_cols = [], []
    for j in range(m):
        # slice(arr, start, length) is 1-based
        subv = F.slice("__v", j * sub + 1, sub)
        code = nearest_code(subv, books[j])
        book = F.array(*[F.array(*[F.lit(x) for x in c]) for c in books[j]])
        recon = F.element_at(book, code + 1)
        err = F.aggregate(
            F.zip_with(subv, recon, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        code_cols.append(code)
        err_cols.append(err)
    total_err = err_cols[0]
    for e in err_cols[1:]:
        total_err = total_err + e
    return base.select(
        F.col(ID_COL),
        F.array(*code_cols).alias("codes"),
        total_err.alias("recon_err"),
        F.aggregate(
            F.col("__v"), F.lit(0.0), lambda acc, x: acc + x * x
        ).alias("sq_norm"),
    )


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 8,
    n: int = 4,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR'98)
    — diversity-aware top-n (r12): from each query's top-m cosine
    candidates, greedily pick n items maximizing
    lam·rel(d) − (1−lam)·max_{s∈selected} sim(d, s), ties to the lower
    id. The greedy recurrence is ITERATIVE but n is a small constant, so
    it unrolls into n in-plan steps (the pagerank/BPE unrolled-CTE
    playbook) — each step one anti-join (drop selected), one join onto
    the m²-per-query pairwise-similarity relation + grouped max (the
    penalty), and one per-query window argmax. PURE Catalyst: no UDF, no
    collect, every join keyed on query_id.

    Determinism: relevance and pairwise sims use the module's
    left-to-right double fold (functions/vector.py — same fold the
    DuckDB oracle runs), so scores are bit-equal cross-engine and the
    id tie-break only decides EXACT double ties, identically on both
    sides.

    Output: (query_id, step 1..n, vec_id, relevance).

    Scale shape: the candidate relation is m rows/query and the sim
    relation m² rows/query — both linear in queries, shuffled on
    query_id with constant per-query work; plan depth is O(n), a
    bounded constant. [NOT IN REFERENCE — executor.py returns raw knn
    order; diversity re-rank is beyond-reference retrieval breadth.]"""
    from executor_u1mindexer_spark.operators import knn as KNN

    if not (1 <= n <= m <= 64):
        raise ValueError(f"need 1 <= n <= m <= 64, got n={n}, m={m}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    base = KNN.knn_search(emb, queries, k=m, metric="cosine", is_distance=False)
    e = emb.select(
        F.col(ID_COL).alias("vec_id"), V.as_double_array(VEC_COL).alias("__emb")
    )
    cands = base.select("query_id", "vec_id", F.col("score").alias("rel")).join(
        e, "vec_id"
    )
    a = cands.select("query_id", F.col("vec_id").alias("a"), F.col("__emb").alias("__ea"))
    b = cands.select("query_id", F.col("vec_id").alias("b"), F.col("__emb").alias("__eb"))
    sims = (
        a.join(b, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            (F.lit(1.0) - V.cosine_distance(F.col("__ea"), F.col("__eb"))).alias(
                "sim"
            ),
        )
    )
    cand_slim = cands.select("query_id", "vec_id", "rel")

    def argmax(df: DataFrame, score_col: str, step: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col(score_col).desc(), F.col("vec_id").asc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id", F.lit(step).alias("step"), "vec_id", "rel"
            )
        )

    selected = argmax(cand_slim, "rel", 1)
    for step in range(2, n + 1):
        remaining = cand_slim.join(
            selected.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
        )
        penalty = (
            sims.join(
                selected.select("query_id", F.col("vec_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("vec_id"))
            .agg(F.max("sim").alias("pen"))
        )
        scored = remaining.join(penalty, ["query_id", "vec_id"]).withColumn(
            "__mmr",
            F.lit(float(lam)) * F.col("rel") - F.lit(1.0 - float(lam)) * F.col("pen"),
        )
        selected = selected.unionByName(argmax(scored, "__mmr", step))
    return selected.orderBy("query_id", "step")
