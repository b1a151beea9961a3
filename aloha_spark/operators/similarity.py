"""Approximate-nearest-neighbor search over an embedding column.

* ``brute_force_topk`` — exact cosine top-k.  Queries are broadcast (the
  small side) and the corpus streams once; the dot products run inside a
  numpy matmul over Arrow batches (mapInPandas), giving BLAS throughput,
  then a per-query window takes the global top-k.  One corpus scan, one
  small shuffle of (batches x queries x k) candidate rows.
* ``lsh_topk`` — scale path: random-hyperplane bucketing restricts each
  query to its own (multi-probed) bucket; same verification arithmetic.
* ``ivf_topk`` / ``pq_topk`` — refit-per-call IVF and PQ/ADC: an
  in-memory fit of the ``operators/ann_index.py`` index followed by its
  ``ivf_topk_indexed`` / ``pq_topk_indexed`` search, so the one-shot and
  the build-once/query-many shapes share the sample, training,
  assignment, scoring and rerank code.

A pure-JVM variant (``brute_force_topk_sql``) using
``F.zip_with``/``F.aggregate`` exists for oracle parity — Catalyst
evaluates it without Python, which is the right call when k and the
query count are tiny.

The training helpers (:func:`_train_sample`, :func:`_kmeans_fit`,
:func:`_pq_fit`) and the shared top-k tail live here; ``ann_index``
and :func:`semantic_dedup` build on them.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _cosine_expr(a: str, b: str):
    # cast BEFORE multiplying: float32 products lose ~1e-8 precision,
    # enough to flip 6-decimal rounding against a double-precision oracle
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x.cast("double") * x), F.lit(0.0),
        lambda acc, x: acc + x)
    return dot / F.sqrt(sq(a) * sq(b))


def _as_matrix(vecs: Iterable) -> np.ndarray:
    """Stack array-valued cells into one float64 (rows x dim) matrix."""
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])


def _unit(m: np.ndarray) -> np.ndarray:
    """Row-normalize (zero rows stay zero)."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)


def _rank_within_query(df: DataFrame, score: str, n: int,
                       rank: str = "rank") -> DataFrame:
    """Each query's top ``n`` rows by ``score`` (ties to the lower
    neighbor_id), numbered 1..n in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc())
    return df.withColumn(rank, F.row_number().over(w)) \
             .where(F.col(rank) <= n)


def _topk_result(scored: DataFrame, k: int,
                 round_to: Optional[int]) -> DataFrame:
    """The tail every top-k path ends in: rank by exact ``cosine``,
    keep ``k`` per query, round."""
    cos = F.round("cosine", round_to) if round_to is not None \
        else F.col("cosine")
    return _rank_within_query(scored, "cosine", k).select(
        "query_id", "neighbor_id", cos.alias("cosine"), "rank")


def _empty_topk(spark: SparkSession, q_id_type: str,
                n_id_type: str) -> DataFrame:
    """Schema-matched empty result: query_id carries the QUERY frame's
    id type and neighbor_id the corpus's, exactly like a non-empty
    result — so an empty day unions cleanly with a normal day."""
    return spark.createDataFrame(
        [], f"query_id {q_id_type}, neighbor_id {n_id_type}, "
            f"cosine double, rank int")


def _id_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def _collect_queries(queries: DataFrame, q_id: str, q_vec: str,
                     max_queries: int, op: str):
    """Driver-collect the (small) query side as ids + unit-normalized
    vectors.  Fails loudly on misuse instead of silently OOMing the
    driver; the limit bounds what one job can pull even when the check
    trips."""
    qrows = queries.select(q_id, q_vec).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"{op} collects the query side on the driver; got > "
            f"{max_queries} query rows — use ivf_topk/ivf_topk_indexed "
            f"for a large query set, batch it, or raise max_queries "
            f"explicitly")
    q_ids = [r[0] for r in qrows]
    qn = _unit(_as_matrix(r[1] for r in qrows)) if qrows else None
    return q_ids, qn


def brute_force_topk_sql(queries: DataFrame, corpus: DataFrame, k: int = 5,
                         q_id: str = "vec_id", c_id: str = "vec_id",
                         q_vec: str = "embedding", c_vec: str = "embedding",
                         round_to: Optional[int] = 6) -> DataFrame:
    """Exact top-k via broadcast crossJoin + JVM array arithmetic."""
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("qv"))
    c = corpus.select(F.col(c_id).alias("neighbor_id"), F.col(c_vec).alias("cv"))
    scored = (c.crossJoin(F.broadcast(q))
               .where(F.col("query_id") != F.col("neighbor_id"))
               .withColumn("cosine", _cosine_expr("qv", "cv")))
    return _topk_result(scored, k, round_to)


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                     q_id: str = "vec_id", c_id: str = "vec_id",
                     q_vec: str = "embedding", c_vec: str = "embedding",
                     round_to: Optional[int] = 6,
                     max_queries: int = 100_000) -> DataFrame:
    """Exact top-k, numpy matmul path: queries collected + broadcast as a
    dense matrix; each corpus Arrow batch contributes its local top-k per
    query; a final per-query window reduces to the global top-k."""
    spark = queries.sparkSession
    qf_t = _id_type(queries, q_id)
    cf_t = _id_type(corpus, c_id)
    # contract: queries are the SMALL side (driver-collected + broadcast)
    q_ids, qn = _collect_queries(queries, q_id, q_vec, max_queries,
                                 "brute_force_topk")
    if not q_ids:
        return _empty_topk(spark, qf_t, cf_t)
    bc = spark.sparkContext.broadcast((q_ids, qn))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qmat = bc.value
        nq = len(ids)
        for pdf in batches:
            if pdf.empty:
                continue
            sims = _unit(_as_matrix(pdf["cv"])) @ qmat.T  # (batch, nq)
            cid = pdf["neighbor_id"].to_numpy()
            kk = min(k + 1, len(cid))  # +1 allows dropping self-matches later
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
            out_q, out_c, out_s = [], [], []
            for qi in range(nq):
                rows = top[:, qi]
                out_q.extend([ids[qi]] * len(rows))
                out_c.extend(cid[rows].tolist())
                out_s.extend(sims[rows, qi].tolist())
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_c,
                                "cosine": out_s})

    c = corpus.select(F.col(c_id).alias("neighbor_id"), F.col(c_vec).alias("cv"))
    cands = c.mapInPandas(
        score, schema=f"query_id {qf_t}, neighbor_id {cf_t}, cosine double")
    return _topk_result(
        cands.where(F.col("query_id") != F.col("neighbor_id")), k, round_to)


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             q_id: str = "vec_id", c_id: str = "vec_id",
             q_vec: str = "embedding", c_vec: str = "embedding",
             planes: int = 8, seed: int = 5, probe_hamming: int = 1,
             round_to: Optional[int] = 6) -> DataFrame:
    """Approximate top-k: random-hyperplane code join (multi-probe)
    restricts candidates, then exact cosine + window rank."""
    from pyspark.sql.pandas.functions import pandas_udf

    # NULL vectors can't code or score: drop them, and probe the dim
    # from a non-NULL row (empty corpus -> empty typed result)
    corpus = corpus.where(F.col(c_vec).isNotNull())
    queries = queries.where(F.col(q_vec).isNotNull())
    dim_row = corpus.select(F.size(c_vec).alias("d")).first()
    if dim_row is None or dim_row["d"] is None:
        return _empty_topk(corpus.sparkSession, _id_type(queries, q_id),
                           _id_type(corpus, c_id))
    dim = int(dim_row["d"])
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((dim, planes))

    @pandas_udf("int")
    def code_udf(vecs: pd.Series) -> pd.Series:
        bits = (_as_matrix(vecs).reshape(len(vecs), dim) @ mat) > 0
        codes = np.zeros(len(vecs), dtype=np.int64)
        for b in range(planes):
            codes |= bits[:, b].astype(np.int64) << b
        return pd.Series(codes.astype(np.int32))

    c = corpus.select(F.col(c_id).alias("neighbor_id"), F.col(c_vec).alias("cv"),
                      code_udf(F.col(c_vec)).alias("code"))
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("qv"),
                       code_udf(F.col(q_vec)).alias("qcode"))
    from .dedup import _hamming_ball_masks
    probes = [F.col("qcode")] + [
        F.col("qcode").bitwiseXOR(F.lit(m))
        for m in _hamming_ball_masks(planes, probe_hamming)]
    qx = q.select("query_id", "qv",
                  F.explode(F.array(*probes)).alias("probe"))
    cands = (c.join(F.broadcast(qx), F.col("code") == F.col("probe"))
              .where(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cosine", _cosine_expr("qv", "cv"))
              .dropDuplicates(["query_id", "neighbor_id"]))
    return _topk_result(cands, k, round_to)


def _train_sample(corpus: DataFrame, c_id: str, c_vec: str, seed: int,
                  n: int) -> np.ndarray:
    """The training sample every fit uses, unit-normalized ((0, 0) on
    an empty corpus).

    Deterministic AND unbiased: a bare limit() is whatever partitions
    answer first (run-to-run nondeterminism), and ordering by the raw
    id would bias training toward the oldest vectors when ids correlate
    with ingestion time/content drift.  TakeOrdered on a hash of the id
    is a single O(n log sample) scan (no full sort shuffle) that
    samples uniformly and reproducibly."""
    rows = (corpus.select(c_id, c_vec)
            .orderBy(F.xxhash64(F.col(c_id).cast("string"), F.lit(seed)),
                     F.col(c_id))
            .limit(n).collect())
    if not rows:
        return np.empty((0, 0))
    return _unit(_as_matrix(r[1] for r in rows))


def _kmeans_fit(sample: np.ndarray, n_centroids: int, seed: int,
                iters: int = 10) -> np.ndarray:
    """Deterministic Lloyd iterations on a driver-side sample (numpy).
    Centroids on unit-normalized vectors approximate spherical k-means."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    cent = sample[rng.choice(n, size=min(n_centroids, n), replace=False)]
    for _ in range(iters):
        sims = sample @ cent.T
        assign = np.argmax(sims, axis=1)
        for ci in range(len(cent)):
            members = sample[assign == ci]
            if len(members):
                m = members.mean(axis=0)
                cent[ci] = m / max(np.linalg.norm(m), 1e-30)
    return cent


def _pq_fit(sample: np.ndarray, m_sub: int, ksub: int,
            seed: int, iters: int = 12) -> np.ndarray:
    """Train product-quantization codebooks (Jegou et al. 2011, TPAMI
    "Product Quantization for Nearest Neighbor Search"): split the
    (already unit-normalized) sample into ``m_sub`` contiguous
    subspaces and run deterministic L2 Lloyd iterations per subspace.
    Returns codebooks of shape (m_sub, <=ksub, dim/m_sub)."""
    n, dim = sample.shape
    if dim % m_sub:
        raise ValueError(
            f"pq_topk: embedding dim {dim} not divisible by m_sub={m_sub}")
    dsub = dim // m_sub
    rng = np.random.default_rng(seed)
    books = []
    for mi in range(m_sub):
        sub = sample[:, mi * dsub:(mi + 1) * dsub]
        cent = sub[rng.choice(n, size=min(ksub, n), replace=False)].copy()
        for _ in range(iters):
            # L2 assignment == argmax(2x.c - |c|^2); keep it literal
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2) \
                if n * len(cent) * dsub <= 2**24 else (
                    -2.0 * (sub @ cent.T)
                    + (cent ** 2).sum(axis=1)[None, :])
            assign = np.argmin(d2, axis=1)
            for ci in range(len(cent)):
                members = sub[assign == ci]
                if len(members):
                    cent[ci] = members.mean(axis=0)
        books.append(cent)
    return np.asarray(books)


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             q_id: str = "vec_id", c_id: str = "vec_id",
             q_vec: str = "embedding", c_vec: str = "embedding",
             n_centroids: int = 16, nprobe: int = 2, seed: int = 7,
             train_sample: int = 4096,
             round_to: Optional[int] = 6) -> DataFrame:
    """IVF (inverted-file) ANN, refit on every call — the classic scale
    path for one-shot passes:

    1. TRAIN: spherical k-means on the deterministic driver sample gives
       ``n_centroids`` coarse cells; the centroid matrix is broadcast
       (tiny: n_centroids x dim).
    2. ASSIGN: one Arrow pass maps every corpus row to its
       nearest-centroid cell id — the inverted file is just a column,
       so at 100 TB it lives with the data and never materializes
       driver-side.
    3. PROBE: each query expands to its ``nprobe`` closest cells, the
       candidate join is an equi-join on cell id (queries broadcast),
       and exact cosine + window rank verify.

    Steps 1-2 are the in-memory fit of ``ann_index.build_ann_index``
    and step 3 is :func:`~aloha_spark.operators.ann_index.ivf_topk_indexed`,
    so this equals querying an index built with the same parameters.
    ``nprobe == n_centroids`` degenerates to exact brute force, which is
    the oracle gate; recall grows with nprobe at cost proportional to
    the probed fraction of the corpus.  An empty corpus gives an empty
    result."""
    from .ann_index import _fit, ivf_topk_indexed

    index = _fit(corpus, c_id, c_vec, n_centroids=n_centroids, m_sub=0,
                 ksub=0, seed=seed, train_sample=train_sample)
    if index is None:
        return _empty_topk(corpus.sparkSession, _id_type(queries, q_id),
                           _id_type(corpus, c_id))
    return ivf_topk_indexed(queries, index, k, q_id=q_id, q_vec=q_vec,
                            nprobe=nprobe, round_to=round_to,
                            broadcast_queries=True)


def pq_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
            q_id: str = "vec_id", c_id: str = "vec_id",
            q_vec: str = "embedding", c_vec: str = "embedding",
            m_sub: int = 8, ksub: int = 16, rerank: int = 32,
            seed: int = 7, train_sample: int = 4096,
            round_to: Optional[int] = 6,
            max_queries: int = 100_000) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring and an
    exact rerank tail, refit on every call — the memory-bound scale path
    IVF cannot give:

    1. TRAIN: per-subspace L2 k-means codebooks on the deterministic
       driver sample; codebooks are (m_sub x ksub x dim/m_sub) —
       kilobytes, broadcast.
    2. ENCODE: one Arrow pass compresses every corpus vector to
       ``m_sub`` small codes.  THIS is the 100 TB story: a 768-dim
       float32 embedding (3 KB) becomes m_sub bytes, so the scan that
       scores 10^11 vectors reads ~100x less.
    3. SCORE (ADC): dot(q, reconstruct(x)) == sum_m dot(q_m, c[m,
       code_m]), so per-query lookup tables LUT[q, m, j] = q_m . c[m, j]
       computed ONCE driver-side (broadcast) turn scoring into m_sub
       table lookups per vector, with a per-batch top-``rerank`` per
       query (map-side combine).
    4. RERANK: global top-``rerank`` by approx (one window), re-attach
       true vectors for the Q x rerank candidate set, exact cosine,
       final top-k window.

    Steps 1-2 are the in-memory fit of ``ann_index.build_ann_index``
    (one cell) and steps 3-4 are
    :func:`~aloha_spark.operators.ann_index.pq_topk_indexed` with
    ``nprobe=None``.  ``rerank >= |corpus|`` is exhaustive (every vector
    reranked exactly) — that configuration gates the machinery against
    the brute-force oracle; recall at realistic ``rerank`` is measured
    in tests.  Queries are the driver-collected small side (same
    ``max_queries`` loud-failure contract as :func:`brute_force_topk`).
    An empty corpus gives an empty result."""
    from .ann_index import _fit, pq_topk_indexed

    index = _fit(corpus, c_id, c_vec, n_centroids=1, m_sub=m_sub, ksub=ksub,
                 seed=seed, train_sample=train_sample)
    if index is None:
        return _empty_topk(corpus.sparkSession, _id_type(queries, q_id),
                           _id_type(corpus, c_id))
    return pq_topk_indexed(queries, index, k, q_id=q_id, q_vec=q_vec,
                           rerank=rerank, round_to=round_to,
                           max_queries=max_queries)


def semantic_dedup(corpus: DataFrame, id_col: str = "vec_id",
                   vec: str = "embedding", *, threshold: float = 0.95,
                   n_clusters: int = 16, seed: int = 7,
                   train_sample: int = 4096,
                   max_cluster_size: int = 10_000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then within each cluster greedily drop any vector
    whose cosine similarity to an already-kept vector reaches
    ``threshold``.  Keep order is ascending similarity-to-centroid
    (ties by id), i.e. the most ATYPICAL member of each epsilon-ball
    survives — the keep rule the paper found best preserves downstream
    accuracy.

    Returns one row per input vector:
    ``(id, cluster, centroid_sim, keep)``.

    100 TB story: k-means is fit driver-side on the deterministic
    uniform sample (:func:`_train_sample`, as for :func:`ivf_topk`) and
    the centroid matrix broadcasts; assignment is one Arrow pass.  The
    quadratic stage only ever sees ONE CLUSTER at a time (applyInPandas
    over the cluster id), so ``n_clusters`` is chosen to make E[cluster
    size] manageable (the paper used ~50k clusters for 100M items).  A
    degenerate hot cluster is bounded by ``max_cluster_size``: overflow
    clusters split deterministically into hash sub-shards that dedup
    independently — bounded memory at a disclosed recall cost on the
    split cluster (same contract as simhash's star-degrade).  The
    greedy scan itself is vectorized: one (1 x kept) matmul per member,
    O(m^2) flops worst case but BLAS-fast and bounded by the cap.
    """
    spark = corpus.sparkSession
    id_t = _id_type(corpus, id_col)
    out_schema = (f"{id_col} {id_t}, cluster int, centroid_sim double, "
                  f"keep boolean")

    sample = _train_sample(corpus, id_col, vec, seed, train_sample)
    if not len(sample):
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast(_kmeans_fit(sample, n_clusters, seed))
    dim = sample.shape[1]

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("struct<cluster:int, centroid_sim:double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        sims = _unit(_as_matrix(vecs).reshape(len(vecs), dim)) @ bc.value.T
        best = np.argmax(sims, axis=1)
        return pd.DataFrame({
            "cluster": best.astype(np.int32),
            "centroid_sim": sims[np.arange(len(best)), best]})

    assigned = (corpus
                .select(id_col, vec, assign(F.col(vec)).alias("_a"))
                .select(id_col, vec,
                        F.col("_a.cluster").alias("cluster"),
                        F.col("_a.centroid_sim").alias("centroid_sim")))

    # skew guard: count cluster sizes FIRST (tiny relation — one row
    # per cluster), then sub-shard only the overflow clusters
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("_csz"))
    sharded = (assigned
               .join(F.broadcast(sizes), "cluster")
               .withColumn(
                   "_nsub",
                   F.ceil(F.col("_csz") / F.lit(max_cluster_size))
                    .cast("int"))
               .withColumn(
                   "_sub",
                   F.pmod(F.xxhash64(F.col(id_col).cast("string"),
                                     F.lit(seed + 1)),
                          F.col("_nsub")).cast("int")))

    def dedup_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["centroid_sim", id_col]).reset_index(drop=True)
        vv = _unit(_as_matrix(pdf[vec]))
        keep = np.zeros(len(pdf), dtype=bool)
        kept_rows = []
        for i in range(len(pdf)):
            if kept_rows and np.max(vv[kept_rows] @ vv[i]) >= threshold:
                continue
            keep[i] = True
            kept_rows.append(i)
        return pd.DataFrame({
            id_col: pdf[id_col],
            "cluster": pdf["cluster"].astype("int32"),
            "centroid_sim": pdf["centroid_sim"],
            "keep": keep})

    return (sharded
            .groupBy("cluster", "_sub")
            .applyInPandas(dedup_group, out_schema))
