"""ANN index — fit → assign → search, in memory or persisted.

One core serves both shapes of IVF and PQ/ADC search:

* ``_fit`` trains coarse centroids (and PQ codebooks when ``m_sub > 0``)
  on the deterministic sample and returns an in-memory :class:`AnnIndex`
  whose ``corpus()`` is the lazily assigned frame ``(id, cell, vector,
  codes?)`` — one Arrow ``assign`` pass over the corpus.
* :func:`build_ann_index` is that fit, a ``partitionBy("cell")`` write
  and the ``meta.json`` publish: the build-once/query-many serving
  shape at 10^11 vectors, where the full-corpus assign should run ONCE
  and each later query batch reads only its probed slice.
* :func:`ivf_topk_indexed` / :func:`pq_topk_indexed` search either kind.
  The refit-per-call :func:`~aloha_spark.operators.similarity.ivf_topk`
  / :func:`~aloha_spark.operators.similarity.pq_topk` are the fit plus
  these searches.

Artifact layout under ``path`` (plain parquet + JSON — readable by any
engine, no pickles):

* ``centroids.parquet``  — IVF coarse cells ``(cell:int, centroid:array<double>)``
* ``codebooks.parquet``  — PQ codebooks ``(m:int, j:int, centroid:array<double>)``
  (present iff the index was built with ``m_sub > 0``)
* ``corpus.parquet``     — the inverted file: ``(id, codes?, vector)``
  written ``partitionBy("cell")``
* ``meta.json``          — params/dim/schema, written LAST: it is the
  commit marker, so a partially-built index is invisible to
  :func:`load_ann_index` (the same write-then-publish discipline as
  ``plans/lineage.py``).

The 100 TB story is that the inverted file IS a cell-partitioned
parquet table: probing ``nprobe`` cells is *static partition pruning* —
the scan literally never opens unprobed cells' files (gated in
``tests/test_ann_index.py`` by counting distinct ``input_file_name()``).
PQ codes ride next to the ids (m_sub small ints per vector instead of a
3 KB float array), and the raw vectors are only read by the
exact-rerank tail over the Q x rerank candidate set.

The query side is distributed for IVF: probe cells come from a
broadcast-centroid Arrow pass over the query frame, so an increment of
millions of rows never touches the driver.  PQ search builds its
lookup tables driver-side from the collected query batch (bounded by
``max_queries``) and ships each corpus code once; shipping every
(corpus vector, probing query) pair to the executors instead was
measured 4–28× slower at 1k–100k queries.

Reference parity note: the reference engine has no vector index; this
extends the beyond-reference similarity family (SURVEY §2.11 X7/X28)
with the build/serve split every production ANN deployment uses
(FAISS's index.add / index.search contract, re-expressed as tables).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from .similarity import (_as_matrix, _collect_queries, _cosine_expr,
                         _empty_topk, _id_type, _kmeans_fit, _pq_fit,
                         _rank_within_query, _topk_result, _train_sample,
                         _unit)

_META = "meta.json"
_CENTROIDS = "centroids.parquet"
_CODEBOOKS = "codebooks.parquet"
_CORPUS = "corpus.parquet"
_FORMAT_VERSION = 1


class AnnIndex:
    """Handle over an index: broadcast-sized arrays on the driver
    (centroids, codebooks) + the assigned corpus — the in-memory fit's
    lazy frame, or the cell-partitioned parquet under ``path``."""

    def __init__(self, spark: SparkSession, path: Optional[str], meta: dict,
                 centroids: np.ndarray, codebooks: Optional[np.ndarray],
                 assigned: Optional[DataFrame] = None) -> None:
        self.spark = spark
        self.path = path
        self.meta = meta
        self.centroids = centroids   # (n_centroids, dim), unit-norm
        self.codebooks = codebooks   # (m_sub, ksub, dim/m_sub) or None
        self._assigned = assigned

    def corpus(self) -> DataFrame:
        """The inverted file ``(id, cell, vector, codes?)``; filter on
        ``cell`` before anything else so Catalyst turns it into
        partition pruning on a built index."""
        if self._assigned is not None:
            return self._assigned
        return self.spark.read.parquet(os.path.join(self.path, _CORPUS))


def _fit(corpus: DataFrame, c_id: str, c_vec: str, *, n_centroids: int,
         m_sub: int, ksub: int, seed: int,
         train_sample: int) -> Optional[AnnIndex]:
    """Train on the deterministic unbiased sample
    (:func:`~aloha_spark.operators.similarity._train_sample`) and
    return an in-memory index whose corpus is assigned lazily: every
    vector gets its nearest cell and, with ``m_sub > 0``, its PQ codes.
    ``None`` on an empty corpus."""
    spark = corpus.sparkSession
    sample = _train_sample(corpus, c_id, c_vec, seed, train_sample)
    if not len(sample):
        return None
    cent = _kmeans_fit(sample, n_centroids, seed)
    books = _pq_fit(sample, m_sub, ksub, seed) if m_sub else None

    bc = spark.sparkContext.broadcast((cent, books))
    id_t = _id_type(corpus, c_id)
    dim = sample.shape[1]

    @pandas_udf("struct<cell:int" + (
        ", codes:array<int>>" if books is not None else ">"))
    def assign(vecs: pd.Series) -> pd.DataFrame:
        cent_, books_ = bc.value
        nn = _unit(_as_matrix(vecs).reshape(len(vecs), dim))
        out = pd.DataFrame(
            {"cell": np.argmax(nn @ cent_.T, axis=1).astype(np.int32)})
        if books_ is not None:
            dsub = books_.shape[2]
            codes = np.empty((len(nn), len(books_)), dtype=np.int32)
            for mi, cb in enumerate(books_):
                sub = nn[:, mi * dsub:(mi + 1) * dsub]
                d2 = -2.0 * (sub @ cb.T) + (cb ** 2).sum(axis=1)[None, :]
                codes[:, mi] = np.argmin(d2, axis=1)
            out["codes"] = list(codes)
        return out

    vector = F.col(c_vec).cast("array<double>")
    # Catalyst pushes a filter on cell below this projection by
    # substituting the UDF into it, which runs the assign pass a second
    # time per row.  The cell is never null, and saying so (coalesce)
    # keeps the probe's cell join from inferring an isnotnull filter
    assigned = (corpus.select(F.col(c_id).alias("id"),
                              vector.alias("vector"),
                              assign(vector).alias("_a"))
                      .select("id",
                              F.coalesce("_a.cell", F.lit(-1)).alias("cell"),
                              "vector",
                              *(["_a.codes"] if books is not None else [])))
    meta = {
        "format_version": _FORMAT_VERSION,
        "kind": "ivfpq" if books is not None else "ivf",
        "dim": int(dim),
        "n_centroids": int(len(cent)),
        "m_sub": int(m_sub),
        "ksub": int(books.shape[1]) if books is not None else 0,
        "seed": int(seed),
        "train_sample": int(train_sample),
        "id_col": c_id, "vec_col": c_vec, "id_type": id_t,
    }
    return AnnIndex(spark, None, meta, cent, books, assigned)


def build_ann_index(corpus: DataFrame, path: str, *,
                    c_id: str = "vec_id", c_vec: str = "embedding",
                    n_centroids: int = 16, m_sub: int = 0, ksub: int = 16,
                    seed: int = 7, train_sample: int = 4096) -> AnnIndex:
    """One corpus scan: fit (train coarse centroids, and PQ codebooks
    when ``m_sub > 0``, then assign every vector its cell and codes),
    write the assigned corpus cell-partitioned, and publish the
    artifacts."""
    _require_local(path, "build_ann_index")
    fitted = _fit(corpus, c_id, c_vec, n_centroids=n_centroids,
                  m_sub=m_sub, ksub=ksub, seed=seed,
                  train_sample=train_sample)
    if fitted is None:
        raise ValueError("build_ann_index: corpus is empty")
    spark = fitted.spark
    cent, books = fitted.centroids, fitted.codebooks
    # partitionBy("cell") is the point of the whole artifact: a probe of
    # nprobe cells becomes static partition pruning on the read side
    fitted.corpus().write.mode("overwrite").partitionBy("cell") \
        .parquet(os.path.join(path, _CORPUS))

    cent_df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(cent)],
        "cell int, centroid array<double>")
    cent_df.coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, _CENTROIDS))
    if books is not None:
        rows = [(mi, j, books[mi, j].tolist())
                for mi in range(books.shape[0])
                for j in range(books.shape[1])]
        spark.createDataFrame(rows, "m int, j int, centroid array<double>") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(path, _CODEBOOKS))

    tmp = os.path.join(path, _META + ".tmp")
    with open(tmp, "w") as f:          # write-then-rename: the commit
        json.dump(fitted.meta, f, indent=1)  # marker appears atomically
    os.replace(tmp, os.path.join(path, _META))
    return AnnIndex(spark, path, fitted.meta, cent, books)


def _require_local(path: str, op: str) -> None:
    """meta.json goes through local open()/os.replace while the data
    artifacts go through Spark — on a remote filesystem the full corpus
    scan would succeed and THEN the publish would crash.  Refuse up
    front (same stance as plans/lineage.py's scheme guard)."""
    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"{op}: index paths must be on a locally-mounted filesystem "
            f"(got {path!r}) — the meta.json commit marker is written "
            f"with local file APIs; mount the store or use file://")


def load_ann_index(spark: SparkSession, path: str) -> AnnIndex:
    _require_local(path, "load_ann_index")
    meta_path = os.path.join(path, _META)
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"load_ann_index: no {_META} under {path} — either the path "
            f"is wrong or a build died before publishing (meta.json is "
            f"written last as the commit marker); rebuild with "
            f"build_ann_index")
    with open(meta_path) as f:
        meta = json.load(f)
    if meta.get("format_version") != _FORMAT_VERSION:
        raise ValueError(
            f"load_ann_index: format_version {meta.get('format_version')} "
            f"!= supported {_FORMAT_VERSION}")
    crows = spark.read.parquet(os.path.join(path, _CENTROIDS)) \
        .orderBy("cell").collect()
    cent = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    books = None
    if meta["m_sub"]:
        brows = spark.read.parquet(os.path.join(path, _CODEBOOKS)) \
            .orderBy("m", "j").collect()
        books = np.asarray([r["centroid"] for r in brows],
                           dtype=np.float64).reshape(
            meta["m_sub"], meta["ksub"], meta["dim"] // meta["m_sub"])
    return AnnIndex(spark, path, meta, cent, books)


def _assign_probes(queries: DataFrame, q_id: str, q_vec: str,
                   centroids: np.ndarray, nprobe: int) -> DataFrame:
    """Distributed probe assignment: broadcast the (tiny) centroid
    matrix and sweep the query frame with one Arrow pass — each query
    row emits its ``nprobe`` nearest cells as ``(query_id, cell, qv)``
    with ``qv`` unit-normalized.  The query side NEVER touches the
    driver, so a multi-million-row daily increment is just another
    distributed scan."""
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    npb = min(nprobe, len(centroids))
    out_schema = (f"query_id {_id_type(queries, q_id)}, cell int, "
                  f"qv array<double>")

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            qn = _unit(_as_matrix(pdf["qv"]))
            probes = np.argsort(-(qn @ cent.T), axis=1)[:, :npb]  # (q, npb)
            yield pd.DataFrame({
                "query_id": pdf["query_id"].to_numpy().repeat(npb),
                "cell": probes.reshape(-1).astype(np.int32),
                "qv": [qn[i].tolist()
                       for i in range(len(qn)) for _ in range(npb)],
            })

    return (queries.select(F.col(q_id).alias("query_id"),
                           F.col(q_vec).cast("array<double>").alias("qv"))
                   .mapInPandas(assign, schema=out_schema))


def ivf_topk_indexed(queries: DataFrame, index: AnnIndex, k: int = 5, *,
                     q_id: str = "vec_id", q_vec: str = "embedding",
                     nprobe: int = 2, round_to: Optional[int] = 6,
                     broadcast_queries: Optional[bool] = None) -> DataFrame:
    """IVF search, fully distributed on the query side: probe cells
    come from one broadcast-centroid Arrow assignment pass over the
    query frame (``_assign_probes`` — no driver collect, so the query
    side can be a multi-million-row daily increment), the corpus read
    filters to exactly the probed cells (static partition pruning on a
    built index — the only thing ever collected is the DISTINCT cell
    list, bounded by ``n_centroids``), and the probed slice verifies
    with exact JVM cosine + one top-k window.

    ``broadcast_queries=True`` hints the cell join for the serving
    shape (a handful of queries); the default leaves the choice to
    Catalyst/AQE, which converts to broadcast at runtime when the
    probe table turns out small.

    ``nprobe == n_centroids`` probes everything = exact brute force,
    which is the oracle gate."""
    from .dedup import _track_intermediates

    # persist the probe table: the distinct-cells collect AND the cell
    # join both read it — without the cache the query-side assignment
    # pass runs twice, and a nondeterministic query source could even
    # probe cells the pruned read no longer covers.  Released with the
    # result via the intermediate tracker.
    qdf = _assign_probes(queries, q_id, q_vec, index.centroids, nprobe) \
        .persist()
    # the distinct probed-cell list is <= n_centroids rows — the one
    # bounded collect that buys static partition pruning on the read
    cells = sorted(r[0] for r in qdf.select("cell").distinct().collect())
    if not cells:
        qdf.unpersist()
        return _empty_topk(index.spark, _id_type(queries, q_id),
                           index.meta["id_type"])
    # isin on the partition column -> Catalyst prunes unprobed cells'
    # files before any IO happens.  An in-memory index has no files to
    # prune, and there the filter would run the assign UDF a second time
    # (see _fit): the cell join alone drops unprobed cells
    pruned = index.corpus()
    if index.path is not None:
        pruned = pruned.where(F.col("cell").isin(cells))
    jq = F.broadcast(qdf) if broadcast_queries else qdf
    cands = (pruned.join(jq, "cell")
                   .where(F.col("query_id") != F.col("id"))
                   .withColumn("cosine", _cosine_expr("qv", "vector"))
                   .withColumnRenamed("id", "neighbor_id"))
    return _track_intermediates(_topk_result(cands, k, round_to), qdf)


def pq_topk_indexed(queries: DataFrame, index: AnnIndex, k: int = 5, *,
                    q_id: str = "vec_id", q_vec: str = "embedding",
                    rerank: int = 32, nprobe: Optional[int] = None,
                    round_to: Optional[int] = 6,
                    max_queries: int = 100_000) -> DataFrame:
    """PQ/ADC search against prebuilt codes, optionally IVF-PQ: with
    ``nprobe`` set, the ADC scan first prunes to the probed cells
    (partition pruning), then scores codes via per-query lookup tables;
    the exact-cosine rerank re-reads only the Q x rerank candidate ids.

    The query batch is driver-collected (``max_queries`` raises loudly
    past the cap): its lookup tables are built once and broadcast, and
    each corpus code batch is scored only against the queries that
    probed its cell.  ``query_id`` keeps the query frame's id type.

    ``nprobe=None`` scans all cells' codes (classic PQ); ``rerank >=
    |corpus|`` with full probing is exhaustive — the oracle gate."""
    if index.codebooks is None:
        raise ValueError(
            "pq_topk_indexed: index was built without PQ codes "
            "(m_sub=0) — rebuild with m_sub > 0 or use ivf_topk_indexed")
    spark = index.spark
    q_t = _id_type(queries, q_id)
    n_t = index.meta["id_type"]
    q_ids, qn = _collect_queries(queries, q_id, q_vec, max_queries,
                                 "pq_topk_indexed")
    if not q_ids:
        return _empty_topk(spark, q_t, n_t)
    books = index.codebooks
    m_sub, _, dsub = books.shape
    # ADC lookup tables: LUT[q, m, j] = dot(q_m, books[m, j])
    lut = np.einsum("qmd,mjd->qmj",
                    qn.reshape(len(q_ids), m_sub, dsub), books)

    coded = index.corpus()
    cells = None
    cell_queries = None
    if nprobe is not None:
        probes = np.argsort(-(qn @ index.centroids.T), axis=1)[:, :nprobe]
        cells = sorted(set(probes.ravel().tolist()))
        coded = coded.where(F.col("cell").isin(cells))
        # per-cell query lists: a batch's rows from cell c are scored
        # ONLY against the queries that probed c — without this, file
        # pruning bounds the IO but every query's lookup table still
        # runs over the probed UNION (Q x N work for divergent probes)
        cell_queries = {c: np.flatnonzero((probes == c).any(axis=1))
                        for c in cells}
    bc = spark.sparkContext.broadcast(
        (np.asarray(q_ids, dtype=object), lut, cell_queries))
    keep = ["codes"] + (["cell"] if cells is not None else [])
    coded = coded.select(F.col("id").alias("neighbor_id"), *keep)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, tables, per_cell = bc.value          # tables: (Q, M, K)
        all_q = np.arange(len(ids))
        for pdf in batches:
            groups = [(None, pdf)] if per_cell is None \
                else pdf.groupby("cell", sort=False)
            for cell, grp in groups:
                qidx = all_q if per_cell is None else per_cell.get(cell)
                if qidx is None or grp.empty:
                    continue
                codes = np.stack(grp["codes"].to_numpy()).astype(np.int64)
                n = len(codes)
                sims = np.zeros((len(qidx), n))
                sub = tables[qidx]                            # (q', M, K)
                for mi in range(codes.shape[1]):      # M lookups, no matmul
                    sims += sub[:, mi, codes[:, mi]]
                kk = min(rerank + 1, n)               # +1 absorbs self-match
                top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk] \
                    if kk < n else np.broadcast_to(np.arange(n), sims.shape)
                yield pd.DataFrame({
                    "query_id": np.repeat(ids[qidx], kk),
                    "neighbor_id": grp["neighbor_id"].to_numpy()[top].ravel(),
                    "approx": np.take_along_axis(sims, top, 1).ravel()})

    cands = coded.mapInPandas(
        score, schema=f"query_id {q_t}, neighbor_id {n_t}, approx double")
    shortlist = _rank_within_query(
        cands.where(F.col("query_id") != F.col("neighbor_id")),
        "approx", rerank, "_r").select("query_id", "neighbor_id")
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(q_ids, qn)],
        f"query_id {q_t}, qv array<double>")
    # the rerank corpus read prunes to the probed cells too — every
    # shortlist id comes from them, and without the filter the join
    # would open every cell's files to read the wide vector column
    cv = index.corpus()
    if cells is not None:
        cv = cv.where(F.col("cell").isin(cells))
    cv = cv.select(F.col("id").alias("neighbor_id"),
                   F.col("vector").alias("cv"))
    exact = (cv.join(F.broadcast(shortlist), "neighbor_id")
               .join(F.broadcast(qdf), "query_id")
               .withColumn("cosine", _cosine_expr("qv", "cv")))
    return _topk_result(exact, k, round_to)


def incremental_embedding_dedup(new_docs: DataFrame, index: AnnIndex,
                                *, id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                threshold: float = 0.95,
                                nprobe: int = 2,
                                round_to: Optional[int] = None) -> DataFrame:
    """Embedding-space counterpart of
    ``operators/snapshot.py::incremental_exact_dedup``: rows of
    ``new_docs`` whose nearest INDEXED vector stays below the cosine
    ``threshold`` — today's embeddings dedup against yesterday's corpus
    without rescanning it (the index IS the persisted state; fold an
    increment in by rebuilding or maintaining the index offline).

    The increment side is fully distributed (``ivf_topk_indexed``'s
    broadcast-centroid assignment pass) — a multi-million-row daily
    crawl never touches the driver; the only collect anywhere in the
    path is the distinct probed-cell list (<= n_centroids values),
    machine-gated in ``tests/test_ann_index.py``.

    Recall follows ``nprobe`` exactly as in :func:`ivf_topk_indexed`
    (a near-dup whose indexed twin lives in an unprobed cell is missed
    — raise nprobe for recall, ``nprobe=n_centroids`` is exact); the
    exact-cosine verify means NO false drops at any nprobe.  Id spaces
    must be disjoint between the index and the increment (the underlying
    query skips identical-id pairs as self-matches)."""
    hits = (ivf_topk_indexed(new_docs, index, k=1, q_id=id_col,
                             q_vec=vec_col, nprobe=nprobe,
                             round_to=round_to)
            .where(F.col("cosine") >= threshold)
            .select(F.col("query_id").alias(id_col)).distinct())
    return new_docs.join(hits, id_col, "left_anti")
