"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring the dedup ladder:

- ``cosine_topk_bruteforce`` — exact top-k, O(|Q|·|C|): the correctness
  baseline. Arithmetic is sequential-double on both Spark and the
  DuckDB oracle (F.aggregate / list_reduce), so scores are
  bitwise-comparable cross-engine.
- ``cosine_topk_lsh`` — random-hyperplane (sign) LSH bucketing: the
  scale path. Deterministic hyperplanes from a seeded numpy
  RandomState, shipped as literal arrays (no UDF for bucketing);
  candidates are exact-reranked per bucket.

At 100 TB you'd first shard the corpus by bucket (partition pruning on
the bucket column), broadcast the (small) query set, and rerank inside
each shard — exactly what the LSH variant's plan does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import spread


def _dot(a: Column, b: Column) -> Column:
    """Sequential-double dot product (cross-engine deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _sq_norm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_sq_norm(a)) * F.sqrt(_sq_norm(b)))


def with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """Attach ``sqrt(Σx²)`` as a column — compute each vector's norm
    ONCE before a pairwise join instead of once per PAIR.

    ``cosine(a, b)`` re-evaluates both interpreted norm folds for every
    row of a pairwise join (O(pairs·dim) extra work); precomputing
    turns that into O(rows·dim). Bitwise-identical to the inline form:
    the per-pair expression becomes ``dot/(norm_a*norm_b)`` with the
    exact same operand order, so oracled scores do not move.
    """
    return df.withColumn(out, F.sqrt(_sq_norm(F.col(vec_col))))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
) -> DataFrame:
    """Exact cosine top-k: (query_id, corpus_id, score, rank).

    The query side is broadcast (query sets are driver-small by
    construction); the corpus streams — one pass, no shuffle besides
    the final per-query top-k, which TakeOrdered keeps tiny. Norms are
    precomputed per row (see ``with_norm``) and the corpus side is
    spread across cores when under-split.
    """
    joined = with_norm(spread(corpus), corpus_vec, "_cn").join(
        F.broadcast(with_norm(queries, query_vec, "_qn")),
        F.col(query_id) != F.col(corpus_id),
    )
    scored = joined.select(
        query_id,
        corpus_id,
        (
            _dot(F.col(query_vec), F.col(corpus_vec))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_numpy(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
) -> DataFrame:
    """Exact top-k via Arrow + BLAS: the high-throughput batch-scoring
    path. The (small) query matrix broadcasts to every executor; each
    corpus batch is scored with one float64 GEMM and — crucially —
    emits only its per-query top-k (a mergeable partial top-k, the
    same trick TakeOrdered uses), so the Python→JVM boundary carries
    batches×queries×k rows instead of corpus×queries. The earlier
    emit-all-pairs form shipped |corpus|·|queries| scored rows through
    the shuffle into the rank window, which dominated end-to-end time
    and let the interpreted fold (s01) tie it; with batch top-k the
    GEMM path is ~2× s01 at 500k×64 (bench `crossover100x`).

    mapInArrow, not mapInPandas: the embedding column flattens
    zero-copy to a (n·dim) float buffer and reshapes — no per-row
    python-object traversal. Per-batch ties at the k boundary break by
    lexsort (score desc, id asc), matching the global window's order,
    so results are partition-invariant and identical to bruteforce.

    BLAS accumulates pairwise, so scores can differ from the
    sequential-double oracle in the last ulp → verified by equivalence
    to the bruteforce operator within 1e-9 (tests/test_sketches.py),
    not by value-hash.
    """
    import numpy as np
    import pyarrow as pa

    q_rows = queries.select(query_id, query_vec).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score_topk(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            ids = (
                batch.column(corpus_id)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = batch.column(corpus_vec).flatten().to_numpy(
                zero_copy_only=False
            )
            m = flat.reshape(n, -1).astype(np.float64)
            c_norm = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = c_norm @ q_norm.T  # (batch, n_queries)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                row_ids, row_sc = ids[mask], sims[mask, qi]
                take = min(k, len(row_ids))
                if not take:
                    continue
                top = np.lexsort((row_ids, -row_sc))[:take]
                out_q.append(np.full(take, q_ids[qi]))
                out_c.append(row_ids[top])
                out_s.append(row_sc[top])
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q)),
                        pa.array(np.concatenate(out_c)),
                        pa.array(np.concatenate(out_s)),
                    ],
                    names=[query_id, corpus_id, "score"],
                )

    # Byte-aware spread: the GEMM amortizes over Arrow batch size, so
    # fan-out below ~8 MB/split costs more (exchange + python workers)
    # than it buys — see util.spread. At 100 TB the scan is already
    # thousands of splits and this is a no-op either way.
    scored = spread(corpus, bytes_per_split=8 << 20).mapInArrow(
        score_topk, schema=f"{query_id} long, {corpus_id} long, score double"
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    n_clusters: int = 8,
    n_iters: int = 5,
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
    seed: int = 42,
    driver_sample: int | None = None,
) -> DataFrame:
    """Deterministic spherical k-means centroids for IVF, DataFrame-native.

    ``driver_sample=N`` switches to sample-based training: a
    deterministic hash-ordered sample of N vectors is collected once
    and Lloyd runs entirely in numpy on the driver — the production
    posture at 100 TB (k-means quality needs thousands of points per
    cluster, not the corpus; the full corpus is only touched for
    assignment afterwards), and locally it replaces per-iteration Spark
    jobs with microseconds of BLAS. Distributed training (default)
    remains for when the sample must exceed driver memory.

    Init is k-means++ (D² sampling) over a bounded, hash-ordered driver
    sample — deterministic regardless of partitioning (seeded RNG over
    a deterministic sample). Each Lloyd iteration assigns every vector to its
    max-cosine centroid (broadcast join, JVM-side fold arithmetic) and
    recomputes centroids as element-wise means (posexplode + partial
    aggregation — map-side combine keeps the shuffle at
    clusters × dim rows). The driver holds only the
    ``n_clusters × dim`` centroid matrix between iterations.

    Scale posture: at 100 TB you train on a hash-sample of the corpus
    (``corpus.filter(xxhash64(id) % m == 0)``) — k-means quality needs
    only thousands of points per cluster, not the full corpus; the full
    corpus is touched once afterwards for assignment inside
    ``cosine_topk_ivf``. Empty clusters keep their previous centroid.
    """
    import numpy as np

    spark = corpus.sparkSession
    # _vn (vector norm) is loop-invariant: computed once, cached, and
    # reused by every Lloyd iteration's assignment join.
    vecs = (
        spread(corpus)
        .select(
            F.col(corpus_id).alias("_id"),
            F.transform(F.col(corpus_vec), lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_vn", F.sqrt(_sq_norm(F.col("_v"))))
        .cache()
    )
    # k-means++ (D² sampling) on a hash-ordered driver sample: random
    # init collapses when two seeds land in one natural cluster; ++
    # init spreads seeds by squared cosine distance. The sample is
    # bounded (init_sample rows), so driver memory stays O(sample·dim)
    # no matter the corpus size.
    init_sample = max(n_clusters * 32, 256, driver_sample or 0)
    sample = np.array(
        [
            r._v
            for r in vecs.orderBy(F.xxhash64(F.col("_id"), F.lit(seed)), F.col("_id"))
            .limit(init_sample)
            .select("_v")
            .collect()
        ]
    )
    sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    chosen = [int(rng.randint(len(sn)))]
    d2 = 1.0 - sn @ sn[chosen[0]]
    for _ in range(1, n_clusters):
        probs = np.maximum(d2, 0)
        total = probs.sum()
        if total <= 0:  # all points identical — duplicate seeds are fine
            nxt = int(rng.randint(len(sn)))
        else:
            nxt = int(rng.choice(len(sn), p=probs / total))
        chosen.append(nxt)
        d2 = np.minimum(d2, 1.0 - sn @ sn[nxt])
    cents = [sample[c].tolist() for c in chosen]

    if driver_sample is not None:
        # Sample-based Lloyd, all-numpy: fixed operation order → fully
        # deterministic; empty clusters keep their previous centroid.
        vecs.unpersist()
        sn_all = np.linalg.norm(sample, axis=1, keepdims=True)
        sn_all[sn_all == 0] = 1.0
        mn = sample / sn_all
        for _ in range(n_iters):
            cmat = np.array(cents, dtype=np.float64)
            cn = np.linalg.norm(cmat, axis=1)
            cn[cn == 0] = 1.0
            best = np.argmax(mn @ (cmat / cn[:, None]).T, axis=1)
            for ci in range(n_clusters):
                mask = best == ci
                if mask.any():
                    cents[ci] = sample[mask].mean(axis=0).tolist()
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], ["_cent_id", "_cent_vec"]
        )

    # Each Lloyd iteration is ONE Arrow stage over the cached vectors:
    # the (k × dim) centroid matrix rides the closure, every batch is
    # assigned with a single float64 GEMM (argmax cosine; ties break to
    # the smallest cent_id via numpy argmax), and only per-partition
    # partial sums (k rows × dim + counts — classic mergeable state)
    # leave the executors. The driver combines partials in (cent_id,
    # partition_id) order, so results are deterministic for a fixed
    # partitioning. This replaces a join + row_number window + a
    # posexplode double-aggregation per iteration — at 100 TB the only
    # shuffled bytes are k·partitions summary rows.
    n_k = len(cents)
    for _ in range(n_iters):
        cmat = np.array(cents, dtype=np.float64)
        cnorm = np.linalg.norm(cmat, axis=1)
        cnorm[cnorm == 0] = 1.0

        def partials(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            sums = np.zeros((n_k, cmat.shape[1]), dtype=np.float64)
            counts = np.zeros(n_k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(list(pdf["_v"]), dtype=np.float64)
                vn = pdf["_vn"].to_numpy(dtype=np.float64)
                vn = np.where(vn == 0, 1.0, vn)
                cos = (m @ cmat.T) / (vn[:, None] * cnorm[None, :])
                best = np.argmax(cos, axis=1)  # first (smallest) id wins ties
                for ci in range(n_k):
                    mask = best == ci
                    if mask.any():
                        sums[ci] += m[mask].sum(axis=0)
                        counts[ci] += int(mask.sum())
            hit = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "_pid": np.full(len(hit), pid, dtype=np.int64),
                    "_cent_id": hit.astype(np.int64),
                    "_count": counts[hit],
                    "_sum": list(sums[hit]),
                }
            )

        rows = vecs.mapInPandas(
            partials,
            schema="_pid long, _cent_id long, _count long, _sum array<double>",
        ).collect()
        acc: dict[int, tuple[np.ndarray, int]] = {}
        for r in sorted(rows, key=lambda r: (r._cent_id, r._pid)):
            s, c = acc.get(r._cent_id, (np.zeros(cmat.shape[1]), 0))
            acc[r._cent_id] = (s + np.asarray(r._sum), c + r._count)
        for ci, (s, c) in acc.items():
            cents[ci] = (s / c).tolist()  # empty clusters keep previous
    vecs.unpersist()
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], ["_cent_id", "_cent_vec"]
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantization + probed rerank.

    ``centroids`` (id, vec) defaults to the corpus rows with the k
    smallest ids — deterministic; production would train k-means. Each
    corpus vector is assigned to its nearest centroid (the inverted
    file); each query probes its ``n_probe`` nearest centroids and
    exact-reranks only those clusters.

    Scale: the corpus partitions by cluster id — a 100-TB corpus
    becomes cluster-pruned parquet, and each query touches n_probe
    clusters instead of everything. Recall < 1; benchmark vs
    bruteforce (tests/test_sketches.py).
    """
    if centroids is None:
        centroids = corpus.orderBy(corpus_id).limit(8).select(
            F.col(corpus_id).alias("_cent_id"), F.col(corpus_vec).alias("_cent_vec")
        )
    cent = F.broadcast(with_norm(centroids, "_cent_vec", "_ctn"))

    # corpus → cluster assignment (argmax cosine over centroids);
    # per-row norms are computed once and reused for the final rerank.
    w_assign = Window.partitionBy(corpus_id).orderBy(
        F.col("_cos").desc(), F.col("_cent_id")
    )
    assigned = (
        with_norm(spread(corpus), corpus_vec, "_cn")
        .join(cent)
        .select(
            corpus_id,
            corpus_vec,
            "_cn",
            "_cent_id",
            (
                _dot(F.col(corpus_vec), F.col("_cent_vec"))
                / (F.col("_cn") * F.col("_ctn"))
            ).alias("_cos"),
        )
        .withColumn("_rn", F.row_number().over(w_assign))
        .filter(F.col("_rn") == 1)
        .select(corpus_id, corpus_vec, "_cn", F.col("_cent_id").alias("_cluster"))
    )

    # queries → n_probe clusters
    w_probe = Window.partitionBy(query_id).orderBy(
        F.col("_cos").desc(), F.col("_cent_id")
    )
    probes = (
        with_norm(queries, query_vec, "_qn")
        .join(cent)
        .select(
            query_id,
            query_vec,
            "_qn",
            "_cent_id",
            (
                _dot(F.col(query_vec), F.col("_cent_vec"))
                / (F.col("_qn") * F.col("_ctn"))
            ).alias("_cos"),
        )
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= n_probe)
        .select(query_id, query_vec, "_qn", F.col("_cent_id").alias("_cluster"))
    )

    scored = (
        assigned.join(F.broadcast(probes), "_cluster")
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            (
                _dot(F.col(query_vec), F.col(corpus_vec))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_assign: int = 1,
) -> DataFrame:
    """Top-``n_assign``-cosine cluster assignment: input columns +
    ``_cluster`` (one row per assigned cluster).

    One broadcast join against the (tiny) centroid table + a per-id
    rank — the coarse-quantization step shared by IVF search and
    clustered dedup. ``n_assign > 1`` is soft/multi-probe assignment:
    boundary vectors are duplicated into their runner-up clusters,
    trading n_assign× index size for recall on pairs that a hard
    assignment splits. Per-vector norms are computed once (not once per
    centroid) and returned as ``_norm`` for downstream pairwise reuse.
    """
    w = Window.partitionBy(id_col).orderBy(F.col("_cos").desc(), F.col("_cent_id"))
    return (
        with_norm(spread(vectors), vec_col, "_norm")
        .join(F.broadcast(with_norm(centroids, "_cent_vec", "_ctn")))
        .select(
            *vectors.columns,
            "_norm",
            "_cent_id",
            (
                _dot(F.col(vec_col), F.col("_cent_vec"))
                / (F.col("_norm") * F.col("_ctn"))
            ).alias("_cos"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_assign)
        .select(*vectors.columns, "_norm", F.col("_cent_id").alias("_cluster"))
    )


def _blocked_cluster_pairs(
    assigned: DataFrame, *, threshold: float, chunk_size: int
) -> DataFrame:
    """Bounded-memory within-cluster pairing: the mega-cluster fix.

    Rows hash into ``ceil(cluster_size / chunk_size)`` chunks
    (stateless ``pmod(xxhash64(id), n_chunks)`` — no window over the
    cluster, so no single task ever sees the whole cluster). Each row
    replicates into every (lo, hi) chunk-pair unit it belongs to; a
    unit scores chunk-lo × chunk-hi (triangle when lo == hi). Task
    memory is <= 2·chunk_size vectors + chunk_size² scores no matter
    how degenerate the cluster, and a mega-cluster becomes n_chunks²
    evenly-sized units instead of one giant task. Every (a, b) pair
    lands in exactly one unit: (chunk(a), chunk(b)) sorted.
    """
    sizes = assigned.groupBy("_cluster").agg(F.count(F.lit(1)).alias("_csz"))
    chunked = (
        assigned.join(F.broadcast(sizes), "_cluster")
        .withColumn(
            "_nch", F.ceil(F.col("_csz") / F.lit(chunk_size)).cast("int")
        )
        .withColumn(
            "_chunk",
            F.pmod(F.xxhash64(F.col("corpus_id")), F.col("_nch")).cast("int"),
        )
    )
    units = chunked.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("_nch") - 1)).alias("_other")
    ).select(
        "_cluster",
        "corpus_id",
        "corpus_vec",
        "_chunk",
        F.least("_chunk", "_other").alias("_lo"),
        F.greatest("_chunk", "_other").alias("_hi"),
    )

    def unit_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
            {"id_a": "int64", "id_b": "int64", "score": "float64"}
        )
        lo, hi = int(pdf["_lo"].iloc[0]), int(pdf["_hi"].iloc[0])

        def side(c: int) -> tuple[np.ndarray, np.ndarray]:
            rows = pdf[pdf["_chunk"] == c].sort_values("corpus_id")
            ids = rows["corpus_id"].to_numpy(dtype=np.int64)
            m = np.array(list(rows["corpus_vec"]), dtype=np.float64)
            if len(ids):
                nrm = np.linalg.norm(m, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                m = m / nrm
            return ids, m

        ids_a, m_a = side(lo)
        if lo == hi:
            if len(ids_a) < 2:
                return empty
            sims = m_a @ m_a.T
            ii, jj = np.triu_indices(len(ids_a), k=1)
            keep = sims[ii, jj] >= threshold
            ii, jj = ii[keep], jj[keep]
            if not len(ii):
                return empty
            return pd.DataFrame(
                {"id_a": ids_a[ii], "id_b": ids_a[jj], "score": sims[ii, jj]}
            )
        ids_b, m_b = side(hi)
        if not len(ids_a) or not len(ids_b):
            return empty
        sims = m_a @ m_b.T
        ii, jj = np.nonzero(sims >= threshold)
        if not len(ii):
            return empty
        a, b = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "score": sims[ii, jj],
            }
        )

    return units.groupBy("_cluster", "_lo", "_hi").applyInPandas(
        unit_pairs, schema="id_a long, id_b long, score double"
    )


def embedding_neardup_clustered(
    emb: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_clusters: int = 8,
    n_iters: int = 3,
    n_assign: int = 1,
    driver_sample: int | None = None,
    chunk_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cosine >= threshold) via
    k-means bucketing — the SemDeDup shape and the scale path that
    replaces the all-pairs baseline (d06): pairs are only scored
    *within* a cluster, so the quadratic term is per-cluster, not
    global, and clusters partition-prune at 100 TB.

    Recall < 1 by construction (a near-dup pair split across a cluster
    boundary is missed); at threshold ~0.95 the two vectors are nearly
    collinear, so boundary splits need the pair to sit almost exactly
    between two centroids — tests bound the observed recall against
    the exact operator. Lower thresholds split pairs far more often;
    ``n_assign=2`` (multi-probe assignment) recovers much of that
    recall for ~2× index size.
    """
    corpus = emb.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("corpus_vec")
    )
    centroids = train_ivf_centroids(
        corpus,
        n_clusters=n_clusters,
        n_iters=n_iters,
        driver_sample=driver_sample,
    )
    assigned = assign_clusters(
        corpus,
        centroids,
        id_col="corpus_id",
        vec_col="corpus_vec",
        n_assign=n_assign,
    )

    # Grouped GEMM per cluster (applyInPandas): each cluster's vectors
    # are normalized once and scored block-by-block against the whole
    # cluster (block rows bound the similarity matrix to block×cluster
    # doubles), keeping only upper-triangle pairs over the threshold.
    # One pass over the assignment — the row-pair self-join form
    # evaluated the entire train+assign lineage twice and shuffled the
    # pair fan-out. Skew note: one mega-cluster concentrates work on
    # one task in THIS default path; pass ``chunk_size`` to switch to
    # _blocked_cluster_pairs, which bounds every task regardless of
    # cluster degeneracy (same pair set, pinned by tests).
    if chunk_size is not None:
        pairs = _blocked_cluster_pairs(
            assigned, threshold=threshold, chunk_size=chunk_size
        )
        if n_assign > 1:
            pairs = pairs.dropDuplicates(["id_a", "id_b"])
        return pairs

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
                {"id_a": "int64", "id_b": "int64", "score": "float64"}
            )
        pdf = pdf.sort_values("corpus_id")
        ids = pdf["corpus_id"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["corpus_vec"]), dtype=np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        m = m / nrm
        out_a, out_b, out_s = [], [], []
        block = 1024
        for lo in range(0, len(ids), block):
            hi = min(lo + block, len(ids))
            sims = m[lo:hi] @ m.T  # (block, n)
            for i in range(lo, hi):
                row = sims[i - lo, i + 1 :]
                keep = np.nonzero(row >= threshold)[0]
                if len(keep):
                    out_a.append(np.full(len(keep), ids[i]))
                    out_b.append(ids[i + 1 + keep])
                    out_s.append(row[keep])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
                {"id_a": "int64", "id_b": "int64", "score": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "score": np.concatenate(out_s),
            }
        )

    pairs = assigned.groupBy("_cluster").applyInPandas(
        cluster_pairs, schema="id_a long, id_b long, score double"
    )
    if n_assign > 1:
        # a pair sharing two probed clusters is emitted twice with the
        # same score — one survivor is enough
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    ``n_tables`` independent tables of ``n_planes`` sign bits each; a
    candidate pair collides in >= 1 table (P[collide per table] =
    (1-θ/π)^n_planes — multiple tables trade compute for recall).
    Candidates are deduped then exact-reranked. Recall < 1 by design —
    tests/test_sketches.py bounds it against bruteforce.

    Bucketing projects every vector onto n_tables·n_planes hyperplanes:
    as interpreted Column folds that is ~128 dot products per row (the
    measured bottleneck of the whole query), so the projection runs as
    ONE float64 GEMM per Arrow batch in a pandas UDF. Sign-of-dot is
    the only thing consumed, so BLAS accumulation order is immaterial
    except for |dot| within rounding of 0 — a measure-zero event for
    random hyperplanes, and this operator is recall-bounded, not
    hash-oracled. The exact rerank stays in Column expressions.
    """
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)],
        dtype=np.float64,
    )  # (n_tables, n_planes, dim)
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.array(list(vecs), dtype=np.float64)  # (n, dim)
        bits = (m @ flat.T >= 0).astype(np.int64)  # (n, T·P)
        ids = (bits.reshape(len(m), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(ids))

    def bucket_array(vec: str) -> F.Column:
        return bucket_ids(F.col(vec))

    qb = with_norm(queries, query_vec, "_qn").select(
        query_id,
        query_vec,
        "_qn",
        F.posexplode(bucket_array(query_vec)).alias("_t", "_b"),
    )
    cb = with_norm(spread(corpus), corpus_vec, "_cn").select(
        corpus_id,
        corpus_vec,
        "_cn",
        F.posexplode(bucket_array(corpus_vec)).alias("_t", "_b"),
    )
    cand = (
        cb.join(F.broadcast(qb), ["_t", "_b"])
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, query_vec, "_qn", corpus_id, corpus_vec, "_cn")
        .dropDuplicates([query_id, corpus_id])
    )
    scored = cand.select(
        query_id,
        corpus_id,
        (
            _dot(F.col(query_vec), F.col(corpus_vec))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ's memory tier)
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 8,
    sample: int = 4096,
    seed: int = 42,
) -> "np.ndarray":
    """Per-subspace k-means codebooks (n_subspaces, n_codes, dim/n_subspaces).

    Product quantization (Jégou, Douze & Schmid, PAMI'11): split each
    L2-normalized vector into ``n_subspaces`` contiguous blocks and
    vector-quantize each block independently — a vector compresses to
    ``n_subspaces`` code ids (n_codes<=256 → 1 byte each), 32× smaller
    than float32 at 64-d/8-sub, which is what lets a 100-TB embedding
    corpus's *index* fit in cluster memory while the raw vectors stay
    in parquet for the exact rerank.

    Training is driver-side numpy over a deterministic hash-ordered
    sample (same posture as ``train_ivf_centroids(driver_sample=...)``:
    quantizer quality needs thousands of points, not the corpus) with
    seeded init and fixed operation order — bit-reproducible across
    runs and partitionings. Empty cells keep their previous centroid.
    """
    rows = (
        corpus.orderBy(F.xxhash64(F.col(corpus_id), F.lit(seed)), F.col(corpus_id))
        .limit(sample)
        .select(corpus_vec)
        .collect()
    )
    m = np.array([r[0] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    m = m / nrm
    dim = m.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub_dim = dim // n_subspaces
    rng = np.random.RandomState(seed)
    books = np.empty((n_subspaces, n_codes, sub_dim), dtype=np.float64)
    for s in range(n_subspaces):
        sub = m[:, s * sub_dim : (s + 1) * sub_dim]
        init = rng.choice(len(sub), size=n_codes, replace=len(sub) < n_codes)
        cents = sub[init].copy()
        for _ in range(n_iters):
            # nearest code by L2: argmin ||x-c||² = argmax (x·c - ||c||²/2)
            scores = sub @ cents.T - 0.5 * (cents**2).sum(axis=1)[None, :]
            best = np.argmax(scores, axis=1)
            for ci in range(n_codes):
                mask = best == ci
                if mask.any():
                    cents[ci] = sub[mask].mean(axis=0)
        books[s] = cents
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: "np.ndarray",
    *,
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
) -> DataFrame:
    """(id, codes array<int>): the persistable PQ index — one Arrow
    pass, a GEMM per subspace per batch. At scale this frame is written
    once (8 bytes/vector at 8 subspaces) and every query session scans
    IT instead of the raw vectors."""
    n_subspaces, n_codes, sub_dim = codebooks.shape
    half_sq = 0.5 * (codebooks**2).sum(axis=2)  # (S, C)

    import pyarrow as pa

    def encode(batches):
        # mapInArrow: the vector column flattens zero-copy to one float
        # buffer (no per-row object traversal); codes emit as a
        # FixedSizeList rendered through a plain ListArray.
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            flat = batch.column(corpus_vec).flatten().to_numpy(
                zero_copy_only=False
            )
            m = flat.reshape(n, -1).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            m = m / nrm
            codes = np.empty((n, n_subspaces), dtype=np.int32)
            for s in range(n_subspaces):
                sub = m[:, s * sub_dim : (s + 1) * sub_dim]
                codes[:, s] = np.argmax(
                    sub @ codebooks[s].T - half_sq[s][None, :], axis=1
                )
            offsets = pa.array(
                np.arange(0, (n + 1) * n_subspaces, n_subspaces, dtype=np.int32)
            )
            codes_arr = pa.ListArray.from_arrays(
                offsets, pa.array(codes.ravel(), type=pa.int32())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(corpus_id).cast(pa.int64()), codes_arr],
                names=[corpus_id, "codes"],
            )

    return spread(corpus, bytes_per_split=8 << 20).mapInArrow(
        encode, schema=f"{corpus_id} long, codes array<int>"
    )


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
    codebooks: "np.ndarray | None" = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k via product quantization + exact rerank.

    ``encoded`` (from :func:`pq_encode`, with the same ``codebooks``)
    switches the scan side to the persisted 8-byte/vector code frame —
    the production posture; by default encoding and LUT scoring fuse
    into one Arrow stage over the raw vectors. Both paths compute
    identical codes (same argmin-L2), so results are identical.

    Asymmetric distance computation: each query precomputes a lookup
    table LUT[s, c] = <q_sub_s, codebook[s][c]> (driver-side, tiny);
    a corpus row's approximate score is Σ_s LUT[s, codes[s]] — a pure
    table gather, no vector math per row. Each Arrow batch emits only
    its per-query top-``rerank`` shortlist (mergeable partial top-k),
    the global shortlist is one window, and the survivors join back to
    the raw vectors for an EXACT Column-expression rerank — so emitted
    scores are exact cosines; PQ only decides which rows reach the
    rerank. Recall < 1 (quantization error can drop a true neighbor
    from the shortlist); bounded vs bruteforce in tests/test_sketches.py.

    100-TB shape: the scan side is the 8-byte/vector code frame
    (pq_encode), the LUT broadcast is KBs, per-batch output is bounded
    at queries×rerank rows, and the exact rerank touches only
    queries×rerank raw vectors by id — partition-pruned parquet reads.
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
            n_subspaces=n_subspaces,
            n_codes=n_codes,
        )
    n_subspaces, n_codes, sub_dim = codebooks.shape

    q_rows = queries.select(query_id, query_vec).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    # LUT[qi, s, c] = <q_sub, code>
    lut = np.einsum(
        "qsd,scd->qsc", qn.reshape(len(qn), n_subspaces, sub_dim), codebooks
    )

    import pyarrow as pa

    half_sq = 0.5 * (codebooks**2).sum(axis=2)  # (S, C)

    def _topk_batch(ids, approx):
        """Per-batch per-query top-``rerank`` rows as ONE RecordBatch.
        lexsort, not argpartition: identical-code rows tie on approx
        score, and the batch-boundary survivor must not depend on
        partitioning (smallest id wins)."""
        out_q, out_c, out_s = [], [], []
        for qi in range(len(q_ids)):
            mask = ids != q_ids[qi]
            row_ids, row_sc = ids[mask], approx[qi, mask]
            take = min(rerank, len(row_ids))
            if not take:
                continue
            top = np.lexsort((row_ids, -row_sc))[:take]
            out_q.append(np.full(take, q_ids[qi]))
            out_c.append(row_ids[top])
            out_s.append(row_sc[top])
        if not out_q:
            return None
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(out_q)),
                pa.array(np.concatenate(out_c)),
                pa.array(np.concatenate(out_s)),
            ],
            names=[query_id, corpus_id, "_approx"],
        )

    if encoded is not None:
        # Production posture: scan the persisted 8-byte/vector code
        # frame (pq_encode) instead of raw vectors.
        def shortlist(batches):
            for batch in batches:
                n = batch.num_rows
                if not n:
                    continue
                ids = (
                    batch.column(corpus_id)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                codes = (
                    batch.column("codes")
                    .flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                    .reshape(n, n_subspaces)
                )
                # approx[qi, row] = Σ_s LUT[qi, s, codes[row, s]]
                approx = np.zeros((len(q_ids), n), dtype=np.float64)
                for s in range(n_subspaces):
                    approx += lut[:, s, codes[:, s]]
                rb = _topk_batch(ids, approx)
                if rb is not None:
                    yield rb

        scan = encoded.mapInArrow(
            shortlist, schema=f"{query_id} long, {corpus_id} long, _approx double"
        )
    else:
        # One fused Arrow stage over raw vectors: encode (argmin-L2 per
        # subspace) and LUT-score in the same batch — no intermediate
        # code frame crosses the Python→JVM boundary.
        def fused(batches):
            for batch in batches:
                n = batch.num_rows
                if not n:
                    continue
                ids = (
                    batch.column(corpus_id)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                flat = batch.column(corpus_vec).flatten().to_numpy(
                    zero_copy_only=False
                )
                m = flat.reshape(n, -1).astype(np.float64)
                nrm = np.linalg.norm(m, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                m = m / nrm
                approx = np.zeros((len(q_ids), n), dtype=np.float64)
                for s in range(n_subspaces):
                    sub = m[:, s * sub_dim : (s + 1) * sub_dim]
                    codes_s = np.argmax(
                        sub @ codebooks[s].T - half_sq[s][None, :], axis=1
                    )
                    approx += lut[:, s, codes_s]
                rb = _topk_batch(ids, approx)
                if rb is not None:
                    yield rb

        scan = spread(corpus, bytes_per_split=8 << 20).mapInArrow(
            fused, schema=f"{query_id} long, {corpus_id} long, _approx double"
        )

    w_short = Window.partitionBy(query_id).orderBy(
        F.col("_approx").desc(), F.col(corpus_id)
    )
    short = (
        scan.withColumn("_srn", F.row_number().over(w_short))
        .filter(F.col("_srn") <= rerank)
        .select(query_id, corpus_id)
    )
    qside = F.broadcast(
        with_norm(queries, query_vec, "_qn").select(query_id, query_vec, "_qn")
    )
    rer = (
        short.join(
            with_norm(corpus, corpus_vec, "_cn"), corpus_id
        )
        .join(qside, query_id)
        .select(
            query_id,
            corpus_id,
            (
                _dot(F.col(query_vec), F.col(corpus_vec))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id))
    return rer.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column.

    The storage-reduction pass a training-data pipeline runs before
    shipping embeddings to an ANN index or a feature store: each vector
    is scaled by its own max-abs (symmetric, zero-preserving) and each
    component rounded to [-127, 127].  Returns
    ``(id, scale, q: array<int>)`` — ``x ≈ q * scale / 127``.

    Everything is a JVM-side higher-order expression over the array
    column (``transform`` / ``array_max``): no explode, no shuffle, no
    Python — the whole operator fuses into the scan's codegen stage and
    is embarrassingly parallel at any scale.

    Cross-engine exactness: floats are cast to double (exact), and the
    rounding is the explicit ``floor(x * 127 / scale + 0.5)`` formula —
    identical IEEE-double expression order in Spark and DuckDB, so the
    quantized integers are bit-identical across engines (plain round()
    would hinge on each engine's tie convention).  An all-zero vector
    has scale 0; ``nullif`` turns the would-be 0/0 into NULL and the
    coalesce maps every component to 0.
    """
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, F.abs))
    q = F.transform(
        xd,
        lambda x: F.coalesce(
            F.floor(x * F.lit(127.0) / F.nullif(scale, F.lit(0.0)) + F.lit(0.5)),
            F.lit(0).cast("bigint"),
        ).cast("int"),
    )
    return df.select(F.col(id_col), scale.alias("scale"), q.alias("q"))


def cosine_topk_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
    centroids: DataFrame | None = None,
    codebooks: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the production FAISS IVFADC shape
    (Jégou et al., PAMI'11): coarse IVF routing prunes the corpus to
    each query's ``n_probe`` nearest clusters, PQ asymmetric-distance
    scoring ranks ONLY the probed clusters' 1-byte/subspace codes, and
    the per-query top-``rerank`` shortlist joins back to raw vectors
    for an exact cosine rerank (emitted scores are exact; IVF+PQ only
    decide who reaches the rerank).

    Composes the two index structures the catalog already carries
    separately: s03's cluster routing (``train_ivf_centroids`` /
    ``assign_clusters``) and s05's code scoring (``train_pq_codebooks``
    / ``pq_encode``). 100-TB shape: the scan side is the persisted
    cluster-partitioned code frame (8 bytes/vector) and each query
    touches n_probe/n_clusters of it — both prunings compound, which
    is why IVFADC is what actually ships at billion-vector scale.
    Recall < 1 (either pruning can drop a true neighbor); bounded vs
    bruteforce in tests/test_round6b_ops.py.
    """
    import pyarrow as pa

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
            driver_sample=4096,
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
            n_subspaces=n_subspaces,
            n_codes=n_codes,
        )
    n_subspaces, n_codes, sub_dim = codebooks.shape

    # The persisted IVFADC index: cluster-partitioned 1-byte/subspace
    # codes (at scale: written once, partitioned BY _cluster on disk).
    assigned = assign_clusters(
        corpus, centroids, id_col=corpus_id, vec_col=corpus_vec
    ).select(corpus_id, "_cluster")
    index = pq_encode(
        corpus, codebooks, corpus_id=corpus_id, corpus_vec=corpus_vec
    ).join(assigned, corpus_id)

    # Driver-side probe routing + ADC lookup tables (queries are
    # driver-small by construction — same posture as cosine_topk_pq).
    q_rows = queries.select(query_id, query_vec).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    lut = np.einsum(
        "qsd,scd->qsc", qn.reshape(len(qn), n_subspaces, sub_dim), codebooks
    )
    c_rows = centroids.collect()
    c_ids = np.array([r["_cent_id"] for r in c_rows], dtype=np.int64)
    c_mat = np.array([r["_cent_vec"] for r in c_rows], dtype=np.float64)
    c_unit = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
    probe_rows = []
    for qi in range(len(q_ids)):
        cos = c_unit @ qn[qi]
        order = np.lexsort((c_ids, -cos))[:n_probe]
        probe_rows += [(int(q_ids[qi]), int(c_ids[ci])) for ci in order]
    spark = queries.sparkSession
    probes = spark.createDataFrame(
        probe_rows, f"{query_id} long, _cluster long"
    )
    q_pos = {int(i): p for p, i in enumerate(q_ids)}

    pruned = index.join(F.broadcast(probes), "_cluster").filter(
        F.col(query_id) != F.col(corpus_id)
    )

    def adc(batches):
        # score[i] = Σ_s LUT[q_i, s, codes_i[s]] — one fancy-indexed
        # gather per batch, then per-query top-``rerank`` (lexsort:
        # ties must not depend on batch boundaries; smallest id wins).
        s_idx = np.arange(n_subspaces)[None, :]
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            ids = (
                batch.column(corpus_id)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            qids = (
                batch.column(query_id)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            codes = (
                batch.column("codes")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, n_subspaces)
            )
            qpos = np.array([q_pos[q] for q in qids], dtype=np.int64)
            scores = lut[qpos[:, None], s_idx, codes].sum(axis=1)
            out_q, out_c, out_s = [], [], []
            for q in np.unique(qids):
                mask = qids == q
                row_ids, row_sc = ids[mask], scores[mask]
                take = min(rerank, len(row_ids))
                top = np.lexsort((row_ids, -row_sc))[:take]
                out_q.append(np.full(take, q))
                out_c.append(row_ids[top])
                out_s.append(row_sc[top])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_c)),
                    pa.array(np.concatenate(out_s)),
                ],
                names=[query_id, corpus_id, "_approx"],
            )

    shortlisted = pruned.mapInArrow(
        adc, schema=f"{query_id} long, {corpus_id} long, _approx double"
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("_approx").desc(), F.col(corpus_id)
    )
    survivors = (
        shortlisted.withColumn("_rn", F.row_number().over(w_short))
        .filter(F.col("_rn") <= rerank)
        .select(query_id, corpus_id)
    )

    # Exact rerank: only queries×rerank raw vectors are touched.
    qdf = F.broadcast(
        with_norm(
            queries.select(query_id, query_vec), query_vec, "_qn"
        )
    )
    rer = (
        survivors.join(
            with_norm(corpus, corpus_vec, "_cn"), corpus_id
        )
        .join(qdf, query_id)
        .select(
            query_id,
            corpus_id,
            (
                _dot(F.col(query_vec), F.col(corpus_vec))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id)
    )
    return rer.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
