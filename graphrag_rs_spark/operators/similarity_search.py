"""Similarity search over an embedding column (array<float>).

* :func:`brute_force_knn` — exact cosine top-k: broadcast the query set,
  JVM-side zip_with/aggregate dot products, per-query Window top-k. The
  correctness baseline (mirrors the reference's VectorIndex brute-force
  search, graphrag-rs vector/mod.rs:53-135).
* :func:`lsh_knn` — the scale path: random-hyperplane sign buckets with
  multi-probe (several independent plane sets = OR-amplification), exact
  re-scoring inside buckets only.
* :func:`ivf_knn` — IVF-style coarse quantization: k-means-lite centroids
  (deterministic seeded sample, one Lloyd pass), queries probe the nearest
  ``n_probe`` centroids; candidate lists are re-scored exactly.

All hot-path math is built-in higher-order array functions; no Python per
row anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphrag_rs_spark.functions import cosine_similarity_col


def brute_force_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank) — exact top-k per query.

    The query side is broadcast (queries ≪ corpus); the corpus never
    shuffles. Per-query top-k is a Window over the cross product — at scale
    replace the final Window with a per-partition heap (``mapInPandas``)
    feeding a global top-k; for |Q|·|corpus| plans that fit, the Window is
    optimal because the cross join is map-side.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = vectors.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_similarity_col(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sign_buckets_udf(planes_tables: list[list[list[float]]]):
    """Arrow-batched hyperplane bucketing: ONE numpy matmul per batch
    computes every table's sign pattern; returns ``array<long>`` with one
    bucket id per table (table index folded into the high bits so buckets
    from different tables never collide).

    Replaces per-plane ``F.aggregate`` chains (interpreted per element) on
    the hot path — n_tables × n_planes dots collapse into a single
    (batch, dim) @ (dim, T·P) product.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_tables = len(planes_tables)
    n_planes = len(planes_tables[0])
    # the sign code occupies bits [0, n_planes) and the table index is
    # folded in at bit 48 — with n_planes >= 48 they would overlap and
    # silently merge buckets across tables
    if n_planes > 47:
        raise ValueError(
            f"n_planes={n_planes} exceeds 47: sign bits would collide with "
            "the table-index bits at 48+"
        )
    flat = np.asarray(
        [p for table in planes_tables for p in table], dtype=np.float64
    )  # (T*P, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([[] for _ in range(len(vecs))])
        bits = (mat @ flat.T) >= 0.0  # (B, T*P)
        out = []
        for row in bits:
            vals = []
            for t in range(n_tables):
                code = int(row[t * n_planes:(t + 1) * n_planes] @ weights)
                vals.append(code | (t << 48))
            out.append(vals)
        return pd.Series(out)

    return buckets


def lsh_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: vectors and queries hash into sign buckets under
    ``n_tables`` independent plane sets; exact cosine re-scoring runs only
    inside shared buckets. Recall grows with n_tables (OR-amplification).

    All tables' buckets come from ONE vectorized pass over the corpus
    (sign_buckets_udf) — not n_tables rescans."""
    import random

    first = vectors.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"]) if first else 0
    rng = random.Random(seed)
    planes_tables = [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]
    bucket_of = sign_buckets_udf(planes_tables)

    vb = vectors.select(
        F.col(id_col), F.col(vec_col),
        F.explode(bucket_of(F.col(vec_col))).alias("bucket"),
    )
    qb = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"),
        F.explode(bucket_of(F.col(vec_col))).alias("bucket"),
    )
    cand = (
        vb.join(F.broadcast(qb), "bucket")
        .select(query_id_col, id_col, vec_col, "_qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_similarity_col(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    lloyd_iters: int = 1,
) -> DataFrame:
    """IVF: corpus assigned to nearest of ``n_centroids`` centroids (seeded
    deterministic sample + ``lloyd_iters`` Lloyd refinements, computed
    once); each query probes its ``n_probe`` nearest centroid lists and
    re-scores exactly.

    Training is inherently multi-pass (sample → assign → refine →
    re-assign), so the corpus projection is cached for the duration —
    the standard IVF build shape; at cluster scale this is the persisted
    assignment table. ``lloyd_iters=0`` skips the refinement (centroids =
    the seeded sample), collapsing the build to a single assignment pass —
    the right trade for latency-sensitive small fixtures where recall is
    driven by ``n_probe``, not centroid quality."""
    vectors = vectors.select(id_col, vec_col).cache()
    # deterministic centroid init: first n_centroids by hash order.
    # xxhash64 takes the id and the seed as SEPARATE arguments — an
    # arithmetic `id + seed` casts string ids to NULL (or throws under
    # ANSI), hashing every row to the same constant and degrading the
    # "deterministic" init to arbitrary partition order
    sample = (
        vectors.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    init = [list(map(float, r[vec_col])) for r in sample]

    def best_centroid(centroids):
        """argmax cosine over the centroid matrix — ONE numpy matmul per
        Arrow batch (the per-centroid higher-order-expression alternative
        is interpreted per element and ~10× slower at 16 centroids)."""
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        c = np.asarray(centroids, dtype=np.float64)  # (K, dim)
        c_norm = np.linalg.norm(c, axis=1)
        c_norm[c_norm == 0] = 1.0
        cn = c / c_norm[:, None]

        @pandas_udf("int")
        def assign(vecs: pd.Series) -> pd.Series:
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            if mat.size == 0:
                return pd.Series([], dtype="int32")
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat / norms[:, None]) @ cn.T  # (B, K)
            return pd.Series(sims.argmax(axis=1).astype("int32"))

        return assign(F.col(vec_col))

    dim = len(init[0]) if init else 0
    final = init
    for _ in range(max(0, lloyd_iters)):
        assigned = vectors.select(
            F.col(id_col), F.col(vec_col), best_centroid(final).alias("cell")
        )
        # one Lloyd pass: recompute centroids as per-cell means (JVM agg)
        means = (
            assigned.groupBy("cell")
            .agg(
                F.array(
                    *[F.avg(F.col(vec_col)[i]) for i in range(dim)]
                ).alias("centroid")
            )
            .collect()
        )
        centroids = {
            int(r["cell"]): [float(x) for x in r["centroid"]] for r in means
        }
        final = [centroids.get(i, final[i]) for i in range(len(final))]

    assigned = vectors.select(
        F.col(id_col), F.col(vec_col), best_centroid(final).alias("cell")
    )

    # queries probe n_probe nearest cells — same numpy matmul, top-n_probe
    def probe_cells(centroids):
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        c = np.asarray(centroids, dtype=np.float64)
        c_norm = np.linalg.norm(c, axis=1)
        c_norm[c_norm == 0] = 1.0
        cn = c / c_norm[:, None]

        @pandas_udf("array<int>")
        def probes_udf(vecs: pd.Series) -> pd.Series:
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            if mat.size == 0:
                return pd.Series([], dtype="object")
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat / norms[:, None]) @ cn.T
            # ties broken by lower cell index (stable argsort on -sim)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            return pd.Series([[int(x) for x in row] for row in order])

        return probes_udf(F.col(vec_col))

    qcells = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(probe_cells(final)).alias("cell"),
    )
    cand = assigned.join(F.broadcast(qcells), "cell")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_similarity_col(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    out = scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    # the corpus cache only serves the multi-pass IVF build; materialize
    # the (small) result now and release it so long-lived callers
    # (streaming micro-batches) don't accumulate cached plans
    out = out.localCheckpoint(eager=True)
    vectors.unpersist()
    return out
