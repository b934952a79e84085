"""Similarity search over embedding columns (array<float>).

- brute_force_topk : exact cosine top-k via a broadcast cross join +
  per-partition ranking — the correctness baseline.  The dot product is a
  built-in ``aggregate``/``zip_with`` expression (whole-stage codegen).
- lsh_topk         : random-hyperplane LSH bucketing as the 100 TB path —
  candidates only within matching buckets (multi-probe over B tables), then
  exact rescoring.  Recall is tunable via (num_tables, hyperplanes).
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (small side); corpus stays partitioned, so the
    join is shuffle-free and scales linearly in corpus size.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = embeddings.select(
        F.col(id_col), F.col(vec_col).alias("c_vec"), _norm(F.col(vec_col)).alias("c_norm")
    )
    scored = (
        c.join(F.broadcast(q))
        .withColumn("cosine", _dot("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")))
        .select(query_id_col, id_col, "cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, F.round("cosine", 4).alias("cosine"))
        .orderBy(query_id_col, "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def _bucket_array_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """``n_tables`` random-hyperplane bucket signatures per vector.

    One Arrow-batched pandas UDF (numpy matmul against a per-process-cached
    (tables*planes, dim) hyperplane matrix) rather than inlined literal
    expressions: the expression form embeds dim*n_planes*n_tables literals
    into the plan, which explodes codegen/plan size at real embedding dims
    (768+).  Hyperplanes are regenerated deterministically from the seed
    inside the worker, so the plan carries no vector constants at all.
    """
    @F.pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np

        planes = _cached_plane_matrix(dim, n_planes, n_tables, seed)  # (T*P, dim)
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        # NULL vectors get NULL buckets (joins skip them) instead of crashing
        # the Arrow batch in np.vstack
        arr = vecs.to_numpy()
        valid = [v is not None for v in arr]
        sigs: list = []
        if any(valid):
            x = np.vstack([v for v, ok in zip(arr, valid) if ok])  # (B_valid, dim)
            bits = (x @ planes.T) >= 0  # (B_valid, T*P)
            weights = np.tile(1 << np.arange(n_planes, dtype=np.int64), n_tables)
            sigs = list((bits * weights).reshape(len(x), n_tables, n_planes).sum(axis=2).astype("int64"))
        it = iter(sigs)
        return pd.Series([next(it) if ok else None for ok in valid], dtype=object)

    return _buckets


def lsh_bucket_entries(df: DataFrame, key_col: str, vec_col: str, dim: int,
                       n_planes: int = 12, n_tables: int = 4, seed: int = 11) -> DataFrame:
    """Exploded bucket form: one row per (key, table_id, bucket).

    Candidate generation over ``n_tables`` LSH tables then becomes ONE
    equi-join on (table_id, bucket) instead of ``n_tables`` separate
    self-joins — same bytes, one exchange, one stage, and AQE's skew-join
    splitting sees every degenerate bucket in a single place.  Only the key
    crosses the join; vectors are joined back for rescoring by key.
    """
    _buckets = _bucket_array_udf(dim, n_planes, n_tables, seed)
    return df.select(
        F.col(key_col), F.posexplode(_buckets(F.col(vec_col))).alias("table_id", "bucket")
    )


_PLANE_CACHE: dict = {}


def _cached_plane_matrix(dim: int, n_planes: int, n_tables: int, seed: int):
    import numpy as np

    key = (dim, n_planes, n_tables, seed)
    if key not in _PLANE_CACHE:
        rows = []
        for t in range(n_tables):
            rows.extend(_hyperplanes(dim, n_planes, seed + 1000 * t))
        _PLANE_CACHE[key] = np.asarray(rows, dtype=float)
    return _PLANE_CACHE[key]


def lsh_topk(embeddings: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_planes: int = 12, n_tables: int = 4,
             seed: int = 11) -> DataFrame:
    """Approximate top-k: ONE exploded (table_id, bucket) join + exact rescoring.

    Plan shape: one scan + one Arrow UDF pass over the corpus (the exploded
    bucket entries), one broadcast join against the exploded query buckets
    (the corpus side never shuffles for candidate generation), then the
    dedup'd (query, id) candidate set — small by construction — is broadcast
    back onto the corpus for vector rescoring.  The earlier form ran
    ``n_tables`` separate joins = n_tables corpus scans and UDF passes.
    """
    emb_entries = lsh_bucket_entries(
        embeddings.select(id_col, F.col(vec_col).alias("c_vec")), id_col, "c_vec",
        dim, n_planes, n_tables, seed,
    )
    qry_entries = lsh_bucket_entries(
        queries.select(query_id_col, F.col(vec_col).alias("q_vec")), query_id_col,
        "q_vec", dim, n_planes, n_tables, seed,
    )
    candidates = (
        emb_entries.join(F.broadcast(qry_entries), ["table_id", "bucket"])
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
    )
    # candidates are usually tiny (queries x bucket occupancy) and AQE will
    # broadcast them on its own; NOT a forced hint, because under degenerate
    # bucket skew (constant/zero vectors sharing one sign pattern) the
    # candidate set can approach |corpus| x |queries| and a mandatory
    # broadcast would OOM where a shuffled join completes
    scored = (
        embeddings.select(id_col, F.col(vec_col).alias("c_vec"))
        .join(candidates, id_col)
        .join(F.broadcast(queries.select(query_id_col, F.col(vec_col).alias("q_vec"))),
              query_id_col)
        .withColumn(
            "cosine", _dot("q_vec", "c_vec") / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))
        )
        .select(query_id_col, id_col, "cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, F.round("cosine", 4).alias("cosine"))
        .orderBy(query_id_col, "rank")
    )


# ----------------------------------------------------------------- IVF ANN


def _assign_udf(centroids):
    """pandas UDF: nearest-centroid id by cosine (centroids L2-normalized
    driver-side once; the matrix rides to workers inside the serialized UDF —
    it is (n_centroids, dim) small by construction)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        arr = vecs.to_numpy()
        valid = [v is not None for v in arr]
        out = np.full(len(arr), -1, dtype=np.int32)
        if any(valid):
            X = np.vstack([v for v, ok in zip(arr, valid) if ok]).astype(np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            out[np.asarray(valid)] = np.argmax(X @ C.T, axis=1).astype(np.int32)
        return pd.Series(out).astype("int32")

    return _assign


_DRIVER_TRAIN_FLOATS = 32_000_000  # ~256 MB float64 — driver-side k-means cap


def ivf_train(embeddings: DataFrame, n_centroids: int = 16, iters: int = 5,
              vec_col: str = "embedding", seed: int = 7,
              sample_limit: int = 100_000) -> list[list[float]]:
    """Train the IVF coarse quantizer on a bounded deterministic sample.

    ``sample_limit`` bounds the training set like faiss does: the quantizer
    needs a representative sample, not the full 100 TB table.  Because the
    sample is bounded BY CONSTRUCTION, when ``sample_limit * dim`` fits the
    driver budget the Lloyd iterations run as one collect + numpy (one Spark
    job total — the faiss protocol; a distributed iteration over a <=100k-row
    sample is pure scheduler/Arrow overhead at every scale).  Above the
    budget, assignments run distributed (one Arrow UDF pass per iteration)
    with per-cluster means as DataFrame aggregations; only the
    (n_centroids, dim) centroid table crosses the driver between iterations.
    Init = deterministic sample in both paths.
    """
    import numpy as np

    base = embeddings.select(F.col(vec_col).alias("v")).filter(F.col("v").isNotNull())
    # Deterministic sample: rank by a seeded content hash and take the top
    # sample_limit — plans as TakeOrderedAndProject (per-partition top-K +
    # merge, no full sort), so the SAME rows are selected regardless of
    # partitioning/AQE, unlike a bare limit().
    sample_plan = (
        base.withColumn("r", F.xxhash64(F.col("v").cast("string"), F.lit(seed)))
        .orderBy("r", F.col("v").cast("string"))
        .limit(sample_limit)
    )
    dim_row = base.select(F.size("v").alias("d")).first()
    dim = int(dim_row["d"]) if dim_row is not None else 0
    if dim and sample_limit * dim <= _DRIVER_TRAIN_FLOATS:
        # Driver-side spherical k-means on the collected sample.  Same
        # deterministic subset, same init rule (first n_centroids in
        # (r, string-form) order), same update rule (mean of cosine-argmax
        # assignment; empty cluster keeps its previous centroid).
        # carry the Spark-cast string form so the tie-break key is the SAME
        # total order the sample selection and the distributed init use (a
        # Python str(list(...)) formats floats differently, so an xxhash64
        # tie on r could otherwise pick different init centroids per path)
        rows = sample_plan.select(
            "r", F.col("v").cast("string").alias("vs"), "v"
        ).collect()
        rows.sort(key=lambda row: (row["r"], row["vs"]))
        if len(rows) < n_centroids:
            raise ValueError(
                f"not enough vectors ({len(rows)}) for {n_centroids} centroids"
            )
        X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        C = X[:n_centroids].copy()
        for _ in range(iters):
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
            assign = np.argmax(Xn @ Cn.T, axis=1)
            for c in range(n_centroids):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        return [list(map(float, row)) for row in C]
    # Distributed path: persist so init and every Lloyd iteration train on
    # one materialized subset instead of re-evaluating the scan per
    # iteration.
    sample = sample_plan.persist()
    try:
        init = sample.orderBy("r", F.col("v").cast("string")).limit(n_centroids).collect()
        centroids = [list(r["v"]) for r in init]
        if len(centroids) < n_centroids:
            raise ValueError(
                f"not enough vectors ({len(centroids)}) for {n_centroids} centroids"
            )
        for _ in range(iters):
            assigned = sample.withColumn("cluster_id", _assign_udf(centroids)(F.col("v")))
            # per-cluster vector mean: posexplode -> (cluster, dim_idx) avg -> regroup
            means = (
                assigned.select("cluster_id", F.posexplode("v").alias("i", "x"))
                .groupBy("cluster_id", "i")
                .agg(F.avg("x").alias("m"))
                .groupBy("cluster_id")
                .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("ms"))
                .select("cluster_id", F.transform("ms", lambda s: s["m"]).alias("centroid"))
                .collect()
            )
            new = {r["cluster_id"]: list(r["centroid"]) for r in means}
            centroids = [new.get(c, centroids[c]) for c in range(n_centroids)]
    finally:
        sample.unpersist()
    # L2-normalize so downstream dot products are cosine against unit centroids
    C = np.asarray(centroids, dtype=float)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return [list(map(float, row)) for row in C]


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Attach the IVF cluster id.  At 100 TB this is the bucketing write:
    partition/bucket the stored table by cluster_id so probes prune files."""
    return embeddings.withColumn("cluster_id", _assign_udf(centroids)(F.col(vec_col)))


def _probe_udf(centroids, nprobe: int):
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def _probes(vecs: pd.Series) -> pd.Series:
        arr = vecs.to_numpy()
        out = []
        for v in arr:
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            x = x / max(np.linalg.norm(x), 1e-12)
            out.append(list(np.argsort(-(C @ x))[:nprobe].astype("int32")))
        return pd.Series(out, dtype=object)

    return _probes


def _rescore_topk(candidates: DataFrame, k: int, id_col: str, query_id_col: str) -> DataFrame:
    """Exact cosine rescoring + per-query top-k on a (q_vec, c_vec) candidate set."""
    scored = candidates.withColumn(
        "cosine", _dot("q_vec", "c_vec") / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))
    ).select(query_id_col, id_col, "cosine")
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, F.round("cosine", 4).alias("cosine"))
        .orderBy(query_id_col, "rank")
    )


def ivf_topk(embeddings: DataFrame, queries: DataFrame, centroids: list[list[float]],
             k: int = 10, nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id") -> DataFrame:
    """IVF probe: search only the ``nprobe`` clusters nearest to each query.

    Candidate set = cluster-id equi-join between the assigned table and the
    exploded (query, probe-cluster) list — a broadcast join on the tiny query
    side; exact cosine rescoring + per-query top-k window on the candidates
    only.  This form recomputes the assignment per query batch; the 100 TB
    path is ``ivf_write_index`` + ``ivf_topk_indexed``, where the assignment
    is a cluster_id-partitioned materialization and probes prune files."""
    assigned = ivf_assign(embeddings, centroids, vec_col).select(
        id_col, F.col(vec_col).alias("c_vec"), "cluster_id"
    )
    probe_list = queries.select(
        query_id_col,
        F.col(vec_col).alias("q_vec"),
        F.explode(_probe_udf(centroids, nprobe)(F.col(vec_col))).alias("cluster_id"),
    )
    candidates = assigned.join(F.broadcast(probe_list), "cluster_id").select(
        query_id_col, id_col, "q_vec", "c_vec"
    )
    return _rescore_topk(candidates, k, id_col, query_id_col)


def ivf_write_index(embeddings: DataFrame, centroids: list[list[float]], path: str,
                    vec_col: str = "embedding", mode: str = "overwrite") -> None:
    """Materialize the IVF assignment ONCE as a cluster_id-partitioned table.

    This is the bucketing write the per-query ``ivf_topk`` form lacks: at
    100 TB the nearest-centroid UDF pass must not rerun per query batch.
    ``partitionBy("cluster_id")`` lays one directory per coarse cell (the
    Iceberg identity-partition analogue), so an ``ivf_topk_indexed`` probe
    reads nprobe/n_centroids of the FILES via static partition pruning —
    not just a filtered scan."""
    ivf_assign(embeddings, centroids, vec_col).write.mode(mode).partitionBy(
        "cluster_id"
    ).parquet(path)


def ivf_topk_indexed(spark, index_path: str, queries: DataFrame,
                     centroids: list[list[float]], k: int = 10, nprobe: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Probe a materialized IVF index (``ivf_write_index`` output).

    The query vectors are collected once (|queries| x dim — small by the
    same contract that lets the probe side broadcast) and their nprobe
    nearest centroids computed driver-side with the exact arithmetic of
    ``_probe_udf`` (float64 ``argsort(-(C @ x))``), so the probed cells
    arrive as a STATIC ``cluster_id IN (...)`` predicate, which the parquet
    source turns into partition-directory pruning: the scan touches only the
    probed cells, with no corpus-side shuffle (the probe list is broadcast).
    r7: the old form ran a probe-UDF pass + a distinct().collect() Spark job
    just to learn the probed ids, and kept an ArrowEvalPython stage in the
    search plan; the driver-side probe removes both (the centroid table is
    driver-resident already — it is the function argument)."""
    import numpy as np

    assigned = spark.read.parquet(index_path)
    C = np.asarray(centroids, dtype=np.float64)
    q_rows = queries.select(query_id_col, vec_col).collect()
    probes: dict = {}
    for r in q_rows:
        v = r[vec_col]
        if v is None:
            continue
        x = np.asarray(list(v), dtype=np.float64)
        x = x / max(np.linalg.norm(x), 1e-12)
        probes[r[query_id_col]] = [int(c) for c in np.argsort(-(C @ x))[:nprobe]]
    probed = sorted({c for cl in probes.values() for c in cl})
    # literal (query_id -> probe cells) map: attaches cluster ids to the
    # query rows without re-running any Python stage, and without touching
    # the q_vec column (rescoring arithmetic stays on the original dtype)
    probe_map = F.create_map(*[
        x for qid, cl in probes.items()
        for x in (F.lit(qid), F.array(*[F.lit(c) for c in cl]))
    ])
    probe_list = queries.select(
        query_id_col,
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_map[F.col(query_id_col)]).alias("cluster_id"),
    )
    candidates = (
        assigned.filter(F.col("cluster_id").isin(probed))
        .select(id_col, F.col(vec_col).alias("c_vec"), "cluster_id")
        .join(F.broadcast(probe_list), "cluster_id")
        .select(query_id_col, id_col, "q_vec", "c_vec")
    )
    return _rescore_topk(candidates, k, id_col, query_id_col)
