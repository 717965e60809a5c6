"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how a 100 TB pipeline runs ANN:

* ``brute_force_topk`` — exact cosine top-k via zip_with/aggregate
  (pure JVM): the correctness baseline and the right choice when the
  query set is small (broadcast) and the corpus scan is already the
  bound.
* ``ann_lsh_topk`` — random-hyperplane LSH: a numpy Arrow kernel signs
  each vector against H fixed hyperplanes -> bucket key; queries probe
  their own bucket plus all buckets within ``multiprobe`` hamming
  distance, and only probed buckets are scanned (an equi-join on the
  bucket key — at scale this is the difference between a full
  cartesian scan and a keyed join). Recall depends on data geometry:
  on isotropic random vectors (the synthetic fixture — measured ~0
  mean cosine within AND across labels) it is the theoretical worst
  case; clustered real embeddings do far better.

Hyperplanes are generated from frozen integer seeds via splitmix64 —
no numpy RandomState, so buckets are bit-stable across numpy versions.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_LSH_SEED = 0x5EED_1F83_D9AB_0001


def _splitmix_floats(seed: int, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.float64)
    x = seed & 0xFFFFFFFFFFFFFFFF
    for i in range(n):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        out[i] = (z >> 11) / float(1 << 53)
    return out


def hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Frozen pseudo-gaussian hyperplanes (Box-Muller over splitmix)."""
    u = _splitmix_floats(_LSH_SEED, dim * n_planes * 2).reshape(2, -1)
    u1 = np.clip(u[0], 1e-12, 1.0)
    g = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u[1])
    return g.reshape(n_planes, dim)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return emb.withColumn("v", v).withColumn("nrm", nrm)


def brute_force_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k for the given query ids (broadcast queries)."""
    base = with_norm(emb).select(F.col(id_col).alias("vec_id"), "v", "nrm")
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", dot / (F.col("qn") * F.col("nrm")))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "nn_rank", "cos")
    )


BUCKET_SCHEMA = "vec_id long, bucket int"


def rp_lsh_buckets(
    emb: DataFrame, n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Sign-pattern bucket per vector (numpy Arrow kernel)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes: np.ndarray | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].values).astype(np.float64)
            if planes is None:
                planes = hyperplanes(V.shape[1], n_planes)
            signs = (V @ planes.T) >= 0
            bucket = signs @ (1 << np.arange(n_planes))
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "bucket": bucket.astype("int32"),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(kernel, BUCKET_SCHEMA)


def ann_lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 8,
    multiprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k: candidates = vectors sharing any probed
    LSH bucket with the query; exact cosine + window top-k on the
    candidate set only."""
    buckets = rp_lsh_buckets(emb, n_planes, id_col)
    base = with_norm(emb).select(F.col(id_col).alias("vec_id"), "v", "nrm")
    corpus = base.join(buckets, "vec_id")

    q = corpus.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    # expand each query to its probe set (tiny: |queries| x |probes|)
    probe_masks = [0] + [
        sum(1 << b for b in bits)
        for d in range(1, multiprobe + 1)
        for bits in combinations(range(n_planes), d)
    ]
    probes = F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in probe_masks])
    qx = q.select(
        "query_id", "qv", "qn", F.explode(probes).alias("bucket")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        corpus.join(F.broadcast(qx), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", dot / (F.col("qn") * F.col("nrm")))
        # a vector may match several probes of one query
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "nn_rank", "cos")
    )
