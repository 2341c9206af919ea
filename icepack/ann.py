"""Approximate nearest-neighbor search over embedding columns
(SURVEY.md §2.13 X3): distributed IVF — a k-means coarse quantizer
trained with Lloyd's iterations, cluster-pruned cosine top-k search.

Scale shape: training moves only K×dim floats through the driver per
iteration (assignment is an Arrow-batched pandas_udf argmin, the
centroid update an all-JVM posexplode+avg); search prunes to the
query's ``nprobe`` nearest clusters BEFORE any scoring, so a probe
reads ~nprobe/K of the table (partition the table by the cluster id
at 100 TB and the pruning becomes partition pruning), scores with
JVM-side higher-order functions, and finishes with a
TakeOrderedAndProject top-k — no global sort, nothing driver-side but
the K×dim centroid matrix.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a, b, dim: int):
    """JVM-side dot product of two array<float> columns (float→double
    cast before multiply; no Python in the loop).  Unrolled over the
    known vector width so it runs in whole-stage codegen — the old
    aggregate(zip_with(...)) form is interpreted per element; the fold
    order (left-to-right from 0.0) is unchanged, so values are
    bit-identical."""
    out = F.lit(0.0)
    for i in range(dim):
        out = out + a[i].cast("double") * b[i].cast("double")
    return out


def assigner(C: np.ndarray):
    """Vectorized nearest-centroid assignment against the broadcast
    K×dim matrix ``C``; ties break to the lowest cluster index."""

    @pandas_udf("cluster int, sqdist double")
    def assign(emb):  # type: ignore[misc]
        import numpy as np
        import pandas as pd

        V = np.asarray(emb.tolist(), dtype=np.float64)
        # squared distance via the expansion ||v||² - 2v·c + ||c||²
        d2 = (
            (V * V).sum(axis=1, keepdims=True)
            - 2.0 * (V @ C.T)
            + (C * C).sum(axis=1)
        )
        # round before argmin: numpy's pairwise summation and a SQL
        # engine's sequential fold differ in the last ulp — collapsing
        # to 6 places makes the assignment (and x20's oracle replay of
        # it) engine-independent; argmin's first-minimum rule is the
        # lowest-cluster tiebreak
        d2 = np.round(d2, 6)
        idx = d2.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": idx.astype("int32"), "sqdist": d2[np.arange(len(idx)), idx]}
        )

    return assign


def train_ivf(e: DataFrame, k: int = 4, iters: int = 3) -> np.ndarray:
    """Distributed Lloyd's k-means over ``e(vec_id, embedding)`` →
    K×dim centroid matrix.  Deterministic: seeds are the K lowest
    vec_ids, fixed iteration count, empty clusters keep their previous
    centroid."""
    cents = np.asarray(
        [r["embedding"] for r in e.orderBy("vec_id").limit(k).collect()],
        dtype=np.float64,
    )
    for _ in range(iters):
        a = e.withColumn("a", assigner(cents)("embedding"))
        rows = (
            a.select(
                F.col("a.cluster").alias("cluster"),
                F.posexplode("embedding").alias("pos", "v"),
            )
            .groupBy("cluster", "pos")
            # round the update: the JVM's fold order and any oracle
            # replay's fold order agree at 6 places (drift ~1e-13)
            .agg(F.round(F.avg("v"), 6).alias("m"))
            .collect()
        )
        nxt = cents.copy()
        for r in rows:
            nxt[r["cluster"], r["pos"]] = r["m"]
        cents = nxt
    return cents


def ivf_topk(
    e: DataFrame,
    query_vec,
    cents: np.ndarray,
    nprobe: int = 1,
    k: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors of ``query_vec`` searching only the
    ``nprobe`` clusters nearest the query (the IVF probe)."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    dim = cents.shape[1]
    if len(q) != dim:
        raise ValueError(
            f"query vector has {len(q)} dims but the centroids have {dim} "
            "— ivf_topk requires equal widths"
        )
    # _dot unrolls over the width: a stored embedding of another width
    # would silently truncate, so every row is checked in the plan
    # (no job runs here)
    e = e.withColumn(
        "embedding",
        F.when(F.size("embedding") == dim, F.col("embedding")).otherwise(
            F.raise_error(
                F.format_string(
                    f"ivf_topk: embedding of vec_id %s does not have {dim} dims",
                    F.col("vec_id").cast("string"),
                )
            )
        ),
    )
    d2 = ((cents - q) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2)[:nprobe]]
    qlit = F.array(*[F.lit(float(x)) for x in q])
    qnorm = float(np.sqrt((q * q).sum()))
    cand = e.withColumn("a", assigner(cents)("embedding")).filter(
        F.col("a.cluster").isin(probes)
    )
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)
    cos = _dot(F.col("embedding"), qlit, len(q)) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"), len(q))) * F.lit(qnorm)
    )
    return (
        cand.select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )
