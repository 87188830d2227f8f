"""Similarity search over embedding columns.

Brute-force cosine top-k as the correctness baseline (JVM-side zip_with /
aggregate — no UDF, no collect), and an LSH-bucketed variant as the scale
path: random-hyperplane signatures prune the candidate set so the 100 TB
plan joins on bucket instead of cross-joining all vectors.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cosine
from ..sources import commit

# fixed-point grid of train_kmeans_full's re-centering sums
KMEANS_QUANT = 1e6


def brute_force_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Top-k by cosine vs a constant query vector. The query is a literal
    array (broadcast by construction); one narrow projection + one top-k
    sort — Spark's TakeOrdered, no full sort at scale."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        "vec_id",
        F.round(cosine(F.col("embedding").cast("array<double>"), q), 6).alias(
            "cos_sim"
        ),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def hyperplane_signature(embeddings: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Random-hyperplane LSH bucket id: bit p = sign(dot(v, plane_p)).
    Deterministic planes are supplied by the caller (seeded)."""
    v = F.col("embedding").cast("array<double>")
    sig = None
    for p, plane in enumerate(planes):
        pl = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, pl, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
        )
        bit = F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return embeddings.select("vec_id", "embedding", sig.alias("bucket"))


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's hyperplane bucket."""
    import builtins

    qbucket = builtins.sum(
        (1 << p)
        for p, plane in enumerate(planes)
        if builtins.sum(a * b for a, b in zip(query_vec, plane)) >= 0
    )
    bucketed = hyperplane_signature(embeddings, planes).filter(
        F.col("bucket") == qbucket
    )
    return brute_force_topk(bucketed.select("vec_id", "embedding"), query_vec, k)


def cosine_neardup_pairs_arrow(
    embeddings: DataFrame,
    threshold: float = 0.45,
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (verification stage), scored
    one Arrow group per block.

    Pair generation is quadratic, so it is restricted to candidates:
    `block_col` is an equality blocking key (a cluster label, an IVF
    cell, or a `hyperplane_signature` LSH bucket), so the plan has one
    exchange on the block key and never a cross join. Within a block,
    norms are computed once per vector and each pair costs one dot
    product. Dot products and norms accumulate in index order (np.cumsum
    running sum, float32 -> float64 widening exact), so the raw cosine
    equals the SQL oracle's left-to-right list_dot_product fold. The
    4-decimal HALF_UP rounding and the threshold filter run JVM-side on
    that raw cosine; numpy only pre-filters with a 1e-3 margin below the
    threshold, so every pair the exact filter could keep survives.
    Output is (vec_a < vec_b, cos_sim), bounded by the above-threshold
    pairs."""
    import numpy as np

    margin = float(threshold) - 1e-3

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame(
                {"vec_a": np.array([], dtype="int64"),
                 "vec_b": np.array([], dtype="int64"),
                 "cos_raw": np.array([], dtype="float64")}
            )
        v = np.array([list(x) for x in pdf["v"]], dtype="float64")
        norms = np.sqrt(np.cumsum(v * v, axis=1)[:, -1])
        out_a, out_b, out_c = [], [], []
        for i in range(m - 1):
            rest = v[i + 1:]
            dots = np.cumsum(rest * v[i], axis=1)[:, -1]
            den = norms[i] * norms[i + 1:]
            nz = den != 0
            cos = np.zeros(len(rest))
            np.divide(dots, den, out=cos, where=nz)
            hit = nz & (cos >= margin)
            if hit.any():
                out_a.append(np.full(int(hit.sum()), ids[i], dtype="int64"))
                out_b.append(ids[i + 1:][hit].astype("int64"))
                out_c.append(cos[hit])
        if not out_a:
            return pd.DataFrame(
                {"vec_a": np.array([], dtype="int64"),
                 "vec_b": np.array([], dtype="int64"),
                 "cos_raw": np.array([], dtype="float64")}
            )
        return pd.DataFrame(
            {"vec_a": np.concatenate(out_a),
             "vec_b": np.concatenate(out_b),
             "cos_raw": np.concatenate(out_c)}
        )

    e = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col(block_col).alias("_blk"),
    )
    pairs = e.groupBy("_blk").applyInPandas(
        fn, "vec_a long, vec_b long, cos_raw double"
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def _kmeans(x, n_centroids: int, iters: int) -> list[list[float]]:
    """Deterministic k-means: init = first k sample vectors, fixed
    iteration count, ties broken by centroid index (np.argmin keeps the
    first minimum)."""
    k = min(n_centroids, len(x))
    cent = x[:k].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            m = x[assign == c]
            if len(m):
                cent[c] = m.mean(axis=0)
    return [[float(v) for v in row] for row in cent]


def train_ivf_centroids(
    embeddings: DataFrame, n_centroids: int = 16, iters: int = 5,
    sample_size: int = 2048,
) -> list[list[float]]:
    """IVF coarse quantizer: k-means on a deterministic sample.

    The sample (lowest vec_ids) is tiny and driver-side by design — the
    quantizer is index METADATA, like the planes of the hyperplane LSH;
    the data-scale work (assignment, probing) stays distributed.
    """
    import numpy as np

    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_size)
        .collect()
    )
    x = np.array([list(r.embedding) for r in rows], dtype="float64")
    return _kmeans(x, n_centroids, iters)


def train_ivf_centroids_local(
    parquet_path: str, n_centroids: int = 16, iters: int = 5,
    sample_size: int = 2048,
) -> list[list[float]]:
    """Numpy twin of train_ivf_centroids reading the parquet file
    directly (no SparkSession) — used by the DuckDB oracle to reproduce
    the exact quantizer. Bit-identical: same deterministic sample (lowest
    vec_ids), same init, same iteration count, same numpy arithmetic."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path, columns=["vec_id", "embedding"])
    df = tbl.to_pandas().sort_values("vec_id").head(sample_size)
    x = np.array([list(v) for v in df["embedding"]], dtype="float64")
    return _kmeans(x, n_centroids, iters)


def train_kmeans_full(
    embeddings: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over the FULL corpus — the scale path
    past the driver-sampled quantizer (train_ivf_centroids trains on a
    bounded sample; at 100 TB the sample can misplace tail clusters).
    Each iteration is one corpus pass: the Arrow nearest-centroid scorer
    ivf_assign uses (scan-local, no shuffle), then a
    groupBy(cell) with one fixed-point SUM per dimension. Partial (map-
    side) aggregation collapses every task to k rows of d sums before the
    shuffle, so the exchanged data is k*d*tasks numbers regardless of
    corpus size; driver state is k*d sums — index metadata.

    Determinism (and hence oracle-checkability): float sums depend on
    partition layout, so re-centering FLOORS each coordinate to a
    1/KMEANS_QUANT grid and sums int64s — exact, associative,
    order-independent. The trained centroids are bit-identical across
    any repartitioning (tested) and reproducible in SQL as
    sum(floor(x*1e6))::DOUBLE / n / 1e6.
    The sums ride a decimal accumulator (ANSI-safe at any row count); the
    1e-6 coordinate quantization is far below embedding noise.

    Empty cells keep their previous centroid (standard Lloyd's). Init is
    the embeddings of the k lowest vec_ids — deterministic and cheap
    (k rows collected). Returns the final centroids; assign with
    ivf_assign (one more pass) for the final clustering.
    """
    k = n_centroids
    init_rows = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    cent = [[float(x) for x in r.v] for r in init_rows]
    k = len(cent)
    dim = len(cent[0])
    v = F.col("embedding").cast("array<double>")
    qlit = F.lit(KMEANS_QUANT)
    for _ in range(iters):
        assigned = _assign_arrow(embeddings.select(v.alias("v")), cent, "v")
        rows = (
            assigned.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(
                        F.floor(F.col("v")[d] * qlit).cast("decimal(38,0)")
                    ).alias(f"s{d}")
                    for d in range(dim)
                ],
            )
            .collect()
        )
        got = {r.cell: r for r in rows}
        cent = [
            [
                (float(int(got[c][f"s{d}"])) / got[c].n) / KMEANS_QUANT
                for d in range(dim)
            ]
            if c in got
            else cent[c]
            for c in range(k)
        ]
    return cent


def quantize_int8(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization — the standard 4x storage /
    memory cut for a 100 TB vector index (store qembedding+scale, probe
    coarse cells on int8, re-rank survivors on the float originals).

    scale = max|v| / 127 (scale 1.0 for the all-zero vector); codes are
    floor(v/scale + 0.5) — floor-of-shifted instead of a round() builtin
    because floor is bit-identical across engines while round-half ties
    differ (Spark HALF_UP vs banker's in some SQL engines), and the whole
    point is an oracle-checkable, engine-independent codebook. Pure JVM
    expressions (transform/aggregate), scan-local, no shuffle.
    Max |code| is 127 by construction: |v|/(max|v|/127) <= 127 and
    floor(127 + 0.5) = 127."""
    v = F.col(vec_col).cast("array<double>")
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(mx == 0.0, F.lit(1.0)).otherwise(mx / F.lit(127.0))
    return embeddings.withColumn("scale", scale).withColumn(
        "qembedding",
        F.transform(
            v, lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
        ),
    )


def dequantize_int8(
    quantized: DataFrame, out_col: str = "embedding"
) -> DataFrame:
    """Inverse of quantize_int8 (lossy: 1/254 of the vector's dynamic
    range per code step). Used by re-rank stages that only persisted the
    int8 index."""
    return quantized.withColumn(
        out_col,
        F.transform(
            F.col("qembedding"),
            lambda q: q.cast("double") * F.col("scale"),
        ),
    )


def hash_project(
    embeddings: DataFrame,
    out_dim: int = 8,
    seed: int = 1,
    vec_col: str = "embedding",
) -> DataFrame:
    """Feature-hash (sign-random) projection — Achlioptas/JL-style
    dimensionality reduction with a matrix that is never materialized as
    data: sign(i, j) = parity of the first hex digit of
    md5('proj|seed|i|j'), so any engine (and the DuckDB oracle)
    reconstructs the exact same projection from the formula alone.
    out[j] = sum_i v[i] * sign(i, j) / sqrt(out_dim), folded in index
    order (np.cumsum running sum, deterministic IEEE adds). One Arrow
    stage, scan-local, no shuffle: each task rebuilds the d x out_dim
    sign matrix for the d of the vectors it reads, so the plan carries
    no literals and needs no driver-side probe of d. The same plan
    applies unchanged to a STREAMING input (parity tested in
    tests/test_streaming.py) — the 100 TB path to cheaper ANN (project,
    then IVF the short vectors; re-rank survivors on the originals)."""
    import hashlib
    import math

    import numpy as np

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from ..functions import spread_input

    inv = 1.0 / math.sqrt(float(out_dim))

    def sign_matrix(d: int):
        smat = np.empty((d, out_dim), dtype=np.float64)
        for i in range(d):
            for j in range(out_dim):
                h = hashlib.md5(f"proj|{seed}|{i}|{j}".encode()).hexdigest()
                smat[i, j] = 1.0 if int(h[0], 16) % 2 == 0 else -1.0
        return smat

    def fn(batches):
        smats = {}
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array([list(x) for x in pdf[vec_col]], dtype=np.float64)
            d = v.shape[1]
            if d not in smats:
                smats[d] = sign_matrix(d)
            smat = smats[d]
            proj = np.empty((len(pdf), out_dim), dtype=np.float64)
            for j in range(out_dim):
                proj[:, j] = np.cumsum(v * smat[:, j], axis=1)[:, -1] * inv
            out = pdf.copy()
            out["projected"] = list(proj)
            yield out

    out_schema = StructType(
        list(embeddings.schema.fields)
        + [StructField("projected", ArrayType(DoubleType()), True)]
    )
    src = spread_input(
        embeddings, "vec_id" if "vec_id" in embeddings.columns else None
    )
    return src.mapInPandas(fn, out_schema)


def topk_int8_rerank(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """Two-stage ANN serving: IVF cell probe + int8 shortlist + exact
    re-rank — the memory-resident pattern for a 100 TB index (FAISS's
    IVF+SQ: the int8 copy is 4x smaller, so probed cells stay in RAM;
    only `shortlist` survivors touch the full-precision originals).

    Stage 1 scores the probed cells on the DEQUANTIZED int8 copy (here
    quantized inline from the float column; a real deployment persists
    (cell, vec_id, qembedding, scale) at index-write time) and keeps the
    top `shortlist` by (approx score desc, vec_id) — TakeOrdered, no full
    sort. Stage 2 joins the shortlist ids (broadcast — bounded by
    `shortlist`) back to the float table and re-scores exactly. Both
    stages round to 6dp with vec_id tie-breaks, so the result is
    deterministic and SQL-reproducible end to end."""
    probe_cells = _probe_cells(query_vec, centroids, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = ivf_assign(embeddings, centroids).filter(
        F.col("cell").isin(probe_cells)
    )
    approx = dequantize_int8(
        quantize_int8(cand).drop("embedding"), "deq"
    ).select(
        "vec_id",
        F.round(cosine(F.col("deq"), q), 6).alias("approx_sim"),
    )
    ids = approx.orderBy(
        F.desc("approx_sim"), F.asc("vec_id")
    ).limit(shortlist).select("vec_id")
    exact = embeddings.join(F.broadcast(ids), "vec_id").select(
        "vec_id",
        F.round(
            cosine(F.col("embedding").cast("array<double>"), q), 6
        ).alias("cos_sim"),
    )
    return exact.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def _assign_arrow(
    embeddings: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment. The centroid matrix is
    task-local numpy state, so the plan carries no k*d literals whatever
    the cell count. Per-centroid squared distances accumulate in index
    order (np.cumsum running sum == the SQL oracle's left-to-right fold),
    float32 -> float64 widening is exact, and np.argmin takes the FIRST
    minimum, so ties go to the lowest cell id."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    cmat = np.array(centroids, dtype=np.float64)
    k = len(centroids)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array([list(x) for x in pdf[vec_col]], dtype=np.float64)
            dists = np.empty((len(pdf), k), dtype=np.float64)
            for ci in range(k):
                diff = v - cmat[ci]
                dists[:, ci] = np.cumsum(diff * diff, axis=1)[:, -1]
            out = pdf.copy()
            out["cell"] = dists.argmin(axis=1).astype("int32")
            yield out

    out_schema = StructType(
        list(embeddings.schema.fields)
        + [StructField("cell", IntegerType(), False)]
    )
    from ..functions import spread_input

    src = spread_input(
        embeddings, "vec_id" if "vec_id" in embeddings.columns else None
    )
    return src.mapInPandas(fn, out_schema)


def ivf_assign(
    embeddings: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Add the IVF cell id (nearest centroid, Arrow-batched); at scale
    the index table is written partitioned/clustered by cell so probes
    prune partitions."""
    return _assign_arrow(embeddings, centroids, "embedding")


def _probe_cells(query_vec, centroids, nprobe: int) -> list[int]:
    """The nprobe cells whose centroids are nearest the query (squared
    L2, ties to the lower cell id)."""
    import builtins

    dists = [
        (builtins.sum((a - b) ** 2 for a, b in zip(query_vec, c)), ci)
        for ci, c in enumerate(centroids)
    ]
    return [ci for _d, ci in sorted(dists)[:nprobe]]


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k: score only vectors in the nprobe cells nearest the query.
    nprobe = len(centroids) degrades to exact brute force (tested)."""
    probe_cells = _probe_cells(query_vec, centroids, nprobe)
    candidates = ivf_assign(embeddings, centroids).filter(
        F.col("cell").isin(probe_cells)
    )
    return brute_force_topk(
        candidates.select("vec_id", "embedding"), query_vec, k
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are clustered by the IVF coarse
    quantizer, and near-duplicates are detected only WITHIN a cell —
    pair generation is blocked on cell equality, never a cross join, so
    the 100 TB cost is sum(|cell|^2) over balanced cells instead of N^2
    (the paper's within-cluster pruning, on the same quantizer the ANN
    index already maintains).

    Keep rule (deterministic): a vector is DROPPED iff ANY same-cell
    vector with a smaller vec_id is cosine-similar at >= threshold —
    lowest-id-representative preference, evaluated against all smaller
    ids (not only kept ones), so chains a~b, b~c drop both b and c even
    when a!~c. One pass, no iteration, engine-portable.

    Returns the kept rows as (vec_id, cell). The within-cell scoring is
    cosine_neardup_pairs_arrow blocked on the cell; every pair's larger
    id (vec_b) is a drop, applied with a left anti-join (a drop listed
    twice removes its row once, so no distinct is needed).
    """
    assigned = ivf_assign(
        embeddings.select("vec_id", "embedding"), centroids
    )
    drops = cosine_neardup_pairs_arrow(
        assigned, threshold, block_col="cell"
    ).select(F.col("vec_b").alias("vec_id"))
    return assigned.join(drops, "vec_id", "left_anti").select(
        "vec_id", "cell"
    )


def _write_cells(cells: DataFrame, centroids: list[list[float]],
                 path: str) -> None:
    """Write cell-assigned rows as a cell-partitioned parquet table, with
    the quantizer persisted next to it as metadata. Repartitioning by cell
    first (guide §6) gives one file per cell directory instead of
    (#tasks x #cells) small files, each of which taxes every later probe
    and upsert."""
    cells.repartition("cell").write.mode("overwrite").partitionBy(
        "cell").parquet(path)
    cells.sparkSession.createDataFrame(
        pd.DataFrame({"centroids_json": [json.dumps(centroids)]}),
        "centroids_json string",
    ).write.mode("overwrite").parquet(path + "_quantizer")


def ivf_write_index(
    embeddings: DataFrame, centroids: list[list[float]], path: str
) -> None:
    """Materialize the IVF index as a cell-partitioned parquet table — the
    100 TB layout: probes then touch only the nprobe nearest cells'
    partitions (directory-level pruning, no full scan)."""
    _write_cells(ivf_assign(embeddings, centroids), centroids, path)


def ivf_write_index_int8(
    embeddings: DataFrame, centroids: list[list[float]], path: str
) -> None:
    """Materialize the QUANTIZED IVF index: (vec_id, scale, qembedding)
    partitioned by cell — the 4x-smaller copy a 100 TB deployment keeps
    hot while the float originals stay on cold storage for re-rank.
    Cell assignment happens on the FLOAT vectors (same cells as the
    float index, so probes agree); only the payload is compressed."""
    _write_cells(
        quantize_int8(ivf_assign(embeddings, centroids)).drop("embedding"),
        centroids, path)


def ivf_topk_int8_indexed(
    spark,
    int8_path: str,
    float_table: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """Two-stage ANN over the WRITTEN int8 index: the probe reads only
    the nprobe nearest cells' partitions of the quantized table
    (PartitionFilters — plan-gated), scores the dequantized codes, and
    re-ranks the broadcast top-`shortlist` ids exactly against the
    float table. Same ranking semantics as topk_int8_rerank (6dp
    rounding, vec_id tie-breaks), so the two agree given the same
    quantizer — tested."""
    centroids = ivf_read_quantizer(spark, int8_path)
    probe_cells = _probe_cells(query_vec, centroids, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = spark.read.parquet(int8_path).filter(
        F.col("cell").isin(probe_cells)
    )
    approx = dequantize_int8(cand, "deq").select(
        "vec_id",
        F.round(cosine(F.col("deq"), q), 6).alias("approx_sim"),
    )
    ids = approx.orderBy(
        F.desc("approx_sim"), F.asc("vec_id")
    ).limit(shortlist).select("vec_id")
    exact = float_table.join(F.broadcast(ids), "vec_id").select(
        "vec_id",
        F.round(
            cosine(F.col("embedding").cast("array<double>"), q), 6
        ).alias("cos_sim"),
    )
    return exact.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def binarize_embeddings(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "bits",
) -> DataFrame:
    """1-bit sign quantization, 32 dims packed per long — the 32x
    compression tier below int8 (Hamming-space candidate generation for
    cosine-ish retrieval; re-rank survivors on int8 or float). Bit j of
    word w is `v[32w+j] > 0` (strict: zeros and nulls pack as 0 on every
    engine). Packing words stay < 2^32, so long arithmetic never
    overflows and the codes are integer-exact across engines. One JVM
    expression sized by each array's own length, scan-local, so batches
    and streams need no dimensionality argument."""
    v = F.col(vec_col).cast("array<double>")
    n = F.size(v)

    def word(w):
        # Horner over the word's dims, highest first: acc*2 + bit
        return F.aggregate(
            F.sequence(F.least(w * 32 + 31, n - 1), w * 32, F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2 + F.when(v[i] > 0, 1).otherwise(0),
        )

    words = F.when(
        n > 0, F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / 32).cast("int")), word
        )
    ).otherwise(F.array().cast("array<long>"))
    return embeddings.withColumn(out_col, words)


def hamming_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Top-k nearest by Hamming distance over the 1-bit codes: distance =
    popcount(xor) per packed word, folded JVM-side — integer-exact, so
    the oracle can verify through an INDEPENDENT formulation (counting
    differing signs dimension-wise) and must agree bit-for-bit. Ties to
    the lowest vec_id. TakeOrdered, no full sort."""
    d = len(query_vec)
    qbits = []
    for w in range(0, d, 32):
        word = 0
        for i in range(w, min(d, w + 32)):
            if query_vec[i] > 0:
                word |= 1 << (i - w)
        qbits.append(word)
    qlit = F.array(*[F.lit(int(x)).cast("long") for x in qbits])
    scored = binarize_embeddings(embeddings).select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                F.col("bits"), qlit, lambda a, b: F.bit_count(a.bitwiseXOR(b))
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("hamming"),
    )
    return scored.orderBy(F.asc("hamming"), F.asc("vec_id")).limit(k)


def ann_recall_at_k(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Recall@k of each compression tier against exact float retrieval —
    the measurement that decides how aggressively a 100 TB deployment
    can lean on the cheap tiers: 'hamming' ranks by popcount(xor) over
    the 1-bit codes, 'int8' by cosine over the dequantized int8 codes;
    both are scored against the exact float top-k (6dp, vec_id ties).
    Returns (tier, recall) rows. Every stage is TakeOrdered over k/
    corpus-pruned candidates plus one k-row intersection join — driver
    and shuffle costs are O(k), not corpus-sized."""
    exact = brute_force_topk(embeddings, query_vec, k).select("vec_id")
    ham = hamming_topk(embeddings, query_vec, k).select("vec_id")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    int8 = (
        dequantize_int8(quantize_int8(embeddings).drop("embedding"), "deq")
        .select(
            "vec_id",
            F.round(cosine(F.col("deq"), q), 6).alias("approx_sim"),
        )
        .orderBy(F.desc("approx_sim"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
    )
    parts = pd.DataFrame(
        [
            (tier, ids.join(exact, "vec_id").count() / float(k))
            for tier, ids in (("hamming", ham), ("int8", int8))
        ],
        columns=["tier", "recall"],
    )
    return embeddings.sparkSession.createDataFrame(
        parts, "tier string, recall double"
    )


# ------------------------------------------------ incremental index upsert


def ivf_read_quantizer(spark, path: str) -> list[list[float]]:
    return json.loads(
        spark.read.parquet(path + "_quantizer").first()["centroids_json"]
    )


def ivf_upsert(new_embeddings: DataFrame, path: str) -> dict:
    """Incremental maintenance of the written IVF index: upsert a batch of
    (vec_id, embedding) rows into the cell-partitioned table WITHOUT
    rebuilding it — the ingest path a 100 TB index needs (the reference
    keeps a persistent FAISS index it adds to per document batch:
    /root/reference/marie/extract/annotators/faiss_hybrid_annotator.py).

    Semantics: last-write-wins per vec_id. The batch is assigned with the
    PERSISTED quantizer (frozen at train time — standard IVF `add`:
    centroids never shift on ingest, so cell assignment stays a pure
    function of the embedding and probes stay consistent).

    Scale shape, per phase:
      1. assign the batch JVM-side; one aggregation yields its distinct
         cells (bounded by n_centroids) and its size.
      2. stale-copy hunt: an UPDATED embedding can move its vector to a
         different cell, stranding the old row in a partition the merge
         never rewrites, so the non-touched cells' vec_id column is
         semi-joined with the broadcast batch ids (a columnar projection,
         no shuffle of the index).
      3. merge = (touched + stale cells' rows anti-joined on the batch
         ids) UNION the assigned batch, committed by one commit.Commit
         partitioned by cell (staged, verified, claimed, swapped); a
         stale cell left empty is removed. A crash after the claim is
         rolled forward by the next upsert or indexed read; if another
         upsert commits first this raises commit.CommitConflict, and a
         rerun applies the batch on top.

    Returns {n_batch, cells_touched, cells_stale, cells_emptied}."""
    spark = new_embeddings.sparkSession
    with commit.Commit(spark, path) as c:
        centroids = ivf_read_quantizer(spark, path)
        index = spark.read.parquet(path)
        index_cols = [col for col in index.columns if col != "cell"]
        if set(new_embeddings.columns) != set(index_cols):
            raise ValueError(
                f"upsert batch columns {sorted(new_embeddings.columns)} "
                f"must match the index payload columns {sorted(index_cols)}"
            )
        batch = ivf_assign(new_embeddings, centroids)
        cell_counts = batch.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        touched = sorted(r.cell for r in cell_counts)
        if not touched:
            return {"n_batch": 0, "cells_touched": [], "cells_stale": [],
                    "cells_emptied": []}
        ids = F.broadcast(batch.select("vec_id").distinct())
        stale = sorted(
            r.cell
            for r in index.filter(~F.col("cell").isin(touched))
            .join(ids, "vec_id", "left_semi")
            .select("cell")
            .distinct()
            .collect()
        )
        all_touched = sorted(set(touched) | set(stale))
        keep_old = index.filter(F.col("cell").isin(all_touched)).join(
            ids, "vec_id", "left_anti"
        )
        # one file per staged cell dir (guide §6): fewer files to verify,
        # rename and later scan
        res = c.replace_partitions(
            keep_old.unionByName(batch.select(keep_old.columns))
            .repartition("cell"),
            "cell",
            all_touched,
        )
    return {
        "n_batch": sum(r.n for r in cell_counts),
        "cells_touched": all_touched,
        "cells_stale": stale,
        "cells_emptied": res["emptied"],
    }


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k over the WRITTEN index: the cell filter is a partition
    predicate, so the scan reads only the probed cells' files (verify via
    PartitionFilters in the plan — tested). Rolls forward an upsert whose
    writer died after claiming its version first (commit.recover: one
    listing when there is nothing to do), so a reader never sees a
    part-old/part-new index."""
    commit.recover(spark, path)
    centroids = ivf_read_quantizer(spark, path)
    probe_cells = _probe_cells(query_vec, centroids, nprobe)
    candidates = spark.read.parquet(path).filter(
        F.col("cell").isin(probe_cells)
    )
    return brute_force_topk(
        candidates.select("vec_id", "embedding"), query_vec, k
    )


def rrf_fuse(
    rankings: list[DataFrame],
    names: list[str],
    k: int = 60,
    topn: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): combine
    the lexical (BM25) and semantic (ANN cosine) retrieval sides into one
    ranking — rrf(d) = sum over systems of 1/(k + rank_s(d)), summing only
    over systems that returned d. This is the standard hybrid-retrieval
    merge the reference reaches via its FAISS+lexical hybrid annotator
    (/root/reference/marie/extract/annotators/faiss_hybrid_annotator.py);
    here it is a pure DataFrame op over the engine's own bm25_topk /
    brute_force_topk / ivf_topk outputs.

    Each input is a 2-column (id, score) TOP-K result, tagged with one
    constant query id and fused by `rrf_fuse_bulk` (the same plan, with
    every window partitioned by that id); the tag is dropped and the
    top-`topn` rows ordered by (rrf desc, doc_id asc) — a TakeOrdered
    (the limit spares the range sort its sampling job). Ranks are
    row_number by (score desc, id asc); contributions are added in
    input-list order, so the float sum is order-deterministic and
    hash-stable. Output: (doc_id, rrf, <name>_rank ... nullable ints).
    """
    q = "query_id"
    return (
        rrf_fuse_bulk(
            [r.select(F.lit(0).alias(q), *r.columns[:2]) for r in rankings],
            names, k, topn, q,
        )
        .drop(q)
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(topn)
    )


def rrf_fuse_bulk(
    rankings: list[DataFrame],
    names: list[str],
    k: int = 60,
    topn: int = 20,
    query_col: str = "query_id",
) -> DataFrame:
    """Bulk reciprocal-rank fusion: `rrf_fuse` generalized to MANY queries
    at once — the hybrid-retrieval EVALUATION path (fuse every eval
    query's lexical and semantic result lists in one job, not one driver
    round-trip per query).

    Each input is a (query_col, id, score) per-query top-k table (id and
    score are the first two non-query columns, any names). Scale shape:
    every window below is PARTITIONED BY query_col — rank assignment,
    the full-outer merge (keyed on (query, doc)), and the final per-query
    top-`topn` are all hash-distributed over queries, so the plan carries
    no single-partition window and no driver-side state; per-query input
    is already top-k-bounded, so partitions stay tiny no matter the
    corpus. Determinism matches rrf_fuse: ranks by (score desc, id asc),
    contributions summed in input-list order, per-query cut by
    (rrf desc, doc_id asc).

    Output: (query_col, doc_id, rrf, <name>_rank ...), `topn` rows per
    query.
    """
    from pyspark.sql import Window

    fused = None
    for r, name in zip(rankings, names):
        rest = [c for c in r.columns if c != query_col]
        id_col, score_col = rest[:2]
        w = Window.partitionBy(query_col).orderBy(
            F.desc(score_col), F.asc(id_col)
        )
        ranked = r.select(
            F.col(query_col),
            F.col(id_col).alias("doc_id"),
            F.row_number().over(w).alias(f"{name}_rank"),
        )
        fused = (
            ranked
            if fused is None
            else fused.join(ranked, [query_col, "doc_id"], "full_outer")
        )
    contribs = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"{n}_rank")), F.lit(0.0)
        )
        for n in names
    ]
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    wq = Window.partitionBy(query_col).orderBy(
        F.desc("rrf"), F.asc("doc_id")
    )
    return (
        fused.select(
            query_col,
            "doc_id",
            F.round(total, 6).alias("rrf"),
            *[F.col(f"{n}_rank") for n in names],
        )
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= topn)
        .drop("__rn")
    )
