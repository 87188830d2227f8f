"""Portable column expression helpers.

Portability rule for the oracle gate: every function here has an exact ANSI
SQL equivalent runnable by DuckDB (documented per helper), so engine and
oracle compute identical values. Hash-dependent logic uses md5 (identical
across engines) rather than engine-native hashes (xxhash64/duckdb hash),
which differ.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def spread_input(df, key_col: str | None = None):
    """Give a CPU-heavy narrow stage at least the cluster's default
    parallelism (guide §2.5, input skew): a small input arrives as a
    handful of scan splits — a one-row-group parquet file is ONE task —
    which serializes the whole stage no matter how many cores exist.
    Hash-repartition on a deterministic key (never rand-derived — retried
    map tasks must reproduce the same placement) up to default
    parallelism, and NO-OP when the scan already has that many splits, so
    at-scale plans gain no exchange. The partition probe compiles the
    RDD lineage without executing it (~70 ms driver-side, repaid ~20x by
    the parallelized stage at local[32]). A streaming DataFrame is
    returned unchanged: it has no RDD to probe, and each micro-batch is
    planned on its own."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_col is not None:
        return df.repartition(target, key_col)
    return df.repartition(target)


def tokens(col) -> Column:
    """Whitespace tokenization; '' -> empty array.
    SQL: CASE WHEN trim(x)='' THEN [] ELSE regexp_split_to_array(trim(x),'\\s+') END
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(c), r"\s+")
    )


def token_count(col) -> Column:
    return F.size(tokens(col))


def shingles_of_tokens(wcol, n: int = 3) -> Column:
    """Distinct word n-gram shingles of an ALREADY-MATERIALIZED token-array
    column. Callers must project tokens() into a named column first:
    referencing the split inline makes Catalyst re-evaluate trim+split for
    every slice of the transform (O(len * n_shingles) re-tokenization —
    measured 8x slower at sf0.1). Same trap as lang_id's normalization
    (textstats.py), solved by the projection barrier instead of a cache."""
    w = F.col(wcol) if isinstance(wcol, str) else wcol
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(col, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.
    SQL: list comprehension over regexp_split_to_array (see oracle_sql).
    Prefer tokens() into a named column + shingles_of_tokens() in hot paths
    (see that function's note on projection collapse)."""
    return shingles_of_tokens(tokens(col), n)


def cosine(a, b) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side (no UDF).
    SQL: list_dot_product(a,b)/(sqrt(list_dot_product(a,a))*sqrt(list_dot_product(b,b)))
    """
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    den = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    # zero-norm vectors -> NULL (and keeps ANSI mode from aborting the job)
    return F.when(den != 0, dot(a, b) / den)


def stable_fingerprint(col) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text —
    the Spark analog of the reference's content-addressed frame checksum
    (hash_frames_fast, marie/utils/image_utils.py:136-149).
    SQL: md5(lower(regexp_replace(trim(x), '\\s+', ' ', 'g')))
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))
