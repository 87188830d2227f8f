"""Hybrid lexical+embedding annotator (the FaissHybridAnnotator analog,
marie/extract/annotators/faiss_hybrid_annotator.py): dynamic line n-grams
-> fuzzy-first match against target labels -> embedding top-k with critical
boost + softmax -> per-document field dedup.

Spark shape (corpus hot path JVM-only; Python only on the DISTINCT-norm
dictionary side, as one vectorized Arrow batch stage):
  - candidates: one posexplode over lines + a flatten(transform(...)) ngram
    fan-out per line (sizes from token count, :615-625). Each raw token is
    normalized ONCE per line and the n-gram's normalized form is a pure
    array op (array_join of the token slice) — the previous per-ngram
    double regexp_replace was ~5x the regex work for the same strings.
  - decision pass (`decision_plan`), one pass over the fan-out: one
    distinct() over norm; the fuzzy channel (levenshtein ratio vs every
    normalized label, :552-576) as a crossjoin of the distinct norms with
    the broadcast labels; then, above that aggregate, the embedding
    channel — a VECTORIZED pandas UDF (md5 hashing-trick embedding ->
    cosine vs the tiny label set -> top-k + critical boost + softmax),
    one Arrow batch at a time with numpy accumulation — evaluated once
    per DISTINCT norm (dictionary-matching shape; the corpus has 10x+
    more occurrences than distinct n-grams), so the cost scales with
    vocabulary, not rows. The previous all-JVM higher-order-function
    build of the same numbers ran on the expression interpreter (no
    codegen) and measured ~3x slower; the Arrow batch IS the sanctioned
    Python surface.
  - dedup: highest_confidence per (conv_id, label) (:654-668) via one
    row_number window, ordering on the ROUNDED score so the python twin
    (ref_ops/hybrid.py) and the distributed run break ties identically.
  - join-back of the per-norm decisions onto candidate occurrences is an
    explicit broadcast (decisions ~ matched vocabulary, always tiny next
    to the candidate table — never shuffle the fan-out).

Lifecycle: the candidate fan-out has two consumers (the decision pass,
the join-back), and the join-back recomputes it — the fan-out is narrow
(posexplode + array ops, no shuffle), so the recompute costs one extra
corpus scan and NOTHING is persisted past the call (a session-lifetime
persist of a bigger-than-corpus relation is exactly what a 100 TB job
must not accumulate).

The per-norm decisions are computed EAGERLY at call time into a
localCheckpoint whose row count is observed on the way (the dedup.py
bounded-gate pattern, round 8, minus the second action): at or under the
bound the decisions come to the driver as Arrow batches, the join-back
broadcasts them as a local relation (the fan-out never shuffles) and the
checkpoint is dropped before the call returns; over the bound
(vocabulary too big to broadcast safely) the join-back joins the
checkpoint by shuffle instead of overflowing the driver. Either way no
Python worker carries the decisions and the scoring pass never re-runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..ref_ops.hybrid import (
    CRITICAL_BOOST,
    DEFAULT_CRITICAL,
    DEFAULT_TARGET_LABELS,
    EMBEDDING_WEIGHT,
    FUZZY_THRESHOLD,
    MIN_FINAL_SCORE,
    TOP_K,
    normalize_for_match,
)
from ..ref_ops.spans_engine import _EMBED_DIM, embed_line

_CAND_KEY = ["conv_id", "turn_idx", "line_no", "tok_start", "ngram_size"]

# diagnostics for tests/bench: which join-back strategy the bounded
# broadcast gate chose on the most recent hybrid_annotate call
LAST_CALL_INFO: dict = {"join": None, "n_decisions": None}


def _ngram_candidates(transcripts: DataFrame) -> DataFrame:
    lines = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    toks = F.when(
        F.trim("line") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim("line"), r"\s+"))
    # normalize every raw token once (upper, strip punct); tokens carry no
    # whitespace, so joining the normalized non-empty slice with single
    # spaces equals normalize_for_match of the joined raw slice
    nt = F.transform(
        F.col("w"), lambda t: F.regexp_replace(F.upper(t), r"[^\w\s]+", "")
    )
    with_toks = lines.select(
        "conv_id", "turn_idx", "line_no", toks.alias("w")
    ).select("conv_id", "turn_idx", "line_no", "w", nt.alias("nt"))
    n = F.size("w")
    max_size = (
        F.when(n <= 3, 2).when(n <= 7, 3).when(n <= 15, 4).otherwise(5)
    )
    ngrams = F.flatten(
        F.transform(
            F.sequence(F.lit(1), max_size),
            lambda j: F.when(
                n >= j,
                F.transform(
                    F.sequence(F.lit(0), n - j),
                    lambda i: F.struct(
                        i.cast("int").alias("tok_start"),
                        j.cast("int").alias("ngram_size"),
                        F.concat_ws(" ", F.slice("w", i + 1, j)).alias("ng"),
                        F.array_join(
                            F.filter(
                                F.slice("nt", i + 1, j), lambda t: t != ""
                            ),
                            " ",
                        ).alias("norm"),
                    ),
                ),
            ).otherwise(F.array().cast(
                "array<struct<tok_start:int,ngram_size:int,ng:string,norm:string>>"
            )),
        )
    )
    return with_toks.select(
        "conv_id", "turn_idx", "line_no", F.explode(ngrams).alias("c")
    ).select(
        "conv_id",
        "turn_idx",
        "line_no",
        F.col("c.tok_start").alias("tok_start"),
        F.col("c.ngram_size").alias("ngram_size"),
        F.col("c.ng").alias("value"),
        F.col("c.norm").alias("norm"),
    )


def _embed_score_udf(label_rows):
    """Vectorized scorer for the embedding channel: norm string -> winning
    (label, final-softmax score) or null. Twin-exact arithmetic:
      - bucket sums are small integers (exact in fp, order-free);
      - cosine and the softmax total accumulate in INDEX ORDER (np.cumsum
        is a running sum) matching the twin's sequential sums, so results
        are bit-identical to ref_ops.hybrid.hybrid_match;
      - top-k selection ranks by (cos desc, label asc) via a stable
      argsort over the label-ascending matrix; the winner among the top-k
      ranks by (raw desc, label asc) — softmax is monotone in raw, so the
      winner by final IS the winner by raw, incl. exact ties.
    """
    lbls = [r[0] for r in label_rows]  # label-ascending order
    crit = np.array([r[2] for r in label_rows])
    lmat = np.array([r[3] for r in label_rows], dtype=np.float64)
    n_lbl = len(lbls)
    k = min(TOP_K, n_lbl)
    tok_cache: dict = {}

    def _tok(tok):
        hit = tok_cache.get(tok)
        if hit is None:
            import hashlib

            h = hashlib.md5(tok.encode("utf-8", "surrogatepass")).digest()
            hit = (h[0] % _EMBED_DIM, 1.0 if h[1] % 2 == 0 else -1.0)
            tok_cache[tok] = hit
        return hit

    def fn(norms: pd.Series) -> pd.DataFrame:
        m = len(norms)
        if m == 0:
            return pd.DataFrame({"label": [], "final": []})
        if n_lbl == 0:
            # a scalar pandas UDF must return one row per input row —
            # an empty frame here would crash the Arrow stage with a
            # length mismatch when the label set is empty
            return pd.DataFrame(
                {"label": [None] * m, "final": [np.nan] * m}
            )
        vec = np.zeros((m, _EMBED_DIM), dtype=np.float64)
        rows, cols, signs = [], [], []
        for ri, s in enumerate(norms):
            for tok in s.lower().split():
                b, sg = _tok(tok)
                rows.append(ri)
                cols.append(b)
                signs.append(sg)
        if rows:
            np.add.at(vec, (np.array(rows), np.array(cols)), np.array(signs))
        # L2 normalize (sum of integer squares is exact, order-free)
        nrm = np.sqrt((vec * vec).sum(axis=1))
        nz = nrm > 0
        vec[nz] = vec[nz] / nrm[nz, None]
        # cosine per label, accumulated in index order (cumsum = running
        # sum) to match the twin's sequential zip-sum exactly
        cos = np.empty((m, n_lbl), dtype=np.float64)
        for li in range(n_lbl):
            cos[:, li] = np.cumsum(vec * lmat[li], axis=1)[:, -1]
        # top-k by (cos desc, label asc): stable sort keeps the
        # label-ascending base order on ties
        order = np.argsort(-cos, axis=1, kind="stable")[:, :k]
        top_cos = np.take_along_axis(cos, order, axis=1)
        top_crit = crit[order]
        raw = np.where(
            top_crit, np.minimum(top_cos + CRITICAL_BOOST, 1.0), top_cos
        ) * EMBEDDING_WEIGHT
        mx = raw.max(axis=1)
        exps = np.exp(raw - mx[:, None])
        tot = np.cumsum(exps, axis=1)[:, -1]  # rank-order running sum
        finals = exps / tot[:, None]
        # winner by (raw desc, label asc) — NOT by rank position: a
        # boosted lower-cos critical can tie a higher-cos label, and
        # the twin breaks that tie on label alone
        wkeys = np.lexsort((order, -raw), axis=1)[:, 0]
        ar = np.arange(m)
        win_final = finals[ar, wkeys]
        win_lbl = np.array(lbls, dtype=object)[order[ar, wkeys]]
        ok = win_final >= MIN_FINAL_SCORE
        return pd.DataFrame(
            {
                "label": np.where(ok, win_lbl, None),
                "final": np.where(ok, win_final, np.nan),
            }
        )

    # Marked nondeterministic only to pin ONE evaluation: a filter on the
    # result of a deterministic UDF is pushed below the projection that
    # computes it, and Spark then plans a second Arrow stage for the
    # filter. The scores themselves are a pure function of the norm.
    return F.pandas_udf(
        fn, "struct<label:string,final:double>"
    ).asNondeterministic()


_OUT_COLS = [
    "conv_id", "label", "strategy", "value",
    "turn_idx", "line_no", "tok_start", "ngram_size", "score",
]
_OUT_SCHEMA = (
    "conv_id string, label string, strategy string, value string, "
    "turn_idx int, line_no int, tok_start int, ngram_size int, score double"
)


def hybrid_annotate(
    transcripts: DataFrame,
    labels: list[str] | None = None,
    critical: list[str] | None = None,
    max_broadcast_decisions: int = 2_000_000,
) -> DataFrame:
    """(conv_id, label, strategy, value, turn_idx, line_no, tok_start,
    ngram_size, score): one highest-confidence row per (conv_id, label).
    The decision pass (`decision_plan`: one read of the candidate
    fan-out, scored once per distinct norm) runs eagerly at call
    time into a localCheckpoint; the returned plan is the join-back of
    those decisions onto the fan-out plus the dedup window. See the module
    docstring for the fan-out lifecycle and the bounded broadcast gate."""
    labels = labels if labels is not None else DEFAULT_TARGET_LABELS
    critical = critical if critical is not None else DEFAULT_CRITICAL
    spark = transcripts.sparkSession
    if not labels:
        return spark.createDataFrame([], _OUT_SCHEMA)
    # recomputed at join-back (narrow); nothing outlives the call
    normed = _ngram_candidates(transcripts).filter(F.col("norm") != "")

    # Bounded eager gate (ADVICE r4; see the module docstring): "always
    # tiny" is not a safety argument at 100 TB, so the gate counts before
    # collecting. Not a limit(N+1).collect(): executeTake's partition
    # ramp-up (1, 4, 16, ... of spark.sql.limit.scaleUpFactor) re-runs
    # the post-shuffle stage, Arrow scorer included, several times when
    # the decisions never reach the bound, the common case. Not a persist:
    # the InMemoryRelation columnar round-trip measured slower than the
    # checkpoint's plain RDD blocks.
    seen = Observation()
    dec_c = (
        decision_plan(normed, labels, critical)
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_dec = seen.get["n"]
    if n_dec <= max_broadcast_decisions:
        dec_local = spark.createDataFrame(dec_c.toPandas(), dec_c.schema)
        # the local relation replaces the checkpoint: drop its blocks now
        # rather than whenever the driver JVM next collects garbage
        dec_c._jdf.queryExecution().logical().rdd().unpersist(False)
        out = normed.join(F.broadcast(dec_local), "norm")
        LAST_CALL_INFO["join"] = "broadcast-local"
    else:
        out = normed.join(dec_c, "norm")
        LAST_CALL_INFO["join"] = "shuffle"
    LAST_CALL_INFO["n_decisions"] = n_dec
    out = out.select(*_CAND_KEY, "value", "label", "strategy", "score")
    wd = Window.partitionBy("conv_id", "label").orderBy(
        F.desc("score"), "turn_idx", "line_no", "tok_start", "ngram_size"
    )
    return (
        out.withColumn("d_rn", F.row_number().over(wd))
        .filter(F.col("d_rn") == 1)
        .select(*_OUT_COLS)
    )


def decision_plan(
    normed: DataFrame, labels: list[str], critical: list[str]
) -> DataFrame:
    """Lazy per-DISTINCT-norm decision table (norm, label, strategy,
    score). The match decision is a pure function of the NORMALIZED text,
    so each distinct norm is decided once and joined back (at 100
    conversations: 90,322 candidate occurrences, 48,535 distinct norms,
    2,637 decisions).

    Every distinct norm meets every label in ONE crossjoin; a pair whose
    length gap alone puts it under the fuzzy threshold (sim = 1 - lev/max
    <= 1 - |la-lb|/max) skips the O(len^2) levenshtein and scores 0.0.
    The embedding scorer and the choice between the channels sit above
    the per-norm aggregate. Do not split the norms into separately
    planned channels by a predicate (a length window, a fuzzy outcome):
    Catalyst pushes a deterministic filter on the grouping key below
    distinct(), so each branch re-reads the whole fan-out and the scorer
    runs below the exchange, on every occurrence."""
    label_rows = [
        (
            lbl,
            normalize_for_match(lbl),
            lbl in critical,
            embed_line(normalize_for_match(lbl).lower()),
        )
        for lbl in sorted(labels)
    ]
    # from pandas over Arrow: a LocalTableScan, where a Python list would
    # cost a Python-worker job (applySchemaToPythonRDD) per scan
    label_df = normed.sparkSession.createDataFrame(
        pd.DataFrame([r[:2] for r in label_rows]),
        "label string, norm_label string",
    )
    mx = F.greatest(F.length("norm"), F.length("norm_label"), F.lit(1))
    gap = F.abs(F.length("norm") - F.length("norm_label"))
    fuzzy = F.when(
        gap <= (1.0 - FUZZY_THRESHOLD) * mx,
        F.lit(1.0) - F.levenshtein("norm", "norm_label") / mx,
    ).otherwise(F.lit(0.0))
    # fuzzy winner per norm via min(struct(-fuzzy, label)): highest fuzzy,
    # then lexicographically smallest label — an aggregation, not a window
    fw = (
        normed.select("norm")
        .distinct()
        .crossJoin(F.broadcast(label_df))
        .groupBy("norm")
        .agg(F.min(F.struct((-fuzzy).alias("nf"), "label")).alias("fw"))
    )
    d = _embed_score_udf(label_rows)(F.col("norm"))
    direct = F.col("f_best") >= FUZZY_THRESHOLD
    pick = lambda fz, emb: F.when(direct, fz).otherwise(emb)  # noqa: E731
    scored = fw.select(
        "norm", (-F.col("fw.nf")).alias("f_best"), "fw", d.alias("d")
    )
    return (
        scored.filter(direct | F.col("d.label").isNotNull())
        .select(
            "norm",
            pick(F.col("fw.label"), F.col("d.label")).alias("label"),
            pick(F.lit("fuzzy-direct"), F.lit("embedding-softmax")).alias(
                "strategy"
            ),
            F.round(pick(F.col("f_best"), F.col("d.final")), 6).alias("score"),
        )
    )
