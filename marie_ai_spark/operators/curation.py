"""Training-data curation operators: benchmark decontamination, PII
scrubbing, and deterministic stratified composition sampling.

These are the corpus-hygiene steps a large-scale training-data pipeline
runs after extraction/dedup (the same station in the pipeline as the
reference's cleaning/annotation passes — SURVEY.md §2.10's data-prep
surface), expressed relationally:

  - decontamination: n-gram collision join between the corpus and a
    (small, broadcast) benchmark/eval set — the standard 13-gram exact
    overlap test. The benchmark side is distinct-shingled and broadcast;
    the corpus side shuffles ONLY the colliding shingles (inner join
    prunes before the aggregate), so cost scales with corpus shingle
    volume, never with |corpus| x |benchmark|.
  - PII scrub: one pass of JVM regexp_replace/regexp_count per class —
    email, IPv4, phone, long digit runs (card-like) — applied in a FIXED
    order so the python twin and the SQL oracle mask identically. No
    lookaround, so java.util.regex / RE2 / python `re` agree.
  - stratified sampling: keep a row iff md5(key) mod 1e6 falls under the
    stratum's fraction — deterministic, shuffle-free (the filter is a
    pure column expression; no sampleBy randomness, reproducible across
    engines and runs).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import shingles_of_tokens, tokens

# fixed application order; no lookaround so every regex engine agrees
PII_RULES = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("card", r"\b\d{13,16}\b", "[CARD]"),
]


_PII_VOCAB = (
    "order account invoice contact support ticket refund shipping billing "
    "review update status record policy notice summary detail request"
).split()


def gen_pii_rows(n_docs: int, seed: int = 42) -> list[tuple[int, str]]:
    """Deterministic synthetic PII-bearing documents (pure python, no
    Spark) — sentences with injected emails / IPv4s / phones / card-like
    digit runs, plus decoys (short digit runs, bare domains) that must
    NOT match. Shared by the Spark query and the fixture oracle."""
    import random

    rows = []
    for i in range(n_docs):
        rng = random.Random((seed << 20) ^ i)
        parts = []
        for _ in range(rng.randint(2, 6)):
            parts.append(
                " ".join(rng.choice(_PII_VOCAB) for _ in range(rng.randint(3, 8)))
            )
            r = rng.random()
            if r < 0.25:
                parts.append(
                    f"{rng.choice(_PII_VOCAB)}{rng.randint(1, 99)}"
                    f"@example{rng.randint(1, 9)}.com"
                )
            elif r < 0.45:
                parts.append(
                    ".".join(str(rng.randint(1, 254)) for _ in range(4))
                )
            elif r < 0.6:
                parts.append(
                    f"{rng.randint(200, 999)}-{rng.randint(200, 999)}-"
                    f"{rng.randint(1000, 9999)}"
                )
            elif r < 0.7:
                parts.append(str(rng.randint(10**12, 10**16 - 1)))
            elif r < 0.85:  # decoys
                parts.append(str(rng.randint(1, 99999)))
        rows.append((i, " ".join(parts)))
    return rows


def gen_pii_docs(spark, n_docs: int = 300, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(
        gen_pii_rows(n_docs, seed), "doc_id long, text string"
    )


def contaminated_docs(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Exact n-gram decontamination: (doc_id, bench_id, n_collisions) for
    every document sharing at least one word n-gram with a benchmark
    document. Run with the TRAINING corpus as `documents` and the eval
    set as `benchmark`; drop or flag the returned doc_ids before
    training. n=13 is the conventional window (big enough that chance
    collisions vanish, small enough to catch quoted spans)."""

    def sh(df, src_col, out_name):
        # project tokens FIRST (projection-collapse trap: inlining the
        # split makes Catalyst re-tokenize per transform slice)
        toks = df.select(
            F.col(src_col).alias(out_name), tokens("text").alias("w")
        )
        return toks.select(
            out_name, F.explode(shingles_of_tokens("w", n)).alias("gram")
        )

    doc_grams = sh(documents, id_col, "_doc")
    bench_grams = sh(benchmark, bench_id_col, "_bench")
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("_doc", "_bench")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
        .select(
            F.col("_doc").alias(id_col),
            F.col("_bench").alias(bench_id_col),
            "n_collisions",
        )
    )


def benchmark_shingles(
    benchmark: DataFrame, n: int = 13, text_col: str = "text",
    max_shingles: int = 200_000,
) -> list[str]:
    """Distinct word n-grams of a benchmark/eval set, collected to the
    driver. Eval sets are SMALL, FIXED metadata (thousands of docs, not
    the corpus), so the collect is bounded by construction — the same
    class of driver-side metadata as IVF centroids or LSH planes. The
    bound is enforced (limit(max+1), the union-find-gate pattern): a
    benchmark too big to pin per-task raises instead of flooding the
    driver — use contaminated_docs' broadcast join for those."""
    toks = benchmark.select(tokens(text_col).alias("w"))
    rows = (
        toks.select(F.explode(shingles_of_tokens("w", n)).alias("gram"))
        .distinct()
        .limit(max_shingles + 1)
        .collect()
    )
    if len(rows) > max_shingles:
        raise ValueError(
            f"benchmark produced more than {max_shingles} distinct "
            f"{n}-grams; too large for the literal-set form — use "
            "contaminated_docs (broadcast join) instead"
        )
    return sorted(r.gram for r in rows)


def contamination_flag(
    documents: DataFrame,
    bench_shingles: list[str],
    n: int = 13,
    text_col: str = "text",
    out_col: str = "contaminated",
) -> DataFrame:
    """Streaming-compatible decontamination: adds a boolean column that is
    true iff the document shares any word n-gram with the benchmark set.

    contaminated_docs() aggregates over the corpus (per-pair collision
    counts) and so cannot run on a streaming DataFrame; this form treats
    the benchmark shingle set as static metadata captured in a STATELESS
    scalar pandas UDF — the dictionary pattern (hybrid annotator):
    the frozenset is built once per executor process and each document's
    n-grams are O(1) membership probes. A JVM arrays_overlap against a
    13k-element array literal re-hashed the set per row (~5x slower,
    measured at sf0.1); the Arrow stage is the sanctioned Python surface
    for exactly this set-lookup shape. Stateless scalar UDFs run
    unchanged under Structured Streaming. Use contaminated_docs'
    broadcast join for benchmark sets too large to pin per-executor
    (benchmark_shingles enforces the bound). Agreement with
    contaminated_docs is test-asserted.

    Tokenization parity (ADVICE r5, empirically pinned against the JVM):
    the twin of tokens() is strip(' ') — Spark trim removes ONLY ASCII
    spaces — then re.split(r"\\s+", flags=re.ASCII), which like Java
    split(-1) keeps the empty tokens a leading/trailing tab produces and
    keeps NBSP/U+2028 INSIDE tokens. str.split() would diverge on both
    (it splits on Unicode whitespace and drops empties), giving such
    documents different 13-grams than benchmark_shingles computes.
    Bit-equality is property-tested (tests/test_curation.py)."""
    import re

    bs = frozenset(bench_shingles)
    ws = re.compile(r"\s+", flags=re.ASCII)

    def fn(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = t.strip(" ") if t is not None else ""
            w = ws.split(s) if s else []
            out.append(
                any(
                    " ".join(w[i : i + n]) in bs
                    for i in range(len(w) - n + 1)
                )
            )
        return pd.Series(out, dtype=bool)

    flag = (
        F.pandas_udf(fn, "boolean")(F.col(text_col))
        if bs
        else F.lit(False)
    )
    return documents.withColumn(out_col, flag)


def scrub_pii(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Mask PII classes in `text_col` and count the hits per class:
    (id, clean_text, n_email, n_ipv4, n_phone, n_card, n_pii). Counts are
    taken BEFORE masking, each class on the already-masked output of the
    previous classes, in PII_RULES order — so overlapping patterns
    resolve identically in the twin and the SQL oracle."""
    out = documents
    masked = F.col(text_col)
    counts = []
    for name, pattern, token in PII_RULES:
        cnt = F.regexp_count(masked, F.lit(pattern)).alias(f"n_{name}")
        counts.append(f"n_{name}")
        out = out.withColumn(f"n_{name}", cnt)
        masked = F.regexp_replace(masked, pattern, token)
        out = out.withColumn("_masked", masked)
        masked = F.col("_masked")
    total = sum(F.col(c) for c in counts)
    return out.select(
        id_col,
        F.col("_masked").alias("clean_text"),
        *counts,
        total.cast("int").alias("n_pii"),
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic composition sampling: keep a row iff
    md5(key) mod 1e6 < fraction(stratum) * 1e6. Pure column filter — no
    shuffle, no RNG state, identical keep-set on every engine and every
    run (the property a 100 TB re-run needs). Fractions are exact in the
    large-N limit per stratum."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000000
    )
    thresh = F.lit(int(default_fraction * 1000000))
    for value, frac in sorted(fractions.items(), reverse=True):
        thresh = F.when(
            F.col(stratum_col) == value, F.lit(int(frac * 1000000))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def _budget_expr(source_col: str, budgets: dict[str, int], default_budget: int):
    b = F.lit(int(default_budget))
    for value, amount in sorted(budgets.items(), reverse=True):
        b = F.when(F.col(source_col) == value, F.lit(int(amount))).otherwise(b)
    return b


def _tb_priority(key_col: str):
    return F.md5(F.col(key_col).cast("string"))


def token_budget_sample(
    df: DataFrame,
    source_col: str,
    budgets: dict[str, int],
    key_col: str,
    token_col: str,
    default_budget: int = 0,
) -> DataFrame:
    """Domain-weighted token-budget sampling — the data-mixture knob a
    training run turns (each source gets a token allowance, e.g. "3B
    tokens of forums, 1B of patents"): per source, keep documents in
    deterministic md5-priority order until the budget is exhausted. A
    doc is kept iff the running token total through it, ordered by
    (md5(key), key), is <= budget(source). Deterministic and
    engine-portable, like stratified_sample; `token_col` is a
    precomputed per-row token count.

    Scale shape: the running sum is inherently sequential per source,
    and one source-partitioned window puts the hottest domain in a
    single partition (head-domain skew — per_source_cap's problem, but
    a rank cap can salt freely while a PREFIX SUM cannot). Equivalent
    two-phase plan:
      1. bucket rows by the first 3 hex digits of the priority — a
         PREFIX of the priority order, so bucket order is consistent
         with doc order within a source;
      2. aggregate token sums per (source, bucket) — a bounded table,
         <= 4096 rows per source regardless of corpus size — and take
         each bucket's EXCLUSIVE running prefix with a window over that
         small aggregate;
      3. join the prefix back on (source, bucket) — a skew-free key:
         the hot domain splits 4096 ways. Rows of buckets that fit
         entirely (prefix + bucket sum <= budget) pass with no window
         at all; buckets wholly past the budget drop; the ONE boundary
         bucket per source runs the exact per-doc window over ~1/4096
         of the domain.
    Output row-identical to one source-partitioned running-sum window
    (the DuckDB oracle's shape, test-asserted); returns the kept input
    rows.
    """
    pr = _tb_priority(key_col)
    base = (
        df.withColumn("_tb_pr", pr)
        .withColumn(
            "_tb_bucket",
            F.conv(F.substring("_tb_pr", 1, 3), 16, 10).cast("int"),
        )
        .withColumn(
            "_tb_budget", _budget_expr(source_col, budgets, default_budget)
        )
    )
    agg = base.groupBy(source_col, "_tb_bucket").agg(
        F.sum(token_col).alias("_tb_bsum")
    )
    wpre = (
        Window.partitionBy(source_col)
        .orderBy("_tb_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = agg.withColumn(
        "_tb_prefix", F.coalesce(F.sum("_tb_bsum").over(wpre), F.lit(0))
    )
    joined = base.join(prefix, [source_col, "_tb_bucket"])
    aux = ["_tb_pr", "_tb_bucket", "_tb_budget", "_tb_prefix", "_tb_bsum"]
    whole = joined.filter(
        F.col("_tb_prefix") + F.col("_tb_bsum") <= F.col("_tb_budget")
    )
    # boundary gate is <=, not <: a zero-token row can LEAD a bucket whose
    # exclusive prefix equals the budget exactly — the single-window form
    # keeps it (cum == budget), so the bucket must run the exact window
    # rather than be classified wholly-past.
    boundary = joined.filter(
        (F.col("_tb_prefix") + F.col("_tb_bsum") > F.col("_tb_budget"))
        & (F.col("_tb_prefix") <= F.col("_tb_budget"))
    )
    win = (
        Window.partitionBy(source_col, "_tb_bucket")
        .orderBy("_tb_pr", key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    boundary_kept = boundary.withColumn(
        "_tb_cum", F.col("_tb_prefix") + F.sum(token_col).over(win)
    ).filter(F.col("_tb_cum") <= F.col("_tb_budget"))
    return whole.drop(*aux).unionByName(
        boundary_kept.drop(*aux, "_tb_cum")
    )


def per_source_cap(
    df: DataFrame,
    source_col: str,
    cap: int,
    key_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Per-domain document caps (the C4/RefinedWeb composition control:
    no single site dominates the training mix): keep at most `cap` rows
    per source, selected by a DETERMINISTIC content-independent priority
    (md5 of the key, ties by key) so the choice is reproducible and
    engine-portable — the same discipline as stratified_sample.

    Scale shape: a single rank-window partitioned by source puts every
    row of the hottest domain in one partition (the classic head-domain
    skew — at web scale one domain can be 10%+ of the corpus). Instead,
    two bounded phases with IDENTICAL output to the single window:
      1. rank within (source, salt) — the hot domain splits n_salts
         ways — and keep per-salt top-cap. Any global top-cap row is
         top-cap within its own salt bucket, so phase 1 keeps a superset.
      2. rank the <= cap * n_salts survivors per source; keep top-cap.
    Output: the input rows of the kept documents.
    """
    pr = F.md5(F.col(key_col).cast("string"))
    salt = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salts))
    w1 = Window.partitionBy(source_col, "_salt").orderBy("_pr", key_col)
    w2 = Window.partitionBy(source_col).orderBy("_pr", key_col)
    return (
        df.withColumn("_pr", pr)
        .withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= cap)
        .drop("_pr", "_salt", "_r1", "_r2")
    )


def temperature_mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Temperature-flattened mixture sampling — the multinomial
    source-weighting rule of XLM-R / mT5 data mixing: sample sources with
    probability p_s proportional to n_s^alpha (alpha < 1 flattens the head,
    upweights rare sources), with an expected kept-total of
    target_frac * N rows. stratified_sample takes EXPLICIT per-stratum
    fractions; this derives them from the corpus histogram.

    Per-source acceptance rate r_s = min(1, target_frac * N * p_s / n_s);
    a row is kept iff md5(key) mod 1e6 < r_s * 1e6 — the same
    deterministic, RNG-free admission as stratified_sample (identical
    keep-set on every engine and every re-run).

    Everything stays relational: the source histogram is a tiny
    aggregate; the normalizer sum(n_s^alpha) folds in SOURCE-ASCENDING
    order (sort_array + aggregate) so the float total is
    order-deterministic and hash-stable across engines; the rates join
    back as a broadcast and the data path is one narrow filter — no
    shuffle of the corpus. For the train-once/apply-on-ingest shape,
    pin the derived rates from a reference corpus snapshot and re-apply
    them statelessly with `stratified_sample` (explicit fractions) —
    the admission predicate is identical. Returns the kept rows plus
    the audit rate per source.
    """
    w_expr = F.pow(F.col("_n").cast("double"), F.lit(float(alpha)))
    hist = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    norm = hist.agg(
        F.sum("_n").alias("_N"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col(source_col).alias("s"), w_expr.alias("w")))
            ),
            F.lit(0.0),
            lambda acc, p: acc + p["w"],
        ).alias("_wsum"),
    )
    # norm derives from hist, so the crossJoin is a self-join in lineage
    # terms: qualify every reference by its side to keep resolution
    # unambiguous.
    rates = hist.crossJoin(F.broadcast(norm)).select(
        hist[source_col],
        F.least(
            F.lit(1.0),
            F.lit(float(target_frac))
            * norm["_N"]
            * F.pow(hist["_n"].cast("double"), F.lit(float(alpha)))
            / norm["_wsum"]
            / hist["_n"],
        ).alias("_rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000000
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(bucket < F.col("_rate") * 1000000)
        .select(
            *df.columns, F.round(F.col("_rate"), 6).alias("accept_rate")
        )
    )
