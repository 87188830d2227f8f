"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: the O(n^2) trap in near-dup detection is avoided by joining
on shared shingles / band signatures (candidate generation), never by a
cross join. At 100 TB the shingle join shuffles on the shingle key (high
cardinality -> well-spread) and the per-pair verification touches only
candidate pairs. Hashes are md5-based so the DuckDB oracle reproduces them
exactly (engine-native hash functions are not portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    shingles_of_tokens,
    spread_input,
    stable_fingerprint,
    tokens,
)

MINHASH_HASHES = 8
MINHASH_BANDS = 4  # 2 hashes per band


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated fingerprint."""
    return (
        documents.select(
            "doc_id", stable_fingerprint("text").alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def _doc_shingles(documents: DataFrame, n: int) -> DataFrame:
    # two-step projection: tokens materialized BEFORE the shingle transform
    # (inline, Catalyst re-tokenizes per shingle — 8x slower; see
    # functions.shingles_of_tokens)
    # spread_input: the tokenize+shingle fan-out is the CPU of every
    # consumer (Jaccard, MinHash) and a small corpus scans as ONE task
    return spread_input(documents, "doc_id").select(
        "doc_id", tokens("text").alias("w")
    ).select(
        "doc_id", F.explode(shingles_of_tokens("w", n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word n-gram Jaccard.

    candidate generation: equi-join on shared shingle (no cross join);
    verification: |A∩B| / (|A|+|B|-|A∩B|) from the distinct-shingle counts.

    `max_shingle_df` is the 100 TB safety valve: shingles appearing in more
    than that many documents are dropped from the vocabulary BEFORE the
    self-join (a stop-shingle shared by f docs otherwise contributes f²
    join rows — quadratic in the hottest key). With the cap, the result is
    the exact Jaccard over the capped shingle vocabulary — the standard
    stop-shingle trick in web-scale near-dup pipelines. Sizes use the same
    capped vocabulary so the measure stays a true Jaccard.

    No .cache(): the shingle relation is recomputed per consumer (explode
    is scan-cheap) and Spark reuses the shingle-keyed exchange for both
    sides of the self-join; at 100 TB a cached shingle table would not fit
    and a recompute is strictly cheaper than a spill-to-disk cache.
    """
    sh = _doc_shingles(documents, n)
    if max_shingle_df is not None:
        # the HOT set is tiny by definition (few shingles exceed the cap),
        # so broadcast an anti-join against it — the filter itself is then
        # shuffle-free; only the DF count pays one shingle-keyed exchange
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # per-doc shingle counts ride along as a window over the fan-out
    # (guide §2.4: same-keyed operations share work) instead of a separate
    # sizes aggregation joined back twice — that form re-derived the whole
    # tokenize+explode subtree for the sizes relation and added two joins.
    # n_a/n_b then travel THROUGH the self-join as grouping keys (each is
    # a pure function of its doc_id, so the extra keys change no groups).
    sh2 = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    ).hint("merge")
    # the self-join is pinned to sort-merge (guide §3.1): the shingle
    # fan-out is corpus-sized, so broadcasting one side — what the
    # planner picks from small-scale size estimates — is never right in
    # production, and the broadcast build recomputes the whole fan-out
    # subtree a second time (measured 3.8s -> 2.1s at sf0.1 from pinning
    # alone); sort-merge shuffles both sides on the shingle key and
    # spills gracefully at any scale.
    a, b = sh2.alias("a"), sh2.alias("b")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def verify_jaccard_pairs(
    documents: DataFrame, pairs: DataFrame, n: int = 3
) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate pair list (doc_a, doc_b) — the
    verification stage after MinHash-LSH candidate generation. Join volume
    is O(|pairs| * shingles-per-doc), never all shared-shingle pairs.
    Returns (doc_a, doc_b, jaccard)."""
    sh = _doc_shingles(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.withColumnRenamed("doc_id", "doc_a")
    b_sh = sh.select(
        F.col("doc_id").alias("b_doc"), F.col("shingle").alias("shingle_b")
    )
    common = (
        pairs.join(a_sh, "doc_a")
        .join(
            b_sh,
            (F.col("doc_b") == F.col("b_doc"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "n_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_sh", "n_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


def minhash_band_signatures(documents: DataFrame, n: int = 3) -> DataFrame:
    """MinHash signatures: h_i(doc) = min over shingles of md5(i||shingle)
    (lexicographic min of a uniform hash == classic minhash); bands of 2
    hashes are re-hashed into one band signature for LSH bucketing."""
    sh = _doc_shingles(documents, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(MINHASH_HASHES)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    # unpivot bands with one explode so the signature aggregation is
    # computed once (a per-band union would re-run the scan+agg per band)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                ).alias("band_sig"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"))


def minhash_lsh_candidates(documents: DataFrame, n: int = 3) -> DataFrame:
    """LSH candidate pairs: docs sharing >=1 band signature."""
    bs = minhash_band_signatures(documents, n)
    a, b = bs.alias("a"), bs.alias("b")
    return (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


WINNOW_POS_BITS = 20  # supports documents up to 2^20 k-grams


def winnow_fingerprints(
    documents: DataFrame, k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    hash every char k-gram, slide a window of w hashes, record each
    window's minimum — rightmost on ties. Guarantees any shared substring
    of length >= w + k - 1 yields a shared fingerprint, with ~2/(w+1)
    selection density.

    The rightmost-min rule is a min over an integer key
    h * 2^20 + (2^20 - 1 - pos) (smaller hash wins, then LARGER position
    — no struct ordering needed, so the same expression runs verbatim in
    the DuckDB oracle's window formulation).

    Execution (round 8, guide §8): winnowing is a PURE PER-DOCUMENT
    function, so the whole selection runs scan-local in one Arrow stage
    — md5 k-gram hashes, the w-wide sliding integer min, and the per-doc
    distinct all happen on the document's own gram array in numpy. The
    previous relational form exploded every k-gram (~300 rows per doc)
    and paid two doc_id-keyed exchanges (window sort + global distinct)
    for what never needed to leave the document — measured 3.2s -> 1.0s
    at sf0.1, and at 100 TB it removes two corpus-sized shuffles
    outright. Hash arithmetic is integer-exact (md5 hex -> int == the
    JVM conv(md5) expression), so the output row set is identical.

    Returns distinct (doc_id, pos, h) selected fingerprints.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    pos_mod = 1 << WINNOW_POS_BITS
    base = spread_input(documents, "doc_id").select(
        "doc_id",
        F.lower(F.regexp_replace("text", r"\s+", " ")).alias("t"),
    ).filter(F.length("t") >= k)

    def fn(batches):
        for pdf in batches:
            ids, poss, hs_out = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
                n = len(t) - k + 1
                if n < w:
                    continue  # only full windows select
                hs = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                t[i: i + k].encode("utf-8")
                            ).hexdigest()[:4],
                            16,
                        )
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                keys = hs * pos_mod + (
                    pos_mod - 1 - np.arange(n, dtype=np.int64)
                )
                wmin = sliding_window_view(keys, w).min(axis=1)
                sel = np.unique(wmin)
                ids.extend([doc_id] * len(sel))
                poss.append((pos_mod - 1) - (sel & (pos_mod - 1)))
                hs_out.append(sel >> WINNOW_POS_BITS)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "pos": pd.Series(
                        np.concatenate(poss) if poss else [], dtype="int32"
                    ),
                    "h": pd.Series(
                        np.concatenate(hs_out) if hs_out else [],
                        dtype="int64",
                    ),
                }
            )

    return base.mapInPandas(fn, "doc_id long, pos int, h long")


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 25,
    driver_threshold: int | None = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs -> duplicate
    clusters: (doc_id, cluster_id) with cluster_id = the component's
    minimum doc_id (the keeper). This is the step that turns pairwise
    near-dup output into group-level dedup decisions.

    Adaptive plan (the conversation_text pattern): below
    `driver_threshold` pairs, the edge list is bounded metadata — a
    driver-side union-find finishes in milliseconds where the iterative
    plan pays several scheduler round-trips per step. Above it (the
    100 TB regime) the distributed path is LARGE-STAR/SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    alternating star rounds converge in O(log^2 n) iterations REGARDLESS
    of component diameter, so an adversarial million-node chain costs
    ~log rounds, not a million propagation steps. Both paths produce
    identical labels; a RuntimeError is raised if the star rounds exhaust
    `max_iter` before convergence rather than silently emitting partial
    labels.
    """
    if driver_threshold is not None:
        # Gate by count-over-a-localCheckpoint instead of
        # limit(N+1).collect(): executeTake's partition ramp-up (1, 4,
        # 16, ... partitions per successive job) re-runs the
        # candidate-generation reduce side several times when the pair
        # count never reaches the bound — the common case. The eager
        # checkpoint materializes the pairs exactly once as local RDD
        # blocks (no InMemoryRelation columnar round-trip — a
        # persist-based gate measured SLOWER than the ramp); count and
        # collect then read those blocks for free, and the distributed
        # fallback starts from the same materialization (its own first
        # localCheckpoint cuts lineage right after). Gate time measured
        # 2.4s -> 1.9s at sf0.1.
        pairs_c = pairs.localCheckpoint()
        n_pairs = pairs_c.count()
        if n_pairs <= driver_threshold:
            head = pairs_c.collect()
            parent: dict = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in head:
                a, b = r[0], r[1]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            rows = sorted((v, find(v)) for v in parent)
            spark = pairs.sparkSession
            schema = pairs.schema
            return spark.createDataFrame(
                rows,
                f"doc_id {schema[0].dataType.simpleString()}, "
                f"cluster_id {schema[1].dataType.simpleString()}",
            )
    src = pairs_c if driver_threshold is not None else pairs
    edges = src.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return _cc_star(edges, max_iter)


def _edges_equal(e2: DataFrame, e: DataFrame, n_prev: int, n_new: int) -> bool:
    """EXACT distinct-edge-set equality: counts equal AND e2 has no edge
    outside e (anti-join empty => e2 ⊆ e, plus |e2| == |e| => e2 == e).
    The count compare short-circuits the anti-join on every
    still-shrinking round (both inputs are localCheckpointed, so the
    count is a near-free block scan; a full-outer one-job check was
    tried and REVERTED — it shuffles both edge sets every round where
    the count needs no exchange at all). Replaces a count+hash-sum
    signature whose (astronomically unlikely but nonzero) collision
    between successive distinct edge sets would have ended the loop
    early with wrong labels — the docstring contract is identical labels
    on the driver and distributed paths, so the check must be exact."""
    if n_prev != n_new:
        return False
    return e2.join(e, ["a", "b"], "left_anti").limit(1).count() == 0


def _cc_star(edges: DataFrame, max_iter: int, stats: dict | None = None) -> DataFrame:
    """Large-star/small-star alternation. Edges are kept canonical as
    (a=larger, b=smaller); the fixpoint is a star forest whose roots are
    the component minima. Each round is two groupBy+join passes over the
    edge list — O(log^2 n) rounds total, diameter-independent. `stats`
    (optional) receives {"rounds": k} so tests can pin the iteration bound
    on adversarial graphs (long paths)."""
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("a"),
            F.least("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint()  # cut the candidate-generation lineage once
    )
    n_prev = e.count()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: around every node u (both directions), attach all
        # LARGER neighbors to m(u) = min(neighborhood(u) + {u})
        nbrs = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
        # no distinct on e1: its only consumers are a MIN aggregate
        # (duplicate-insensitive) and the small-star join whose output is
        # distinct-ed in e2 — the dedup exchange bought nothing (each
        # undirected edge contributes exactly one v>u row; only same-m
        # coincidences repeat), and dropping it removes one shuffle per
        # round
        e1 = (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # small-star: around every node a (its neighbors here are all
        # smaller), re-hang them and a itself under the minimum
        mins2 = e1.groupBy("a").agg(F.min("b").alias("m"))
        e2 = (
            e1.join(mins2, "a")
            .where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()  # truncate per-round lineage growth
        )
        n_new = e2.count()
        converged = _edges_equal(e2, e, n_prev, n_new)
        e = e2
        n_prev = n_new
        if converged:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters(star) did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return (
        e.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))
        .union(
            e.select(F.col("b").alias("doc_id"), F.col("b").alias("cluster_id"))
        )
        .distinct()
    )


def simhash_neardup_pairs(
    documents: DataFrame,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: band the signature (pigeonhole — any pair
    within `max_hamming <= bands - 1` bit flips shares at least one intact
    band), equi-join on (band, band value) for candidates, verify by exact
    Hamming distance. Same LSH shape as MinHash banding: candidate volume
    is governed by band-key collisions, never all pairs.

    Returns (doc_a, doc_b, hamming) with hamming <= max_hamming.
    """
    assert bits % bands == 0
    width = bits // bands
    sig = simhash(documents, bits)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.explode(band_structs).alias("b")
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.band_val").alias("band_val"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=["band", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("int")
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over word tokens: bit i of the signature is the majority of
    bit i across the tokens' md5 hashes (first 4 hex chars -> 16 bits).
    Pure column algebra — explode + conditional sums, no UDF."""
    tok = spread_input(documents, "doc_id").select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.col("text")), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    h = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
    tok = tok.select("doc_id", h.alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.cast("long").alias("simhash"))


def line_dedup(
    transcripts: DataFrame,
    min_convs: int = 5,
    id_col: str = "conv_id",
    ord_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style cross-corpus line deduplication: a non-blank line that
    occurs (verbatim) in >= min_convs distinct conversations is boilerplate
    chrome (headers, footers, cookie banners, separator runs) and is
    dropped from EVERY turn; blank lines are structural and never dropped.
    Reference analog: the content-vs-chrome cleaning station (M1) operating
    at corpus level instead of per-document DOM level.

    Returns (id, ord, clean_text, n_dropped) with clean_text the remaining
    lines joined in original order ('' when everything was boilerplate).

    Scale shape: frequency counting is one hash-partitioned groupBy with
    map-side partial counts (the heavy-hitter lines are exactly the ones
    that partial-aggregate best); the frequent-line set joins back as an
    equality join on the line value — its size is the BOILERPLATE
    vocabulary (small, corpus-size-independent), so AQE broadcasts it at
    any corpus scale. No windows, no driver collect.
    """
    lines = transcripts.select(
        F.col(id_col).alias("_ld_id"),
        F.col(ord_col).alias("_ld_ord"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "_ld_no", "_ld_line"
        ),
    )
    frequent = (
        lines.filter(F.trim("_ld_line") != "")
        .groupBy("_ld_line")
        .agg(F.count_distinct("_ld_id").alias("_ld_n"))
        .filter(F.col("_ld_n") >= min_convs)
        .select("_ld_line", F.lit(True).alias("_ld_drop"))
    )
    flagged = lines.join(frequent, "_ld_line", "left").select(
        "_ld_id", "_ld_ord", "_ld_no", "_ld_line",
        F.coalesce("_ld_drop", F.lit(False)).alias("_ld_drop"),
    )
    parts = F.array_sort(
        F.collect_list(F.struct("_ld_no", "_ld_drop", "_ld_line"))
    )
    kept = F.filter(parts, lambda s: ~s["_ld_drop"])
    return flagged.groupBy("_ld_id", "_ld_ord").agg(
        F.array_join(
            F.transform(kept, lambda s: s["_ld_line"]), "\n"
        ).alias("clean_text"),
        F.sum(F.col("_ld_drop").cast("int")).cast("long").alias("n_dropped"),
    ).select(
        F.col("_ld_id").alias(id_col),
        F.col("_ld_ord").alias(ord_col),
        "clean_text",
        "n_dropped",
    )


def duplicate_spans(
    documents: DataFrame,
    n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate span marking (the relational form of Lee
    et al. 2022's suffix-array dedup, arXiv:2107.06499): every position
    whose n-token window occurs more than once ANYWHERE in the corpus
    (other docs or elsewhere in the same doc) is duplicated; overlapping
    duplicated windows merge into maximal token spans per document.
    Downstream, the spans are cut out of training text (the paper's
    ExactSubstr policy); here they are returned as
    (id, start_tok, end_tok) with end exclusive.

    Scale shape: positional n-gram fan-out -> one hash-partitioned
    groupBy for the duplicate set (partial counts map-side; heavy
    hitters combine best) -> join back on the gram -> per-document
    interval merge. The merge window partitions by document, whose size
    is bounded by DOCUMENT length, not corpus size. No suffix array is
    materialized: the fixed-n window trades the paper's 'any length >=
    50 bytes' generality for a shuffle-join shape that needs no global
    sort at 100 TB.
    """
    toks = spread_input(documents, id_col).select(
        F.col(id_col).alias("_ds_id"), tokens(text_col).alias("w")
    ).filter(F.size("w") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("w") - n),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice("w", i + 1, n))).alias("g"),
        ),
    )
    pos = toks.select("_ds_id", F.explode(grams).alias("c")).select(
        "_ds_id", F.col("c.pos").alias("pos"), F.col("c.g").alias("g")
    )
    dup = (
        pos.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_ds_n"))
        .filter(F.col("_ds_n") > 1)
        .select("g")
    )
    hits = pos.join(dup, "g").select("_ds_id", "pos")
    # gaps-and-islands: a new span starts when this window begins past
    # the running max end of all previous windows
    wp = Window.partitionBy("_ds_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "_ds_new", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).withColumn(
        "_ds_isl",
        F.sum("_ds_new").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("_ds_id", "_ds_isl")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + n).alias("end_tok"),
        )
        .select(
            F.col("_ds_id").alias(id_col),
            F.col("start_tok").cast("int").alias("start_tok"),
            F.col("end_tok").cast("int").alias("end_tok"),
        )
    )


def cut_duplicate_spans(
    documents: DataFrame,
    n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate CUTTING — Lee et al.'s ExactSubstr
    removal policy on top of duplicate_spans' marking: for every n-token
    window occurring more than once in the corpus, the CANONICAL (first
    by (doc_id, pos)) occurrence is kept and every other occurrence is
    cut; overlapping cut windows merge into maximal spans, and each
    document is reassembled from its surviving tokens.

    Returns (id, clean_text, n_removed) where clean_text is the kept
    tokens joined by single spaces (tokenized reassembly — original
    whitespace is not preserved, matching the training-corpus use where
    text is re-tokenized downstream anyway) and n_removed counts cut
    tokens.

    Scale shape: the canonical occurrence per gram is a min-struct
    AGGREGATION (partial-agg safe on hot grams — no per-gram window, so
    a million-fold repeated gram never forms a single partition), the
    join back is an equi-join on the gram hash, the island merge is
    per-document, and the final token filter is a JVM lambda over the
    doc's token array against its own (small) span list — no token-level
    explosion or range join.
    """
    toks = spread_input(documents, id_col).select(
        F.col(id_col).alias("_cd_id"), tokens(text_col).alias("w")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("w") - n),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice("w", i + 1, n))).alias("g"),
        ),
    )
    pos = (
        toks.filter(F.size("w") >= n)
        .select("_cd_id", F.explode(grams).alias("c"))
        .select("_cd_id", F.col("c.pos").alias("pos"), F.col("c.g").alias("g"))
    )
    can = (
        pos.groupBy("g")
        .agg(
            F.min(F.struct("_cd_id", "pos")).alias("first"),
            F.count(F.lit(1)).alias("_cd_n"),
        )
        .filter(F.col("_cd_n") > 1)
        .select("g", "first")
    )
    hits = pos.join(can, "g").filter(
        (F.col("_cd_id") != F.col("first._cd_id"))
        | (F.col("pos") != F.col("first.pos"))
    ).select("_cd_id", "pos")
    wp = Window.partitionBy("_cd_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        hits.withColumn(
            "_cd_new",
            (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int"),
        )
        .withColumn(
            "_cd_isl",
            F.sum("_cd_new").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("_cd_id", "_cd_isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + n).cast("int").alias("e"))
        .groupBy("_cd_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("_cd_spans"))
    )
    joined = toks.join(spans, "_cd_id", "left").withColumn(
        "_cd_spans",
        F.coalesce(
            "_cd_spans", F.array().cast("array<struct<s:int,e:int>>")
        ),
    )
    kept = F.filter(
        F.col("w"),
        lambda t, i: ~F.exists(
            F.col("_cd_spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
        ),
    )
    return joined.select(
        F.col("_cd_id").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("w") - F.size(kept)).cast("int").alias("n_removed"),
    )
