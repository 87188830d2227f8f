"""Unit tests for the dedup / similarity / session operators against
hand-computed or pure-Python expectations."""

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from marie_ai_spark.operators import dedup, sessions, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),          # exact dup of 1 (after normalization)
        (3, "a  b   c d E "),      # same after lower+ws-normalize
        (4, "x y z w v"),
        (5, "a b c d q"),          # near-dup of 1 (shares shingles)
        (6, "one two"),            # too short for 3-gram shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = {
        r.fingerprint: (r.n_dups, r.keeper_doc_id)
        for r in dedup.exact_duplicates(docs).collect()
    }
    fp = hashlib.md5(b"a b c d e").hexdigest()
    assert out == {fp: (3, 1)}


def test_ngram_jaccard(docs):
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
    }
    # docs 1,2: identical shingle sets -> jaccard 1.0
    assert out[(1, 2)] == 1.0
    # doc 3 differs in one shingle from 1 ('c d E' vs 'c d e'): j = 2/4
    # (shingling is case-sensitive; only the fingerprint normalizes case)
    assert out[(1, 3)] == 0.5 and out[(2, 3)] == 0.5
    # doc 5 shares 'a b c'/'b c d' of 1's three shingles: j = 2/4
    assert out[(1, 5)] == 0.5
    assert (1, 4) not in out
    assert all(a < b for a, b in out)


def test_minhash_identical_docs_bucket_together(docs):
    pairs = {
        (r.doc_a, r.doc_b) for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    # identical shingle sets -> identical signatures -> all bands collide
    assert (1, 2) in pairs
    assert (1, 4) not in pairs


def test_simhash_matches_python(docs):
    out = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}

    def py_simhash(text):
        toks = text.split()
        bits = [0] * 16
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
            for i in range(16):
                bits[i] += 1 if (h >> i) & 1 else -1
        return sum((1 << i) for i in range(16) if bits[i] > 0)

    assert out[1] == py_simhash("a b c d e")
    assert out[4] == py_simhash("x y z w v")
    # identical content -> identical simhash
    assert out[1] == out[2]


def test_brute_force_topk(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), [1.0, 0.0], k=2
    ).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert out[0].cos_sim == round(1.0 / math.sqrt(1.01), 6)


def test_lsh_topk_prunes_to_bucket(spark):
    rows = [(i, [float(i % 3 - 1), float(i % 2)]) for i in range(1, 20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[1.0, 0.0], [0.0, 1.0]]
    q = [0.9, 0.5]
    got = similarity.lsh_topk(emb, q, planes, k=5).collect()
    # every result must live in the query's bucket: both dots >= 0
    for r in got:
        row = dict(rows)[r.vec_id]
        assert row[0] >= 0 and row[1] >= 0


def test_majority_vote_tiebreak(spark):
    rows = [
        ("k1", "x", 1.0), ("k1", "x", 1.0), ("k1", "y", 5.0),
        ("k2", "p", 1.0), ("k2", "q", 2.0),  # tie on votes -> weight wins
    ]
    df = spark.createDataFrame(rows, "k string, cand string, w double")
    out = {r.k: (r.winner, r.votes) for r in
           sessions.majority_vote(df, "k", "cand", "w").collect()}
    assert out["k1"] == ("x", 2)
    assert out["k2"] == ("q", 1)


def test_sessionize_gap(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 10, "a", 1.0),
        (2, "2024-01-01 00:10:00", 10, "a", 2.0),   # same session
        (3, "2024-01-01 12:00:00", 10, "a", 3.0),   # new session (gap > 8h)
        (4, "2024-01-01 00:00:00", 20, "a", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessions.sessionize(df, gap_seconds=28800).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[10]) == [1, 2]
    assert per_user[20] == [1]


def test_asof_lookup(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 10, "signup", 0.0),
        (2, "2024-01-02 00:00:00", 10, "purchase", 5.0),
        (3, "2024-01-03 00:00:00", 10, "signup", 0.0),
        (4, "2024-01-04 00:00:00", 10, "purchase", 5.0),
        (5, "2024-01-01 00:00:00", 20, "purchase", 1.0),  # no prior signup
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.event_id: r.lookup_ts for r in
           sessions.asof_last_event(df, "purchase", "signup").collect()}
    assert str(out[2]) == "2024-01-01 00:00:00"
    assert str(out[4]) == "2024-01-03 00:00:00"
    assert out[5] is None


def test_annotate_regex(spark):
    from marie_ai_spark.operators.annotate import annotate_regex

    docs = spark.createDataFrame(
        [(1, "see https://x.io/a and 42 or 3.5 spark join")],
        "doc_id long, text string",
    )
    rows = annotate_regex(docs).collect()
    got = {(r.rule, r.match_idx): r.value for r in rows}
    assert got[("number", 0)] == "42"
    assert got[("number", 1)] == "3.5"
    assert got[("url", 0)] == "https://x.io/a"
    assert got[("key_token", 0)] == "spark"
    assert got[("key_token", 1)] == "join"


def test_classify_vote_policies(spark):
    from marie_ai_spark.operators.annotate import classify_vote

    rows = [
        (1, "cat", 0.9), (1, "cat", 0.1), (1, "dog", 0.8),
        (2, "cat", 0.5), (2, "dog", 0.9),
    ]
    df = spark.createDataFrame(rows, "k long, label string, score double")
    maj = {r.k: r.winner for r in
           classify_vote(df, "k", policy="majority").collect()}
    assert maj[1] == "cat"
    mx = {r.k: r.winner for r in
          classify_vote(df, "k", policy="max_score").collect()}
    assert mx[1] == "cat" and mx[2] == "dog"
    # abstain: key 2 has a vote tie (1 vs 1) under majority -> NULL
    ab = {r.k: r.winner for r in
          classify_vote(df, "k", policy="majority", tie_break="abstain").collect()}
    assert ab[1] == "cat" and ab[2] is None


def test_classify_vote_best_with_diff(spark):
    """BEST_WITH_DIFF (marie/pipe/voting.py:122-133,213-230): on a vote tie
    under majority (or unconditionally under max_score), the top individual
    score wins only when it beats the runner-up by more than max_diff."""
    from marie_ai_spark.operators.annotate import classify_vote

    rows = [
        # k1: vote tie cat/dog; best scores 0.9 vs 0.3 -> diff 0.6 > 0.1 -> dog
        (1, "cat", 0.3), (1, "dog", 0.9),
        # k2: vote tie; best scores 0.55 vs 0.50 -> diff 0.05 <= 0.1 -> abstain
        (2, "cat", 0.55), (2, "dog", 0.50),
        # k3: NO vote tie (cat 2 votes) -> plain majority, gate not engaged
        (3, "cat", 0.1), (3, "cat", 0.2), (3, "dog", 0.99),
    ]
    df = spark.createDataFrame(rows, "k long, label string, score double")
    bwd = {r.k: r.winner for r in classify_vote(
        df, "k", policy="majority", tie_break="best_with_diff", max_diff=0.1
    ).collect()}
    assert bwd[1] == "dog" and bwd[2] is None and bwd[3] == "cat"
    # max_score policy applies the gate unconditionally: k3's top two
    # individual scores are 0.99 vs 0.2 -> dog; k2 still abstains
    mxd = {r.k: r.winner for r in classify_vote(
        df, "k", policy="max_score", tie_break="best_with_diff", max_diff=0.1
    ).collect()}
    assert mxd[1] == "dog" and mxd[2] is None and mxd[3] == "dog"
    # single-result key: returned as-is (voting.py:186 len==1 branch)
    one = spark.createDataFrame([(9, "solo", 0.2)], "k long, label string, score double")
    solo = classify_vote(one, "k", policy="max_score",
                         tie_break="best_with_diff").collect()
    assert solo[0].winner == "solo"


def test_cosine_neardup_pairs(spark):
    from marie_ai_spark.operators.similarity import cosine_neardup_pairs_arrow

    rows = [
        (1, [1.0, 0.0]), (2, [0.99, 0.05]), (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).withColumn("blk", F.lit(0))
    pairs = {(r.vec_a, r.vec_b): r.cos_sim
             for r in cosine_neardup_pairs_arrow(
                 emb, threshold=0.9, block_col="blk").collect()}
    assert (1, 2) in pairs and len(pairs) == 1


def test_ivf_assign_matches_python_fold(spark):
    """The Arrow nearest-centroid scorer must assign every vector to
    EXACTLY the cell a plain-Python fold picks: squared distances summed
    in index order, first minimum wins — on real embeddings at k = 4
    and 8 (k*d = 256 and 512)."""
    from marie_ai_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def nearest(v, cents):
        best, best_d = None, None
        for ci, c in enumerate(cents):
            d = 0.0
            for a, b in zip(v, c):
                d += (a - b) * (a - b)
            if best_d is None or d < best_d:
                best, best_d = ci, d
        return best

    for k in (4, 8):
        cents = train_ivf_centroids(emb, n_centroids=k, iters=2)
        got = {r.vec_id: r.cell for r in ivf_assign(emb, cents).collect()}
        want = {i: nearest(v, cents) for i, v in vecs.items()}
        assert got == want and len(set(got.values())) > 1


def test_ivf_assign_arrow_large_k_bounded_plan(spark):
    """VERDICT r7 item 2 probe: at k=1024 (k*d = 65k, which as plan
    literals would stall Catalyst) the Arrow scorer's plan stays small
    and assignment completes."""
    import hashlib

    from marie_ai_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    d = len(emb.first()["embedding"])
    cents = [
        [
            (int(hashlib.md5(f"c|{c}|{i}".encode()).hexdigest()[:4], 16)
             / 65535.0 - 0.5)
            for i in range(d)
        ]
        for c in range(1024)
    ]
    assigned = ivf_assign(emb, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and len(plan) < 200_000
    cells = [r.cell for r in assigned.select("cell").collect()]
    assert cells and all(0 <= c < 1024 for c in cells)


def test_hash_project_matches_python_fold(spark):
    """The Arrow sign-matrix projection must be BIT-EQUAL to a plain-
    Python fold of the formula: sign(i, j) = md5('proj|seed|i|j') first
    hex digit parity, out[j] = (sum_i v[i] * sign(i, j), index order)
    * (1 / sqrt(out_dim))."""
    import hashlib
    import math

    from marie_ai_spark.operators.similarity import hash_project

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    out_dim = 8
    inv = 1.0 / math.sqrt(float(out_dim))

    def sign(i, j):
        h = hashlib.md5(f"proj|1|{i}|{j}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    def project(v):
        out = []
        for j in range(out_dim):
            acc = 0.0
            for i, x in enumerate(v):
                acc += x * sign(i, j)
            out.append(acc * inv)
        return out

    got = {r.vec_id: list(r.projected)
           for r in hash_project(emb, out_dim=out_dim, seed=1).collect()}
    want = {r.vec_id: project(r.embedding) for r in emb.collect()}
    assert got == want and got  # exact float equality, element-wise


def test_cosine_neardup_pairs_arrow_matches_duckdb(spark):
    """The Arrow block scorer must emit EXACTLY the pairs of a DuckDB
    blocked self-join over the same rows — same (vec_a, vec_b) set AND
    equal rounded cos_sim — on real embeddings over the label blocks
    the headline query uses. Threshold 0.3, not the query's 0.45: at
    sf0.001 the 0.45 oracle is empty, and this case must not be."""
    import duckdb

    from marie_ai_spark.operators.similarity import cosine_neardup_pairs_arrow

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    got = {(r.vec_a, r.vec_b): r.cos_sim
           for r in cosine_neardup_pairs_arrow(
               emb, threshold=0.3, block_col="label").collect()}
    want = {(a, b): c for a, b, c in duckdb.sql(f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM '{path}'
        ), s AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cos_sim FROM s WHERE cos_sim >= 0.3
    """).fetchall()}
    assert got == want and got


def test_markdown_kv_pairs_jvm_side(spark):
    from marie_ai_spark.operators.regions import markdown_kv_pairs

    tr = spark.createDataFrame(
        [("c1", 0, "u", "## T\n- **Name:** Ada\n- **Role:** eng\nplain", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = markdown_kv_pairs(tr).collect()
    got = {(r.kv_idx): (r.key, r.value) for r in rows}
    assert got[0] == ("Name", "Ada")
    assert got[1] == ("Role", "eng")


def test_span_regions_roundtrip(spark):
    from marie_ai_spark.operators.extract import extract_transcripts
    from marie_ai_spark.operators.regions import span_regions
    from marie_ai_spark.sources.transcripts import gen_pandas

    tr = spark.createDataFrame(gen_pandas(20, seed=3))
    ext = extract_transcripts(tr)
    regions = span_regions(ext)
    n_spans = ext.select(F.sum(F.size("spans"))).first()[0]
    assert regions.count() == n_spans
    assert set(regions.columns) == {
        "conv_id", "turn_idx", "region_id", "start", "end", "label", "action"
    }


class TestIVF:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).cache()

    def test_full_probe_equals_brute_force(self, spark, emb):
        from marie_ai_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
            train_ivf_centroids,
        )

        cents = train_ivf_centroids(emb, n_centroids=8, iters=3)
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        rest = emb.filter(F.col("vec_id") != 0)
        exact = [(r.vec_id, r.cos_sim) for r in brute_force_topk(rest, q, 10).collect()]
        full = [(r.vec_id, r.cos_sim)
                for r in ivf_topk(rest, q, cents, k=10, nprobe=8).collect()]
        assert full == exact

    def test_partial_probe_recall(self, spark, emb):
        from marie_ai_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
            train_ivf_centroids,
        )

        cents = train_ivf_centroids(emb, n_centroids=8, iters=3)
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        rest = emb.filter(F.col("vec_id") != 0)
        exact = {r.vec_id for r in brute_force_topk(rest, q, 10).collect()}
        ann = {r.vec_id for r in ivf_topk(rest, q, cents, k=10, nprobe=3).collect()}
        recall = len(exact & ann) / 10
        assert recall >= 0.3  # uniform synthetic vectors: cells barely cluster
        assert len(ann) == 10

    def test_assignment_deterministic(self, spark, emb):
        from marie_ai_spark.operators.similarity import (
            ivf_assign,
            train_ivf_centroids,
        )

        cents = train_ivf_centroids(emb, n_centroids=8, iters=3)
        a = {r.vec_id: r.cell for r in ivf_assign(emb, cents).collect()}
        b = {r.vec_id: r.cell for r in ivf_assign(emb, cents).collect()}
        assert a == b
        assert len(set(a.values())) > 1  # vectors spread over cells

    def test_local_quantizer_twin_is_bit_identical(self, spark, emb):
        """The numpy twin (used by the DuckDB oracle) must reproduce the
        Spark-collected quantizer exactly — same sample, same arithmetic."""
        from marie_ai_spark.operators.similarity import (
            train_ivf_centroids,
            train_ivf_centroids_local,
        )

        via_spark = train_ivf_centroids(emb, n_centroids=8, iters=3)
        via_file = train_ivf_centroids_local(
            "/root/testdata/sf0.001/embeddings.parquet",
            n_centroids=8, iters=3,
        )
        assert via_spark == via_file

    def test_semantic_dedup_drops_within_cell_chains(self, spark):
        """Planted near-dup chain in one cell: a~b and b~c at >= T with
        a!~c still drops BOTH b and c (any smaller-id similar neighbor);
        a distinct vector in another cell is kept even if similar to a
        (no cross-cell pairs by construction)."""
        import math

        from marie_ai_spark.operators.similarity import semantic_dedup

        def unit(theta):
            return [math.cos(theta), math.sin(theta)] + [0.0] * 6

        # centroids: cell 0 near angle 0, cell 1 near angle pi
        cents = [unit(0.0), unit(math.pi)]
        rows = [
            (0, unit(0.00)),          # kept (lowest id in its chain)
            (1, unit(0.50)),          # cos(0.5)=0.878 >= 0.85 vs id 0 -> drop
            (2, unit(1.00)),          # vs id 1: cos(0.5) -> drop; vs id 0: cos(1)=0.54 < T
            (3, unit(math.pi)),       # other cell: kept
            (4, unit(math.pi - 0.2)), # cos(0.2)=0.98 vs id 3 -> drop
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )
        got = {(r.vec_id, r.cell)
               for r in semantic_dedup(emb, cents, threshold=0.85).collect()}
        assert got == {(0, 0), (3, 1)}


def test_fuzzy_annotate(spark):
    from marie_ai_spark.operators.annotate import fuzzy_annotate

    docs = spark.createDataFrame(
        [(1, "Spark sparks sprak merge marge zzz")],
        "doc_id long, text string",
    )
    rows = fuzzy_annotate(docs, ["spark", "merge"], max_dist=1).collect()
    got = {(r.term, r.token): r.dist for r in rows}
    assert got[("spark", "Spark")] == 0
    assert got[("spark", "sparks")] == 1
    # 'sprak' is a transposition = levenshtein 2 -> excluded at max_dist 1
    assert ("spark", "sprak") not in got
    assert ("merge", "marge") in got and got[("merge", "marge")] == 1
    assert all(t != "zzz" for _term, t in got)


def test_fuzzy_selector_kind():
    from marie_ai_spark.ref_ops import extract_turn

    rules = [{
        "rule_id": "fz", "doc_kind": "plain", "kind": "fuzzy",
        "start_expr": "BEGIN NOISE", "stop_expr": "END NOISE",
        "selection_type": "NEGATION", "label": "chrome",
    }]
    # one-char typos in the markers still match
    t = "keep\nBEGIN NOISe\njunk\nEND NOIS\nkeep2"
    r = extract_turn(t, rules)
    assert r["clean_text"] == "keep\nkeep2"


def test_verify_jaccard_pairs_matches_full_join(spark, docs):
    """LSH-candidate verification must equal the full shared-shingle join
    restricted to those pairs (same jaccard values)."""
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()
    }
    cands = dedup.minhash_lsh_candidates(docs, n=3)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.verify_jaccard_pairs(docs, cands, n=3).collect()
    }
    assert got, "no candidates verified"
    for pair, j in got.items():
        assert full[pair] == j, pair


def test_ngram_df_cap_drops_hot_shingle(spark):
    """A stop-shingle shared by every doc must not generate pairs when the
    DF cap excludes it; unique-content docs then share nothing."""
    rows = [(i, f"common stop phrase unique{i} body{i} tail{i}") for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.01).count()
    capped = dedup.ngram_jaccard_pairs(
        d, n=3, threshold=0.01, max_shingle_df=5
    ).count()
    assert uncapped > 0 and capped == 0


def test_conversation_text_adaptive_equals_two_phase(spark):
    from marie_ai_spark.operators.rollup import conversation_text

    rows = [
        ("c1", t, f"turn {t}") for t in range(40)
    ] + [("c2", t, f"x {t}") for t in range(3)]
    ext = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, clean_text string"
    )
    two = {
        r.conv_id: (r.conversation_text, r.n_turns)
        for r in conversation_text(ext, chunk_turns=7).collect()
    }
    single = {
        r.conv_id: (r.conversation_text, r.n_turns)
        for r in conversation_text(
            ext, chunk_turns=7, adaptive_threshold=1000
        ).collect()
    }
    forced_salted = {
        r.conv_id: (r.conversation_text, r.n_turns)
        for r in conversation_text(
            ext, chunk_turns=7, adaptive_threshold=0
        ).collect()
    }
    assert two == single == forced_salted


def test_vote_with_fallback_strategies(spark):
    """All three A4 branches (voting_ocr_engine.py:186-255): voting at or
    above min_vote_count; below it, confidence beats the default engine only
    when a candidate's single weight exceeds the default's."""
    rows = [
        # k1: 'x' has 2 votes -> voting
        ("k1", "x", 0.5, 1), ("k1", "x", 0.6, 2), ("k1", "y", 0.9, 3),
        # k2: all single votes; default engine (1) has the best weight -> default
        ("k2", "a", 0.9, 1), ("k2", "b", 0.5, 2), ("k2", "c", 0.4, 3),
        # k3: all single votes; engine 3's weight beats engine 1 -> confidence
        ("k3", "a", 0.3, 1), ("k3", "b", 0.5, 2), ("k3", "c", 0.8, 3),
    ]
    df = spark.createDataFrame(
        rows, "key string, cand string, conf double, eng int"
    )
    out = {
        r.key: (r.winner, r.strategy, r.votes)
        for r in sessions.vote_with_fallback(
            df, "key", "cand", "conf", "eng", min_vote_count=2
        ).collect()
    }
    assert out["k1"] == ("x", "voting", 2)
    assert out["k2"] == ("a", "default", 1)
    assert out["k3"] == ("c", "confidence", 1)


def test_simhash_neardup_pigeonhole(spark, docs):
    """Any pair within max_hamming <= bands-1 bit flips shares an intact
    band, so banding loses NO pair vs brute force at that radius."""
    out = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_neardup_pairs(
            docs, bits=16, bands=4, max_hamming=3
        ).collect()
    }
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=16).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert out == brute and (1, 2) in out and out[(1, 2)] == 0


def test_duplicate_clusters_components(spark):
    """Chains must converge across multiple propagation hops; disjoint
    components keep distinct minima."""
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5),        # chain -> min 2
         (10, 11), (11, 10),            # duplicate edge, component {10,11}
         (7, 9)],
        "doc_a long, doc_b long",
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert out == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10, 7: 7, 9: 7}


def test_ivf_indexed_matches_brute_force_and_prunes(spark, tmp_path):
    """Full-probe top-k over the WRITTEN cell-partitioned index must equal
    brute force, and the probe scan must carry a cell partition filter."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.train_ivf_centroids(emb, n_centroids=4, iters=3)
    path = str(tmp_path / "ivf_index")
    similarity.ivf_write_index(emb, cents, path)

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)

    full = similarity.ivf_topk_indexed(spark, path, q, k=5, nprobe=4)
    # the index contains vec 0 too; drop it to compare against `rest`
    got = [
        (r.vec_id, r.cos_sim)
        for r in full.collect()
        if r.vec_id != 0
    ][:4]
    want = [
        (r.vec_id, r.cos_sim)
        for r in similarity.brute_force_topk(rest, q, k=4).collect()
    ]
    assert got == want

    plan = (
        similarity.ivf_topk_indexed(spark, path, q, k=5, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan


def test_winnow_matches_classic_loop(spark):
    """The relational integer-key window formulation must equal the
    textbook winnowing loop (rightmost-min ties included)."""
    import hashlib
    import re

    def py_winnow(text, k=5, w=4):
        t = re.sub(r"\s+", " ", text).lower()
        if len(t) < k:
            return set()
        hs = [
            int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:4], 16)
            for i in range(len(t) - k + 1)
        ]
        out = set()
        for s in range(0, len(hs) - w + 1):
            win = hs[s : s + w]
            m = min(win)
            p = s + max(i for i, v in enumerate(win) if v == m)
            out.add((p, hs[p]))
        return out

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    got = {}
    for r in dedup.winnow_fingerprints(docs).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.h))
    for row in docs.collect():
        assert got.get(row.doc_id, set()) == py_winnow(row.text), row.doc_id


def test_winnow_shared_substring_guarantee(spark):
    """Docs sharing a substring of length >= w + k - 1 must share at least
    one fingerprint hash."""
    shared = "common fragment here"  # 20 chars >= 4 + 5 - 1
    df = spark.createDataFrame(
        [(1, "xxxx " + shared + " aaaa"), (2, "yy " + shared + " bbbbbb zz")],
        "doc_id long, text string",
    )
    fps = {}
    for r in dedup.winnow_fingerprints(df).collect():
        fps.setdefault(r.doc_id, set()).add(r.h)
    assert fps[1] & fps[2]


def test_duplicate_clusters_paths_agree(spark):
    """Driver union-find and the distributed star rounds must both label
    every node with its component minimum, as a plain-Python flood fill
    over the same edges does."""
    import random

    rng = random.Random(3)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {
        r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(df).collect()
    }
    dist = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(df, driver_threshold=None).collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict = {}
    for start in sorted(adj):
        if start in want:
            continue
        comp, todo = {start}, [start]
        while todo:
            for n in adj[todo.pop()] - comp:
                comp.add(n)
                todo.append(n)
        for n in comp:
            want[n] = min(comp)
    assert fast == want and dist == want and len(want) > 30


def test_duplicate_clusters_long_chain_star(spark):
    """Adversarial diameter: a shuffled 400-node chain. Large-star/
    small-star must converge within a LOG-bounded round budget (hop-by-hop
    label propagation would need ~400 rounds) and label every node with
    the component minimum; with a budget too small for the chain it must
    raise rather than emit partial labels."""
    import random

    n = 400
    chain = [(i, i + 1) for i in range(n)]
    rng = random.Random(7)
    rng.shuffle(chain)
    # second component: another chain offset by 10_000
    chain += [(10_000 + i, 10_000 + i + 1) for i in range(50)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(
            df, driver_threshold=None, max_iter=12
        ).collect()
    }
    assert len(got) == n + 1 + 51
    assert all(c == 0 for v, c in got.items() if v < 10_000)
    assert all(c == 10_000 for v, c in got.items() if v >= 10_000)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(
            df, driver_threshold=None, max_iter=2
        ).collect()


def test_cc_star_100k_path_round_bound(spark):
    """The O(log^2 n) iteration-bound claim at adversarial scale: a
    100_000-node PATH graph (diameter 10^5 — min-label would need 10^5
    hops) must converge in <= 25 star rounds with every node labeled by
    the component minimum. Observed: 18 rounds (~30s at local[32])."""
    from marie_ai_spark.operators.dedup import _cc_star

    n = 100_000
    edges = spark.range(n - 1).selectExpr("id as src", "id + 1 as dst")
    stats = {}
    out = _cc_star(edges, max_iter=25, stats=stats)
    assert out.count() == n
    assert out.filter("cluster_id != 0").count() == 0
    assert stats["rounds"] <= 25, stats


def test_repetition_stats_handcrafted(spark):
    from marie_ai_spark.operators import textstats

    # no trailing newline: trim() strips spaces only (identically in Spark
    # and DuckDB), so a trailing \n would add an empty token on both sides
    text = "a b\na b\nc d"  # 3 non-empty lines, 'a b' repeated
    df = spark.createDataFrame([(1, text), (2, "x y")], "doc_id long, text string")
    out = {r.doc_id: r for r in textstats.repetition_stats(df).collect()}
    r = out[1]
    assert r.dup_line_frac == round(1 / 3, 6)
    assert r.dup_line_char_frac == round(3 / 9, 6)
    # tokens a b a b c d -> bigrams 'a b','b a','a b','b c','c d'
    # -> top 'a b' = 2/5
    assert r.top_bigram_frac == round(2 / 5, 6)
    # doc 2: single line, one bigram
    assert out[2].dup_line_frac == 0.0 and out[2].top_bigram_frac == 1.0



def test_fluency_scores_semantics(spark):
    """Coverage fraction: docs made only of profile trigrams score exactly
    1.0, out-of-profile junk scores 0.0, short docs get 0 trigrams. The
    profile is trained on the corpus itself, so the dominant trigrams are
    the common docs' ("aba"/"bab" here, with counts far above junk)."""
    from marie_ai_spark.operators import textstats

    rows = [(i, "ab" * 30, "en") for i in range(20)]   # trigrams aba/bab
    rows.append((100, "z" * 12, "en"))                  # zzz: rare junk
    rows.append((101, "ab", "en"))                      # too short
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in textstats.fluency_scores(df, top_k=2).collect()}
    assert out[0].in_profile_frac == 1.0 and out[0].n_trigrams == 58
    assert out[100].in_profile_frac == 0.0 and out[100].n_trigrams == 10
    assert out[101].n_trigrams == 0 and out[101].in_profile_frac == 0.0


def test_line_dedup_drops_boilerplate_keeps_blanks(spark):
    """Cross-corpus line dedup: a verbatim line in >= min_convs distinct
    conversations is dropped from every turn (even in conversations where
    it appears once); blank lines and under-threshold lines stay; order
    is preserved and an all-boilerplate turn becomes ''."""
    from marie_ai_spark.operators.dedup import line_dedup

    rows = [(f"c{i}", 0, "FOOTER\ncontent %d\n\nunique tail" % i)
            for i in range(4)]
    rows.append(("c4", 0, "FOOTER"))
    rows.append(("c5", 0, "only content"))
    sdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )
    got = {(r.conv_id, r.turn_idx): (r.clean_text, r.n_dropped)
           for r in line_dedup(sdf, min_convs=5).collect()}
    for i in range(4):
        assert got[(f"c{i}", 0)] == ("content %d\n\nunique tail" % i, 1)
    assert got[("c4", 0)] == ("", 1)          # all-boilerplate turn
    assert got[("c5", 0)] == ("only content", 0)

    # below threshold: nothing dropped
    none = {r.conv_id: r.n_dropped
            for r in line_dedup(sdf, min_convs=6).collect()}
    assert all(v == 0 for v in none.values())


def test_benchmark_shingles_bound_enforced(spark):
    """The literal-set contamination path must refuse benchmarks larger
    than max_shingles instead of flooding the driver."""
    import pytest

    from marie_ai_spark.operators.curation import benchmark_shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.select(F.col("doc_id").alias("bench_id"), "text")
    with pytest.raises(ValueError, match="distinct"):
        benchmark_shingles(bench, n=3, max_shingles=10)


def test_duplicate_spans_merges_islands(spark):
    """Planted exact-substring duplication: two docs share a 6-token run;
    one doc also repeats a run internally. Overlapping duplicated windows
    must merge into maximal spans with exclusive ends; unique docs emit
    nothing."""
    from marie_ai_spark.operators.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} nine ten eleven twelve"),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8"),                      # unique
        (4, f"{shared} mid1 mid2 {shared}"),                 # internal repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.start_tok, r.end_tok)
           for r in duplicate_spans(df, n=4).collect()}
    # doc1: shared run occupies tokens 2..7 -> windows 2..4 merge to [2,8)
    assert (1, 2, 8) in got
    # doc2: shared at 0..5 -> [0,6)
    assert (2, 0, 6) in got
    assert not any(d == 3 for d, *_ in got)
    # doc4: two copies at 0..5 and 8..13 with a 2-token gap -> two spans
    assert (4, 0, 6) in got and (4, 8, 14) in got


def test_pack_sequences_two_phase_equals_window_and_covers(spark):
    """The bucketed global prefix-sum packing must equal one global
    running-offset window (DuckDB SQL over the same rows) exactly, and
    the spans must tile the token stream: per-sequence span lengths sum
    to seq_len (except the last), and each item's spans reassemble its
    full token count."""
    from collections import defaultdict

    import duckdb
    import pandas as pd

    from marie_ai_spark.operators.tokenize import pack_sequences

    rows = [(i, 1 + (i * 37) % 900) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    key = lambda r: (r.doc_id, r.seq_id, r.start_in_item,  # noqa: E731
                     r.start_in_seq, r.span_len)
    got = sorted(map(key, pack_sequences(df, "doc_id", "n_tok", 512).collect()))
    con = duckdb.connect()
    con.register("items", pd.DataFrame(rows, columns=["doc_id", "n_tok"]))
    want = sorted(con.sql("""
        WITH o AS (
            SELECT doc_id, n_tok,
                   coalesce(sum(n_tok) OVER (
                       ORDER BY md5(doc_id::VARCHAR), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS off
            FROM items WHERE n_tok > 0
        ), s AS (
            SELECT doc_id, n_tok, off, unnest(range(
                off // 512, (off + n_tok - 1) // 512 + 1)) AS seq_id
            FROM o
        )
        SELECT doc_id, seq_id,
               greatest(seq_id * 512, off) - off,
               greatest(seq_id * 512, off) - seq_id * 512,
               least((seq_id + 1) * 512, off + n_tok)
                 - greatest(seq_id * 512, off)
        FROM s
    """).fetchall())
    assert got == want and got

    per_seq = defaultdict(int)
    per_doc = defaultdict(int)
    for doc, seq, _si, _ss, ln in got:
        per_seq[seq] += ln
        per_doc[doc] += ln
        assert 1 <= ln <= 512
    assert per_doc == dict(rows)  # every token packed exactly once
    last = max(per_seq)
    assert all(v == 512 for s, v in per_seq.items() if s != last)
    assert set(per_seq) == set(range(last + 1))  # no gaps in seq ids


def test_semantic_dedup_drops_match_duckdb(spark):
    """semantic_dedup must drop EXACTLY the vectors a DuckDB within-cell
    self-join over the same assigned rows drops (some same-cell vector
    with a smaller id at rounded cosine >= 0.45), on real embeddings."""
    import duckdb

    from marie_ai_spark.operators.similarity import (
        ivf_assign,
        semantic_dedup,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=8, iters=3)
    assigned = ivf_assign(
        emb.select("vec_id", "embedding"), cents
    ).toPandas()
    kept = {r.vec_id: r.cell
            for r in semantic_dedup(emb, cents, threshold=0.45).collect()}
    con = duckdb.connect()
    con.register("assigned", assigned)
    want = {r[0] for r in con.sql("""
        WITH e AS (
            SELECT vec_id, cell, embedding::DOUBLE[] AS v FROM assigned
        )
        SELECT DISTINCT b.vec_id
        FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.45
    """).fetchall()}
    cells = dict(zip(assigned.vec_id, assigned.cell))
    assert set(cells) - set(kept) == want and want
    assert all(cells[v] == c for v, c in kept.items())


def test_cut_duplicate_spans_keeps_canonical(spark):
    """ExactSubstr removal: the globally-first occurrence of a duplicated
    window survives, later occurrences are cut (including internal
    repeats); unique docs and sub-window docs pass through unchanged,
    reassembled with single spaces."""
    from marie_ai_spark.operators.dedup import cut_duplicate_spans

    shared = "alpha beta gamma delta"
    rows = [
        (1, f"intro {shared} outro"),          # canonical (lowest doc_id)
        (2, f"{shared} tail1 tail2"),          # cut at 0..3
        (3, f"pre1 pre2 {shared}"),            # cut at 2..5
        (4, "tiny doc"),                       # < n tokens, untouched
        (5, f"{shared} mid {shared}"),         # both occurrences cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_removed)
           for r in cut_duplicate_spans(df, n=4).collect()}
    assert got[1] == (f"intro {shared} outro", 0)
    assert got[2] == ("tail1 tail2", 4)
    assert got[3] == ("pre1 pre2", 4)
    assert got[4] == ("tiny doc", 0)
    assert got[5] == ("mid", 8)


def test_duplicate_span_ops_match_python_twin_property(spark):
    """Property test: on random small corpora with forced repetition,
    duplicate_spans and cut_duplicate_spans must match a direct pure-
    Python computation of the same definitions (window multiset, island
    merge, canonical-first cutting)."""
    import random

    from marie_ai_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicate_spans,
    )

    def py_spans(corpus, n):
        from collections import Counter
        occ = []
        for did, text in corpus:
            w = text.split()
            occ += [(did, i, " ".join(w[i:i + n]))
                    for i in range(len(w) - n + 1)]
        cnt = Counter(g for _, _, g in occ)
        marks, cuts = {}, {}
        first = {}
        for did, i, g in sorted(occ):
            if cnt[g] > 1 and g not in first:
                first[g] = (did, i)
        for did, i, g in occ:
            if cnt[g] > 1:
                marks.setdefault(did, []).append(i)
                if first[g] != (did, i):
                    cuts.setdefault(did, []).append(i)

        def islands(positions):
            out = []
            for p in sorted(positions):
                if out and p <= out[-1][1]:
                    out[-1][1] = max(out[-1][1], p + n)
                else:
                    out.append([p, p + n])
            return [tuple(x) for x in out]

        want_marks = {(d, s, e) for d, ps in marks.items()
                      for s, e in islands(ps)}
        want_cut = {}
        for did, text in corpus:
            w = text.split()
            spans = islands(cuts.get(did, []))
            kept = [t for i, t in enumerate(w)
                    if not any(s <= i < e for s, e in spans)]
            want_cut[did] = (" ".join(kept), len(w) - len(kept))
        return want_marks, want_cut

    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(12)]
    for trial in range(5):
        n = rng.choice([2, 3])
        corpus = []
        motif = " ".join(rng.choices(vocab, k=n + rng.randint(0, 2)))
        for did in range(8):
            words = rng.choices(vocab, k=rng.randint(0, 14))
            if rng.random() < 0.7:
                at = rng.randint(0, len(words))
                words[at:at] = motif.split()
            corpus.append((did, " ".join(words)))
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        want_marks, want_cut = py_spans(corpus, n)
        got_marks = {(r.doc_id, r.start_tok, r.end_tok)
                     for r in duplicate_spans(df, n=n).collect()}
        assert got_marks == want_marks, (trial, n)
        got_cut = {r.doc_id: (r.clean_text, r.n_removed)
                   for r in cut_duplicate_spans(df, n=n).collect()}
        assert got_cut == want_cut, (trial, n)


def test_bm25_hand_computed(spark):
    """BM25 against hand-computed scores on a 3-doc corpus: idf ordering
    (rare term outweighs common), tf saturation, and length
    normalization all visible."""
    import math

    from marie_ai_spark.operators.textstats import bm25_topk

    rows = [
        (1, "apple banana apple"),         # tf(apple)=2, dl=3
        (2, "apple cherry cherry cherry"), # tf(cherry)=3, dl=4
        (3, "durian durian durian"),       # no query terms
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.bm25
           for r in bm25_topk(df, ["apple", "cherry"], k=10).collect()}
    n, avgdl, k1, b = 3, 10 / 3, 1.2, 0.75

    def idf(dfreq):
        return math.log(1.0 + (float(n) - dfreq + 0.5) / (dfreq + 0.5))

    def ts(tf, dl, dfreq):
        return idf(dfreq) * (
            tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        )

    assert got[1] == round(ts(2, 3, 2), 4)
    assert got[2] == round(ts(1, 4, 2) + ts(3, 4, 1), 4)
    assert 3 not in got
    # the rare term (cherry, df=1) makes doc 2 win despite lower tf of
    # the shared term
    assert got[2] > got[1]


def test_ivf_upsert_insert_update_move_and_empty(spark, tmp_path):
    """Incremental index maintenance: after upserting a batch holding a
    brand-new vector, an in-place update, and an update that MOVES a
    vector to a different cell, the index table must equal a from-scratch
    rebuild over the post-upsert corpus — no stale copies, no duplicate
    vec_ids, emptied cell dirs removed, quantizer untouched, and the
    probe scan still partition-pruned."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.train_ivf_centroids(emb, n_centroids=4, iters=3)
    path = str(tmp_path / "ivf_index")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    similarity.ivf_write_index(base, cents, path)

    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    batch = (
        emb.filter(F.col("vec_id") % 11 == 0)        # updates (negated ->
        .select("vec_id", neg, "label")               #  most move cells)
        .unionByName(
            emb.filter(
                (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 11 != 0)
            ).select("vec_id", "embedding", "label")  # inserts
        )
    )
    r = similarity.ivf_upsert(batch, path)
    assert r["n_batch"] == batch.count()

    # golden: rebuild from scratch over the post-upsert corpus
    final_corpus = emb.filter(
        (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 11 != 0)
    ).select("vec_id", "embedding", "label").unionByName(batch)
    golden = {
        (r.vec_id, r.cell)
        for r in similarity.ivf_assign(final_corpus, cents).collect()
    }
    got = [
        (r.vec_id, r.cell)
        for r in spark.read.parquet(path).select("vec_id", "cell").collect()
    ]
    assert set(got) == golden and len(got) == len(golden)  # no dup vec_ids

    # at least one update moved cells in this fixture (else the stale
    # hunt is untested) and the quantizer is byte-identical
    moved = {
        r.vec_id
        for r in similarity.ivf_assign(
            emb.filter(F.col("vec_id") % 11 == 0).select("vec_id", neg), cents
        )
        .join(
            similarity.ivf_assign(
                emb.filter(F.col("vec_id") % 11 == 0), cents
            ).select("vec_id", F.col("cell").alias("old_cell")),
            "vec_id",
        )
        .filter("cell != old_cell")
        .collect()
    }
    assert moved, "fixture must exercise the cell-move path"
    assert similarity.ivf_read_quantizer(spark, path) == cents

    q = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    plan = (
        similarity.ivf_topk_indexed(spark, path, q, k=5, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan
    # no leftover scratch state: the commit's stage and trash live
    # INSIDE the index dir as dot-dirs and are gone after the commit
    assert not [p.name for p in tmp_path.iterdir() if "upsert" in p.name]
    assert not [
        p.name
        for p in (tmp_path / "ivf_index").iterdir()
        if p.name.startswith((".stage-", ".trash-"))
    ]


def test_ivf_upsert_empties_a_cell_dir(spark, tmp_path):
    """A cell whose only members are moved away by an update must have
    its partition directory deleted (dynamic overwrite alone would leave
    the old files in place)."""
    rows = [
        (1, [10.0, 0.0]), (2, [0.0, 10.0]), (3, [9.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[10.0, 0.0], [0.0, 10.0]]
    path = str(tmp_path / "idx")
    similarity.ivf_write_index(emb, cents, path)
    assert (tmp_path / "idx" / "cell=1").exists()

    # move vec 2 (cell 1's only member) over to cell 0's side
    batch = spark.createDataFrame(
        [(2, [8.0, 0.5])], "vec_id long, embedding array<double>"
    )
    r = similarity.ivf_upsert(batch, path)
    assert r["cells_stale"] == [1] and r["cells_emptied"] == [1]
    assert not (tmp_path / "idx" / "cell=1").exists()
    got = {
        (x.vec_id, x.cell) for x in spark.read.parquet(path).collect()
    }
    assert got == {(1, 0), (2, 0), (3, 0)}


def test_ivf_upsert_manifest_prunes_hunt(spark, tmp_path):
    """With well-separated cells and an update batch whose only id lives
    in one non-touched cell, the stale-copy hunt (the non-touched cells'
    vec_id column semi-joined with the batch ids) must find that cell and
    clear the stale copy, leaving every other row in place. (The per-cell
    id manifest that once pruned this hunt is gone; the name is kept.)"""
    rows = [
        (i + 10 * c, [float(10 * (c % 2)) + 0.1 * i,
                      float(10 * (c // 2)) + 0.1 * i])
        for c in range(4)
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]]
    path = str(tmp_path / "idx")
    similarity.ivf_write_index(emb, cents, path)
    # move vec 15 (cell 1: ids 10-19) over to cell 0's side
    batch = spark.createDataFrame(
        [(15, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    r = similarity.ivf_upsert(batch, path)
    assert r["cells_stale"] == [1] and r["cells_touched"] == [0, 1]
    got = {
        (x.vec_id, x.cell)
        for x in spark.read.parquet(path).select("vec_id", "cell").collect()
    }
    assert (15, 0) in got
    assert not [v for v, c in got if v == 15 and c != 0]
    assert len(got) == 40


def test_rrf_fuse_math_missing_docs_and_ties(spark):
    """RRF: 1/(k+rank) per system, summed only over systems that returned
    the doc; ranks are (score desc, id asc); ties rank by id."""
    from marie_ai_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, s double"
    )
    sem = spark.createDataFrame([(2, 0.9), (4, 0.8)], "doc_id long, c double")
    rows = {
        r.doc_id: r
        for r in rrf_fuse([lex, sem], ["lex", "sem"], k=60, topn=10).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].lex_rank == 1 and rows[1].sem_rank is None
    assert rows[2].lex_rank == 2 and rows[2].sem_rank == 1
    assert rows[4].lex_rank is None and rows[4].sem_rank == 2
    assert abs(rows[2].rrf - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(rows[1].rrf - round(1 / 61, 6)) < 1e-9
    # present-in-both beats any single-system doc
    best = max(rows.values(), key=lambda r: r.rrf)
    assert best.doc_id == 2
    # topn cuts by (rrf desc, doc_id)
    top2 = [r.doc_id for r in rrf_fuse([lex, sem], ["lex", "sem"], topn=2).collect()]
    assert top2 == [2, 1]
    # equal scores: rank by ascending id
    tie = spark.createDataFrame([(5, 1.0), (4, 1.0)], "doc_id long, s double")
    ranks = {r.doc_id: r.t_rank for r in rrf_fuse([tie], ["t"], topn=5).collect()}
    assert ranks == {4: 1, 5: 2}


def test_rrf_fuse_bulk_matches_per_query_fuse(spark):
    """rrf_fuse_bulk over tagged per-query tables == rrf_fuse run one
    query at a time — same ranks, same rrf sums, same topn cut."""
    from marie_ai_spark.operators.similarity import rrf_fuse, rrf_fuse_bulk

    lex_q = {
        "a": [(1, 9.0), (2, 5.0), (3, 1.0)],
        "b": [(2, 7.0), (5, 6.0)],
    }
    sem_q = {
        "a": [(2, 0.9), (4, 0.8)],
        "b": [(5, 0.7), (1, 0.1)],
    }
    lex = spark.createDataFrame(
        [(q, d, s) for q, rows in lex_q.items() for d, s in rows],
        "query_id string, doc_id long, s double",
    )
    sem = spark.createDataFrame(
        [(q, d, s) for q, rows in sem_q.items() for d, s in rows],
        "query_id string, doc_id long, c double",
    )
    bulk = {
        (r.query_id, r.doc_id): (r.rrf, r.lex_rank, r.sem_rank)
        for r in rrf_fuse_bulk(
            [lex, sem], ["lex", "sem"], k=60, topn=3
        ).collect()
    }
    expect = {}
    for q in ("a", "b"):
        l1 = spark.createDataFrame(lex_q[q], "doc_id long, s double")
        s1 = spark.createDataFrame(sem_q[q], "doc_id long, c double")
        for r in rrf_fuse([l1, s1], ["lex", "sem"], k=60, topn=3).collect():
            expect[(q, r.doc_id)] = (r.rrf, r.lex_rank, r.sem_rank)
    assert bulk == expect


def test_train_kmeans_full_layout_invariant_and_twin(spark):
    """Distributed Lloyd's: (a) bit-identical centroids under any
    partition layout (the fixed-point re-centering's whole point — float
    sums would drift with the layout); (b) equal to a pure-numpy twin of
    the same quantized rule; (c) an emptied cell keeps its previous
    centroid."""
    import numpy as np

    rng = np.random.default_rng(7)
    x = np.round(rng.normal(size=(60, 4)), 3)
    x[:20] += 8.0   # three well-separated blobs
    x[20:40] -= 8.0
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )

    def twin(k, iters, quant=1e6):
        cent = x[:k].copy()
        for _ in range(iters):
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(k):
                m = x[a == c]
                if len(m):
                    s = np.floor(m * quant).astype(np.int64).sum(axis=0)
                    cent[c] = np.array(
                        [(float(int(si)) / len(m)) / quant for si in s]
                    )
        return [[float(v) for v in row] for row in cent]

    got1 = similarity.train_kmeans_full(emb.repartition(1), 3, iters=2)
    got7 = similarity.train_kmeans_full(emb.repartition(7), 3, iters=2)
    assert got1 == got7 == twin(3, 2)

    # empty-cell carryover: k=4 inits on vec_ids 0-3, which all sit in the
    # same +8 blob; after one iteration at least one init loses every
    # point to a closer sibling and must keep its previous centroid
    got = similarity.train_kmeans_full(emb.repartition(5), 4, iters=3)
    assert got == twin(4, 3)

    # final assignment is the JVM argmin over the trained centroids
    cents = got1
    out = {
        r.vec_id: r.cell
        for r in similarity.ivf_assign(emb, cents).collect()
    }
    dists = ((x[:, None, :] - np.array(cents)[None, :, :]) ** 2).sum(axis=2)
    expect = dists.argmin(axis=1)
    assert out == {i: int(c) for i, c in enumerate(expect)}


def test_quantize_int8_roundtrip_and_edges(spark):
    """Codes stay in [-127, 127], the zero vector quantizes losslessly
    with scale 1.0, and dequantization error is bounded by scale/2
    per coordinate."""
    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),        # zero vector: scale 1.0
        (3, [127.0, -127.0, 63.5, 1.0]),  # extremes hit +/-127 exactly
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = similarity.quantize_int8(emb)
    got = {r.vec_id: (r.scale, r.qembedding) for r in q.collect()}
    assert got[2] == (1.0, [0, 0, 0, 0])
    assert got[3][1] == [127, -127, 64, 1]
    assert all(
        abs(c) <= 127 for _s, qv in got.values() for c in qv
    )
    back = {
        r.vec_id: r.embedding
        for r in similarity.dequantize_int8(q.drop("embedding")).collect()
    }
    for vid, v in rows:
        s = got[vid][0]
        assert all(
            abs(a - b) <= s / 2 + 1e-12 for a, b in zip(v, back[vid])
        ), (vid, v, back[vid])


def test_hash_project_matches_formula_twin(spark):
    """The baked-in sign literals equal the md5-parity formula, and the
    fold order matches a plain left-fold python twin bit-for-bit."""
    import hashlib
    import math

    rows = [(i, [((i * 7 + d * 3) % 11) / 7.0 - 0.6 for d in range(6)])
            for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out_dim, seed = 4, 9
    got = {
        r.vec_id: r.projected
        for r in similarity.hash_project(emb, out_dim, seed).collect()
    }

    def sign(i, j):
        h = hashlib.md5(f"proj|{seed}|{i}|{j}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    inv = 1.0 / math.sqrt(float(out_dim))
    for vid, v in rows:
        for j in range(out_dim):
            acc = 0.0
            for i, x in enumerate(v):
                acc = acc + x * sign(i, j)
            assert got[vid][j] == acc * inv, (vid, j)


def test_topk_int8_rerank_degrades_to_exact(spark):
    """With a full probe and a corpus-covering shortlist the two-stage
    int8 rerank must return exactly the brute-force float top-k (the
    int8 stage then only ORDERS the shortlist, and the exact stage
    re-scores everything); with a tight shortlist it returns k rows
    ranked by exact score."""
    import numpy as np

    rng = np.random.default_rng(11)
    x = np.round(rng.normal(size=(80, 8)), 3)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    qv = [float(v) for v in x[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cents = similarity.train_ivf_centroids(corpus, n_centroids=4, iters=2)

    exact = similarity.brute_force_topk(corpus, qv, k=5).collect()
    got = similarity.topk_int8_rerank(
        corpus, qv, cents, k=5, nprobe=4, shortlist=1000
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in exact
    ]

    tight = similarity.topk_int8_rerank(
        corpus, qv, cents, k=5, nprobe=2, shortlist=10
    ).collect()
    assert len(tight) == 5
    sims = [r.cos_sim for r in tight]
    assert sims == sorted(sims, reverse=True)


def test_ivf_int8_indexed_matches_inline_and_prunes(spark, tmp_path):
    """The written int8 index must (a) return exactly the inline
    topk_int8_rerank cascade's rows (same quantizer, same float-side
    cell assignment, same 6dp rankings), and (b) probe with a cell
    PARTITION filter — the scan reads only the nprobe cells' dirs."""
    import numpy as np

    rng = np.random.default_rng(23)
    x = np.round(rng.normal(size=(90, 8)), 3)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    qv = [float(v) for v in x[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cents = similarity.train_ivf_centroids(corpus, n_centroids=4, iters=2)
    path = str(tmp_path / "idx8")
    similarity.ivf_write_index_int8(corpus, cents, path)

    inline = similarity.topk_int8_rerank(
        corpus, qv, cents, k=5, nprobe=2, shortlist=12
    ).collect()
    indexed_df = similarity.ivf_topk_int8_indexed(
        spark, path, corpus, qv, k=5, nprobe=2, shortlist=12
    )
    indexed = indexed_df.collect()
    assert [(r.vec_id, r.cos_sim) for r in indexed] == [
        (r.vec_id, r.cos_sim) for r in inline
    ]

    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # the persisted payload is the compressed copy only
    cols = set(spark.read.parquet(path).columns)
    assert "embedding" not in cols
    assert {"vec_id", "scale", "qembedding", "cell"} <= cols


def test_hamming_topk_matches_sign_count_twin(spark):
    """Packed-word popcount(xor) must equal a direct differing-sign
    count (integer-exact), including non-multiple-of-32 dims and zero
    coordinates (zeros pack as 0 bits)."""
    import numpy as np

    rng = np.random.default_rng(31)
    x = np.round(rng.normal(size=(40, 37)), 2)   # 37 dims: 2 words
    x[x == 0.0] = 0.0                            # keep exact zeros
    x[5, :10] = 0.0                              # a vector with zero runs
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    qv = [float(v) for v in x[0]]
    corpus = emb.filter(F.col("vec_id") != 0)

    got = [
        (r.vec_id, r.hamming)
        for r in similarity.hamming_topk(corpus, qv, k=40).collect()
    ]
    qsign = np.array([v > 0 for v in qv])
    want = sorted(
        (int(((row > 0) != qsign).sum()), i)
        for i, row in enumerate(x) if i != 0
    )
    assert got == [(i, h) for h, i in want]

    # packing shape: ceil(37/32) = 2 words, all < 2**32
    bits = similarity.binarize_embeddings(corpus).select("bits").first()[0]
    assert len(bits) == 2 and all(0 <= w < 2**32 for w in bits)


def test_ann_recall_full_k_is_one(spark):
    """With k = |corpus| every tier's top-k IS the corpus, so recall
    must be exactly 1.0 for both tiers; at small k the values stay in
    [0, 1] and the output shape is one row per tier."""
    import numpy as np

    rng = np.random.default_rng(41)
    x = np.round(rng.normal(size=(30, 8)), 3)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    qv = [float(v) for v in x[0]]
    corpus = emb.filter(F.col("vec_id") != 0)

    full = {
        r.tier: r.recall
        for r in similarity.ann_recall_at_k(corpus, qv, k=29).collect()
    }
    assert full == {"hamming": 1.0, "int8": 1.0}

    small = {
        r.tier: r.recall
        for r in similarity.ann_recall_at_k(corpus, qv, k=5).collect()
    }
    assert set(small) == {"hamming", "int8"}
    assert all(0.0 <= v <= 1.0 for v in small.values())
