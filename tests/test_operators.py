"""Operator-level tests: dedup family recall/precision, latest-per-key
equivalence, similarity-search tiers (SURVEY.md §5 item 1)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.functions.text import (
    lang_guess,
    quality_score,
    token_count,
    word_shingles,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.latest import (
    latest_columns_max_by,
    latest_per_key,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
    load_table,
)


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [
            Row(id=3, text="hello world"),
            Row(id=1, text="hello   world "),  # whitespace-normalized dup
            Row(id=2, text="different"),
        ]
    )
    out = exact_dedup(df, "text", "id").select("id").collect()
    assert sorted(r["id"] for r in out) == [1, 2]


def test_word_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([Row(t="one two"), Row(t="a b c d")])
    out = df.select(word_shingles("t", 3).alias("s")).collect()
    assert out[0]["s"] == []
    assert out[1]["s"] == ["a b c", "b c d"]


def test_minhash_lsh_matches_exact_jaccard(spark, sf_oracle):
    """LSH (64 hashes, 16 bands) must find exactly the pairs the exact
    inverted-index operator finds at j>=0.5 on the fixture corpus (planted
    near-dups are all j>=0.9, where LSH recall is ~1-2e-9)."""
    docs = load_table(spark, sf_oracle, "documents")
    exact = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert exact == lsh
    assert len(exact) == 25  # planted near-dup pairs at sf0.01


def test_simhash_pairs_subset_of_near_dups(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents")
    exact = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    sim = {(r["a_id"], r["b_id"]) for r in simhash_pairs(docs, "text", "doc_id").collect()}
    # hamming<=3 is stricter than jaccard>=0.5: everything it finds is real
    assert sim <= exact
    assert len(sim) > 0


def test_latest_per_key_and_max_by_agree(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", v=1, ts=1),
            Row(k="a", v=9, ts=3),
            Row(k="a", v=5, ts=2),
            Row(k="b", v=7, ts=1),
        ]
    )
    win = {(r["k"], r["v"]) for r in latest_per_key(df, ["k"], ["ts"]).collect()}
    agg = {
        (r["k"], r["v"])
        for r in latest_columns_max_by(df, ["k"], "ts", ["v"]).collect()
    }
    assert win == agg == {("a", 9), ("b", 7)}


def test_brute_force_topk_selfquery_excluded(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=4).collect()
    assert all(r["q_id"] != r["n_id"] for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        coss = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert coss == sorted(coss, reverse=True)


def test_lsh_topk_results_are_true_neighbors(spark, sf_small):
    """Every LSH hit must appear in the brute-force full ranking with the
    same cosine (approximation affects recall, never correctness of the
    scores it does return)."""
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = {
        (r["q_id"], r["n_id"]): r["cos"]
        for r in brute_force_topk(emb, queries, k=10**6).collect()
    }
    for r in lsh_topk(emb, queries, dim=64, k=5).collect():
        assert abs(brute[(r["q_id"], r["n_id"])] - r["cos"]) < 1e-12


def test_hyperplane_coeffs_match_spark_xxhash64(spark):
    """The driver-side coefficient derivation must be bit-identical to the
    Spark expression it replaced (xxhash64(lit(j), lit(d)) % 2001 / 1000) —
    signatures, buckets, and LSH results are unchanged at any dim."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.similarity import (
        _plane_coeff,
    )

    cases = [(j, d) for j in range(4) for d in (0, 1, 7, 63, 767)]
    exprs = [
        ((F.xxhash64(F.lit(j), F.lit(d)) % 2001).cast("double") / 1000.0).alias(f"c{i}")
        for i, (j, d) in enumerate(cases)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    for i, (j, d) in enumerate(cases):
        assert row[f"c{i}"] == _plane_coeff(j, d)


def test_hyperplane_signature_node_budget_dim768(spark):
    """At production embedding dims the signature's column tree must stay
    O(n_planes): coefficients are ONE ndarray literal per plane, so leaf
    count is independent of dim (the per-dim unroll was dim*n_planes nodes
    and broke codegen at 768+)."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.similarity import (
        hyperplane_signature,
    )

    df = spark.createDataFrame([([0.0] * 768,)], "v array<double>")
    out = df.select(hyperplane_signature("v", dim=768, n_planes=16).alias("s"))
    exprs = out._jdf.queryExecution().analyzed().expressions()
    n_leaves = sum(exprs.apply(i).collectLeaves().size() for i in range(exprs.size()))
    # 16 planes x (1 coeff-array literal + vec ref + a few scalar literals)
    assert n_leaves < 300, f"expression leaves {n_leaves}: dim leaked into the tree"
    assert out.collect()[0]["s"] == 65535  # zero vector: every proj >= 0


def test_lsh_topk_dim768_runs_and_is_deterministic(spark):
    """End-to-end LSH ANN at a real embedding dim: plan analyzes, runs, and
    two runs agree (deterministic seeded hyperplanes)."""
    import random

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.similarity import (
        lsh_topk,
    )

    rng = random.Random(7)
    rows = [Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(768)]) for i in range(40)]
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") < 3)
    got1 = sorted(map(tuple, lsh_topk(emb, queries, dim=768, k=3).collect()))
    got2 = sorted(map(tuple, lsh_topk(emb, queries, dim=768, k=3).collect()))
    assert got1 == got2
    assert all(q != n for q, n, _, _ in got1)


def test_ngram_jaccard_hot_shingle_guard(spark):
    """A degenerate corpus-wide shingle must not explode the candidate set:
    with the guard on (default), pairs whose ONLY overlap is the hot shingle
    are never materialized; docs that truly overlap beyond it still pair."""
    hot = "lorem ipsum dolor sit amet"  # shared by every doc
    rows = [Row(id=i, text=f"{hot} unique{i} tail{i} words{i} here{i}") for i in range(20)]
    # two docs that also share a genuine long run beyond the hot prefix
    rows.append(Row(id=100, text=f"{hot} alpha beta gamma delta epsilon zeta"))
    rows.append(Row(id=101, text=f"{hot} alpha beta gamma delta epsilon eta"))
    df = spark.createDataFrame(rows)

    guarded = ngram_jaccard_pairs(df, "text", "id", threshold=0.1, max_shingle_freq=5)
    pairs = {(r["a_id"], r["b_id"]) for r in guarded.collect()}
    assert pairs == {(100, 101)}  # hot-prefix-only overlaps suppressed

    unguarded = ngram_jaccard_pairs(df, "text", "id", threshold=0.1, max_shingle_freq=None)
    assert unguarded.count() > 100  # without the guard: quadratic candidates


def test_ngram_jaccard_guard_noop_when_under_cap(spark, sf_oracle):
    """On the oracle fixture no shingle exceeds the default cap, so the
    guarded (default) and unguarded scores are identical."""
    docs = load_table(spark, sf_oracle, "documents")
    on = {(r["a_id"], r["b_id"], round(r["jaccard"], 9))
          for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    off = {(r["a_id"], r["b_id"], round(r["jaccard"], 9))
           for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5,
                                        max_shingle_freq=None).collect()}
    assert on == off


def test_ivf_kmeans_fixture_containment_and_determinism(spark, sf_small):
    """On the fixture corpus: (a) two fits are bit-identical (hash-spread
    init + rounded updates), (b) every IVF hit carries its TRUE cosine
    (subset of the brute-force ranking), (c) probing all cells degenerates
    to exact brute-force top-k."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    c1 = kmeans_centroids(emb, n_cells=8, iters=3)
    c2 = kmeans_centroids(emb, n_cells=8, iters=3)
    assert all((a == b).all() for a, b in zip(c1, c2))

    got = ivf_topk(emb, queries, c1, k=5, nprobe=2).collect()
    brute = {
        (r["q_id"], r["n_id"]): r["cos"]
        for r in brute_force_topk(emb, queries, k=10**6).collect()
    }
    for r in got:
        assert abs(brute[(r["q_id"], r["n_id"])] - r["cos"]) < 1e-12

    top5 = {
        (r["q_id"], r["n_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    # nprobe = n_cells degenerates to exact brute-force top-k
    full = {
        (r["q_id"], r["n_id"])
        for r in ivf_topk(emb, queries, c1, k=5, nprobe=8).collect()
    }
    assert full == top5


def test_ivf_kmeans_recall_on_clustered_corpus(spark):
    """On a corpus with real cluster structure the quantizer must recover
    it: planted clusters (8 well-separated directions, 12 points each),
    recall vs brute-force top-5 >= 0.9 at nprobe=2. (The fixture embeddings
    are near-uniform, where NO coarse quantizer can prune well — structure
    recovery is the property worth asserting.)"""
    import random

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        ivf_topk,
        kmeans_centroids,
    )

    rng = random.Random(11)
    dim, n_clusters, per = 16, 8, 12
    centers = []
    for _ in range(n_clusters):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        s = sum(x * x for x in v) ** 0.5
        centers.append([x / s for x in v])
    rows = []
    for ci, ctr in enumerate(centers):
        for p in range(per):
            rows.append(
                Row(
                    vec_id=ci * per + p,
                    embedding=[x + rng.gauss(0, 0.08) for x in ctr],
                )
            )
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id").isin([0, 13, 26, 39]))

    cents = kmeans_centroids(emb, n_cells=8, iters=5)
    got = {
        (r["q_id"], r["n_id"])
        for r in ivf_topk(emb, queries, cents, k=5, nprobe=2).collect()
    }
    top5 = {
        (r["q_id"], r["n_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    recall = len(got & top5) / len(top5)
    assert recall >= 0.9, f"IVF recall on planted clusters {recall}"


def test_kmeans_empty_cell_and_small_corpus(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        kmeans_centroids,
    )

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 0.0]) for i in range(3)]
    )
    try:
        kmeans_centroids(df, n_cells=8, iters=1)
        raise AssertionError("expected ValueError for tiny corpus")
    except ValueError:
        pass
    cents = kmeans_centroids(df, n_cells=2, iters=2)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)


def test_text_metrics_basics(spark):
    df = spark.createDataFrame(
        [Row(t="the cat sat on the mat with a hat of wool to spare")]
    )
    row = df.select(
        token_count("t").alias("n"),
        quality_score("t").alias("q"),
        lang_guess("t").alias("lang"),
    ).collect()[0]
    assert row["n"] == 13
    assert 0.0 <= row["q"] <= 1.0
    assert row["lang"] == "en"  # 'the' x2, 'to' -> en markers >= 2


def test_duplicate_span_stats_semantics(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        duplicate_span_stats,
    )

    shared = "alpha beta gamma delta"  # 4 tokens, shared verbatim by docs 1 and 2
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{shared} one two three four"),
            Row(doc_id=2, text=f"zero {shared} five six seven"),
            Row(doc_id=3, text="totally unique words here nothing repeats at all"),
            Row(doc_id=4, text="short doc"),
            Row(doc_id=5, text="loop loop loop loop loop loop loop loop loop loop"),
        ],
        schema="doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac)
        for r in duplicate_span_stats(docs, "text", "doc_id", l=4).collect()
    }
    # docs 1/2: exactly one shared 4-gram -> one island of 4 tokens each
    assert out[1] == (8, 4, 0.5)
    assert out[2][0] == 8 and out[2][1] == 4
    # doc 3: nothing repeated anywhere
    assert out[3][1] == 0
    # doc 4: shorter than l -> zero coverage, tokens still counted
    assert out[4] == (2, 0, 0.0)
    # doc 5: self-repetition; every 4-gram equals every other -> full coverage
    assert out[5] == (10, 10, 1.0)


def test_duplicate_span_islands_merge_overlaps(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        duplicate_span_stats,
    )

    # "a b c d e" appears twice -> doc 1 has overlapping 4-gram spans
    # [0,4) and [1,5) which must merge into 5 covered tokens, not 8.
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e tail1 tail2 tail3"),
            Row(doc_id=2, text="head1 head2 a b c d e tail4"),
        ],
        schema="doc_id long, text string",
    )
    out = {
        r.doc_id: r.dup_tokens
        for r in duplicate_span_stats(docs, "text", "doc_id", l=4).collect()
    }
    assert out[1] == 5 and out[2] == 5


def test_remove_duplicate_spans_semantics(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    shared = "alpha beta gamma delta"  # shared 4-gram between docs 1 and 2
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{shared} one two three four"),
            Row(doc_id=2, text=f"zero {shared} five six seven"),
            Row(doc_id=3, text="totally unique words here nothing repeats at all"),
            Row(doc_id=4, text="short doc"),
            Row(doc_id=5, text="loop loop loop loop loop loop loop loop loop loop"),
        ],
        schema="doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.cleaned_text)
        for r in remove_duplicate_spans(docs, "text", "doc_id", l=4).collect()
    }
    # canonical (smallest doc_id, pos) occurrence survives: doc 1 keeps the
    # shared run, doc 2 loses exactly those 4 tokens
    assert out[1] == (8, 0, f"{shared} one two three four")
    assert out[2] == (8, 4, "zero five six seven")
    # untouched docs pass through byte-identical
    assert out[3] == (8, 0, "totally unique words here nothing repeats at all")
    assert out[4] == (2, 0, "short doc")
    # self-repetition: the 4-gram at pos 0 is canonical but the
    # non-canonical occurrences at pos 1..6 cover [1,10) — removal is the
    # UNION of non-canonical intervals, so only the first token survives
    assert out[5] == (10, 9, "loop")


def test_remove_duplicate_spans_matches_stats_coverage(spark, sf_small):
    """removed_tokens is bounded above by duplicate_span_stats' coverage
    (canonical occurrences stay), and every doc keeps
    n_tokens - removed_tokens words in its cleaned text."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    rw = remove_duplicate_spans(docs, "text", "doc_id", l=8)
    st = duplicate_span_stats(docs, "text", "doc_id", l=8)
    joined = rw.join(st.select("doc_id", "dup_tokens"), "doc_id").collect()
    assert len(joined) == docs.count()
    for r in joined:
        assert r.removed_tokens <= r.dup_tokens
        n_kept = len(r.cleaned_text.split()) if r.cleaned_text else 0
        assert n_kept == r.n_tokens - r.removed_tokens


def test_remove_overlap_spans_decontaminates(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        remove_overlap_spans,
    )

    leaked = "question four answer is blue"
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"intro words then {leaked} trailing words here"),
            Row(doc_id=2, text="completely clean training text stays whole"),
        ],
        schema="doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [Row(doc_id=100, text=f"benchmark prompt {leaked} benchmark suffix")],
        schema="doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.cleaned_text)
        for r in remove_overlap_spans(train, bench, "text", "doc_id", l=5).collect()
    }
    # only train docs are emitted; the leaked 5-gram is excised surgically
    assert set(out) == {1, 2}
    assert out[1] == (11, 5, "intro words then trailing words here")
    assert out[2] == (6, 0, "completely clean training text stays whole")


def test_persist_lifecycle_and_pair_cache(spark, sf_small):
    """Round-2 verdict #5: persisted shingle intermediates must be
    releasable, and CC consumers must share one persisted pair set."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators import (
        dedup,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
        load_table,
    )

    dedup.clear_pair_cache()
    dedup.release_persisted()
    docs = load_table(spark, sf_small, "documents")

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators import (
        cachereg,
    )

    p1 = dedup.jaccard_pairs_cached(docs, "text", "doc_id", cache_key=sf_small)
    # intermediates were released inside the cached call
    assert not cachereg._TRACKED
    # second call is a cache hit: same object, no new persists
    p2 = dedup.jaccard_pairs_cached(docs, "text", "doc_id", cache_key=sf_small)
    assert p2 is p1 and not cachereg._TRACKED
    # cached pairs equal a fresh computation
    fresh = sorted(
        (r.a_id, r.b_id) for r in
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id").collect()
    )
    dedup.release_persisted()  # fresh call's intermediates
    assert sorted((r.a_id, r.b_id) for r in p1.collect()) == fresh

    # plain operator tracks its persists and releases them all
    before = len(cachereg._TRACKED)
    df = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
    df.count()
    assert len(cachereg._TRACKED) > before
    released = dedup.release_persisted()
    assert released >= 1 and not cachereg._TRACKED
    dedup.clear_pair_cache()


def test_shingle_cache_lru_keeps_two_corpora(spark):
    """ADVICE r4: interleaving two corpora must not thrash the shingle
    cache — both stay pinned; a third corpus evicts the least recently
    used one."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators import (
        dedup as D,
    )

    D.clear_all_caches()
    mk = lambda tag: spark.createDataFrame(
        [(1, f"{tag} one two three four five")], "doc_id long, text string"
    )
    a = D.shingle_hashes_cached(mk("aa"), "text", "doc_id", cache_key="corpA")
    b = D.shingle_hashes_cached(mk("bb"), "text", "doc_id", cache_key="corpB")
    # interleave: both hits return the SAME cached objects (no re-persist)
    assert D.shingle_hashes_cached(mk("aa"), "text", "doc_id", cache_key="corpA") is a
    assert D.shingle_hashes_cached(mk("bb"), "text", "doc_id", cache_key="corpB") is b
    assert len(D._SHINGLE_CACHE) == 2
    # third corpus evicts the LRU one (corpA was refreshed last -> corpB.. )
    # order of refresh above: A then B, so A is LRU
    D.shingle_hashes_cached(mk("cc"), "text", "doc_id", cache_key="corpC")
    keys = {k[0] for k in D._SHINGLE_CACHE}
    assert keys == {"corpB", "corpC"}
    D.clear_all_caches()


def test_kmeans_ignores_null_vectors(spark):
    """NULL embeddings must be invisible to the fit — both the hash-spread
    init (regression: a NULL in the first n_cells ids crashed np.stack)
    and the Lloyd partials."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        kmeans_centroids,
    )

    rows = [Row(vec_id=i, embedding=[float(i % 7 + 1), float(i % 3)]) for i in range(40)]
    base = spark.createDataFrame(rows)
    with_nulls = base.unionByName(
        spark.createDataFrame(
            [(100 + i, None) for i in range(40)], "vec_id long, embedding array<double>"
        )
    )
    a = kmeans_centroids(base, n_cells=4, iters=2)
    b = kmeans_centroids(with_nulls, n_cells=4, iters=2)
    import numpy as np
    assert all(np.array_equal(x, y) for x, y in zip(a, b))


def test_table_diff_classification(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.diff import (
        diff_summary,
        table_diff,
    )

    a = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y"), (3, None, "z"), (4, 40.0, None)],
        "k long, v double, s string",
    )
    b = spark.createDataFrame(
        [(1, 10.0, "x"),        # unchanged
         (2, 21.0, "y"),        # changed: v
         (3, None, "z2"),       # changed: s (null v equal null-safely)
         (5, 50.0, "new")],     # added; k=4 removed
        "k long, v double, s string",
    )
    rows = {r["k"]: r for r in table_diff(a, b, ["k"], ["v", "s"]).collect()}
    assert rows[1]["status"] == "unchanged"
    assert rows[2]["status"] == "changed" and rows[2]["diff_v"] and not rows[2]["diff_s"]
    assert rows[3]["status"] == "changed" and not rows[3]["diff_v"] and rows[3]["diff_s"]
    assert rows[4]["status"] == "removed"
    assert rows[5]["status"] == "added"
    summ = {r["status"]: r for r in diff_summary(a, b, ["k"], ["v", "s"]).collect()}
    assert summ["changed"]["n_rows"] == 2
    assert summ["changed"]["n_diff_v"] == 1 and summ["changed"]["n_diff_s"] == 1
    assert summ["added"]["n_rows"] == summ["removed"]["n_rows"] == 1


def test_remove_overlap_spans_fixpoint_clears_synthesized_grams(spark):
    """Excision can synthesize a NEW benchmark gram from newly-adjacent
    tokens; the single pass leaves it, the fixpoint clears it."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        remove_overlap_spans,
        remove_overlap_spans_fixpoint,
    )

    bench = spark.createDataFrame(
        [Row(doc_id=100, text="x y z q a b c")],  # holds grams "x y z" AND "a b c"
        schema="doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b x y z c"),  # removing "x y z" spells "a b c"
            Row(doc_id=2, text="totally clean words"),
        ],
        schema="doc_id long, text string",
    )
    single = {
        r.doc_id: r.cleaned_text
        for r in remove_overlap_spans(train, bench, "text", "doc_id", l=3).collect()
    }
    assert single[1] == "a b c"  # contamination synthesized, still present

    fixed = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.cleaned_text)
        for r in remove_overlap_spans_fixpoint(
            train, bench, "text", "doc_id", l=3
        ).collect()
    }
    assert fixed[1] == (6, 6, "")  # second round excised the synthesized gram
    assert fixed[2] == (3, 0, "totally clean words")


def test_remove_duplicate_spans_matches_python_reference(spark):
    """Property test: on arbitrary small corpora the rewrite equals a
    from-scratch reference (positional l-grams, first-(doc,pos)-is-
    canonical rank, union of non-canonical intervals, positional
    rebuild)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    L = 3
    words = [f"t{i}" for i in range(6)]  # tiny alphabet -> real collisions
    doc_strategy = st.lists(
        st.sampled_from(words), min_size=0, max_size=15
    ).map(" ".join)

    def reference(texts):
        toks = [t.split() for t in texts]
        occ = {}  # gram -> first (doc, pos)
        for d, tk in enumerate(toks):
            for p in range(len(tk) - L + 1):
                g = tuple(tk[p:p + L])
                occ.setdefault(g, (d, p))
        removed = [set() for _ in toks]
        for d, tk in enumerate(toks):
            for p in range(len(tk) - L + 1):
                g = tuple(tk[p:p + L])
                if occ[g] != (d, p):
                    removed[d].update(range(p, p + L))
        out = {}
        for d, tk in enumerate(toks):
            kept = [w for i, w in enumerate(tk) if i not in removed[d]]
            out[d] = (len(tk), len(removed[d]), " ".join(kept))
        return out

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts=st.lists(doc_strategy, min_size=1, max_size=8))
    def run(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_tokens, r.removed_tokens, r.cleaned_text)
            for r in remove_duplicate_spans(df, "text", "doc_id", l=L).collect()
        }
        want = reference(texts)
        # whitespace tokenizer counts '' as one token on empty text — the
        # reference's split() drops it; normalize that single edge
        want = {
            d: (max(n, 1) if texts[d] == "" else n, r, c)
            for d, (n, r, c) in want.items()
        }
        assert got == want

    run()


def test_bigram_logprob_matches_python_reference(spark):
    """Property test: the add-one-smoothed bigram scoring equals a
    from-scratch reference on arbitrary corpora (model counts, vocab
    size, per-doc mean log-prob)."""
    import math

    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.catalog import (
        load_all,
    )

    words = [f"b{i}" for i in range(8)]
    doc_strategy = st.lists(
        st.sampled_from(words), min_size=1, max_size=20
    ).map(" ".join)

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts=st.lists(doc_strategy, min_size=2, max_size=8))
    def run(texts):
        import tempfile

        d = tempfile.mkdtemp()
        spark.createDataFrame(
            [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
            for r in load_all()["docs_bigram_logprob"].fn(spark, d).collect()
        }

        toks = [t.split() for t in texts]
        bigrams = [(w1, w2) for tk in toks for w1, w2 in zip(tk, tk[1:])]
        c12, c1 = Counter(bigrams), Counter(w1 for w1, _ in bigrams)
        v = len({w for tk in toks for w in tk})
        for i, tk in enumerate(toks):
            bgs = list(zip(tk, tk[1:]))
            if not bgs:
                assert got[i] == (0, 0.0)
                continue
            lp = sum(
                math.log((c12[b] + 1) / (c1[b[0]] + v)) for b in bgs
            ) / len(bgs)
            assert got[i][0] == len(bgs)
            assert abs(got[i][1] - round(lp + 1e-9, 6)) < 2e-6, (i, got[i], lp)

    run()


def test_excise_kernel_has_no_array_contains_scan(spark):
    """r7 kernel guard: the span-rewrite rebuild must use the merged-
    interval slice kernel, not the O(|toks| x |removed|) array_contains
    filter (VERDICT r6 wart #2). Also times the adversarial shape small:
    heavily-duplicated long docs must complete (the old kernel's 10^8-
    comparison case, scaled down)."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    adv = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(
                F.expr("transform(sequence(0, 199), i -> concat('u', id, '_', i))"),
                F.expr("transform(sequence(0, 799), i -> concat('s', i))"),
            ),
        ).alias("text"),
    )
    out = remove_duplicate_spans(adv, "text", "doc_id", l=8)
    assert "array_contains" not in out._jdf.queryExecution().toString().lower()
    rows = {r["doc_id"]: r for r in out.collect()}
    assert all(r["n_tokens"] == 1000 for r in rows.values())
    # exactly one doc keeps the shared block; every other loses all 800
    # shared tokens (cross-doc duplication, no self-overlap)
    removed = sorted(r["removed_tokens"] for r in rows.values())
    assert removed[0] == 0 and all(x == 800 for x in removed[1:])


# --------------------------------------------------------------------------
# dictGet family (r9): broadcast dictionary lookups
# --------------------------------------------------------------------------
def test_dictionary_dup_keys_never_fan_out(spark):
    """ClickHouse dictionaries are one-row-per-key; a dup-keyed source
    must collapse deterministically (min struct) and a lookup must never
    multiply fact rows."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dictionary import (
        Dictionary,
    )

    dim = spark.createDataFrame(
        [Row(k=1, v="b", w=20), Row(k=1, v="a", w=99), Row(k=2, v="c", w=30)]
    )
    fact = spark.createDataFrame([Row(fk=1), Row(fk=1), Row(fk=2), Row(fk=9)])
    d = Dictionary(dim, "k")
    out = d.get(fact, {"v": "v", "w": "w"}, "fk").orderBy("fk").collect()
    assert len(out) == 4  # no fan-out despite dup key 1
    # min(struct(v, w)) -> ('a', 99) wins for k=1, deterministically
    assert (out[0].v, out[0].w) == ("a", 99)
    assert out[2].v == "c"
    assert out[3].v is None  # dictGet miss -> NULL


def test_dict_get_or_default_and_has(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dictionary import (
        Dictionary,
        dict_get,
        dict_has,
    )

    dim = spark.createDataFrame([Row(k=1, v="x")])
    fact = spark.createDataFrame([Row(fk=1), Row(fk=2)])
    d = Dictionary(dim, "k")
    out = dict_get(fact, d, {"v": "v"}, "fk", defaults={"v": "DEF"})
    out = dict_has(out, d, "known", F.col("fk")).orderBy("fk").collect()
    assert [(r.v, r.known) for r in out] == [("x", True), ("DEF", False)]


def test_dictionary_chained_lookups_broadcast_no_fact_shuffle(spark):
    """Plan guard: chained dictGets are BroadcastHashJoins and the fact
    side reaches them without any Exchange — the ClickHouse dictionary
    memory model (per-executor hash map, fact never shuffles)."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dictionary import (
        Dictionary,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    region = load_table(spark, "/root/testdata/sf0.001", "region")
    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    nd = Dictionary(nation, "n_nationkey", ("n_name", "n_regionkey"))
    rd = Dictionary(region, "r_regionkey", ("r_name",))
    out = rd.get(
        nd.get(cust, {"nation": "n_name", "_rk": "n_regionkey"}, "c_nationkey"),
        {"region": "r_name"},
        "_rk",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    # Any shuffle exchange must belong to the DIM collapse (hash-partition
    # on a dictionary key) — never to the fact side.
    import re

    for ln in plan.splitlines():
        if re.search(r"\bExchange hashpartitioning", ln):
            assert re.search(r"n_nationkey|r_regionkey", ln), ln
        else:
            assert not re.search(r"\bExchange\b(?!.*[Bb]roadcast)", ln) or (
                "Broadcast" in ln
            ), ln
    assert out.count() == cust.count()

    # assume_unique skips the collapse entirely: zero shuffle exchanges
    nd_u = Dictionary(nation, "n_nationkey", ("n_name",), assume_unique=True)
    plan_u = (
        nd_u.get(cust, {"nation": "n_name"}, "c_nationkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan_u
    assert "Exchange hashpartitioning" not in plan_u


def test_dict_hierarchy_and_is_in(spark):
    """dictGetHierarchy walks parent links (chain includes the key, stops
    at NULL/self-parent roots, missing keys give [key]); dictIsIn is
    membership in that chain."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dictionary import (
        Dictionary,
        dict_get_hierarchy,
        dict_is_in,
    )

    # 1 -> 2 -> 3 (3 self-parented root), 9 missing from the dict
    dim = spark.createDataFrame(
        [Row(k=1, parent=2), Row(k=2, parent=3), Row(k=3, parent=3)]
    )
    d = Dictionary(dim, "k")
    fact = spark.createDataFrame([Row(fk=1), Row(fk=2), Row(fk=3), Row(fk=9)])
    out = {
        r.fk: r.h
        for r in dict_get_hierarchy(fact, d, "parent", "fk", "h").collect()
    }
    assert out == {1: [1, 2, 3], 2: [2, 3], 3: [3], 9: [9]}

    got = {
        r.fk: r.is_in
        for r in dict_is_in(
            fact, d, "parent", "fk", F.lit(3), "is_in"
        ).collect()
    }
    assert got == {1: True, 2: True, 3: True, 9: False}
    got1 = {
        r.fk: r.is_in
        for r in dict_is_in(
            fact, d, "parent", "fk", F.lit(1), "is_in"
        ).collect()
    }
    assert got1 == {1: True, 2: False, 3: False, 9: False}


def test_dictionary_property_matches_reference_semantics(spark):
    """Property: for ANY dup-keyed dim and fact key list, dict_get equals
    the reference semantics computed in plain Python — left lookup
    against min-struct-collapsed rows; dict_has equals key membership;
    row count always preserved."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dictionary import (
        Dictionary,
    )

    dim_rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.text(alphabet="xyz", min_size=0, max_size=2),
            st.integers(min_value=-9, max_value=9),
        ),
        min_size=1,
        max_size=8,
    )
    fact_keys = st.lists(
        st.integers(min_value=0, max_value=7), min_size=1, max_size=8
    )

    @given(dim=dim_rows, facts=fact_keys)
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(dim, facts):
        ref = {}
        for k, v, w in dim:
            cand = (v, w)
            ref[k] = cand if k not in ref else min(ref[k], cand)
        dim_df = spark.createDataFrame(dim, "k int, v string, w int")
        fact_df = spark.createDataFrame([(f,) for f in facts], "fk int")
        d = Dictionary(dim_df, "k")
        got = d.get(fact_df, {"v": "v", "w": "w"}, "fk")
        got = d.has(got, "known", F.col("fk")).collect()
        assert len(got) == len(facts)
        from collections import Counter

        assert Counter(r.fk for r in got) == Counter(facts)
        for r in got:
            want = ref.get(r.fk)
            assert (r.v, r.w) == (want if want else (None, None))
            assert r.known == (r.fk in ref)

    check()


def test_dict_get_or_default_null_attr_of_present_key_stays_null(spark):
    """ClickHouse dictGetOrDefault applies the default ONLY to missing
    keys: a present key whose Nullable attribute is NULL returns NULL,
    not the default (r9 ADVICE #3 — coalesce conflated the two)."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dictionary import (
        Dictionary,
        dict_get,
    )

    dim = spark.createDataFrame(
        [(1, "x"), (2, None)], "k int, v string"
    )
    fact = spark.createDataFrame([(1,), (2,), (9,)], "fk int")
    d = Dictionary(dim, "k")
    out = {
        r.fk: r.v
        for r in dict_get(fact, d, {"v": "v"}, "fk", defaults={"v": "DEF"}).collect()
    }
    assert out == {1: "x", 2: None, 9: "DEF"}


def test_dict_hierarchy_truncation_is_loud(spark):
    """A chain still growing at max_depth must never be returned
    silently shortened (a shortened chain is a false-negative dictIsIn):
    the default 'flag' marks the row (loud, non-fatal — ClickHouse-ish
    pipelines over cyclic data keep running), 'error' raises at
    execution time, 'ignore' keeps the exact bounded-walk behavior."""
    import pytest

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dictionary import (
        Dictionary,
        dict_get_hierarchy,
        dict_is_in,
    )

    # 1 -> 2 -> 3 -> 4 -> 5 (root): depth 5 chain, walk bounded at 2
    dim = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, None)], "k int, parent int"
    )
    d = Dictionary(dim, "k")
    fact = spark.createDataFrame([(1,), (4,)], "fk int")

    with pytest.raises(Exception, match="still growing at max_depth=2"):
        dict_get_hierarchy(
            fact, d, "parent", "fk", "h", max_depth=2, on_truncated="error"
        ).collect()
    with pytest.raises(Exception, match="still growing"):
        dict_is_in(
            fact, d, "parent", "fk", F.lit(5), max_depth=2, on_truncated="error"
        ).collect()

    # default = 'flag': loud column, no abort
    flagged = {
        r.fk: (r.h, r.h_truncated)
        for r in dict_get_hierarchy(
            fact, d, "parent", "fk", "h", max_depth=2
        ).collect()
    }
    assert flagged == {1: ([1, 2, 3], True), 4: ([4, 5], False)}
    isin_flagged = {
        r.fk: (r.is_in, r.is_in_truncated)
        for r in dict_is_in(
            fact, d, "parent", "fk", F.lit(5), max_depth=2
        ).collect()
    }
    assert isin_flagged == {1: (False, True), 4: (True, False)}

    silent = {
        r.fk: r.h
        for r in dict_get_hierarchy(
            fact, d, "parent", "fk", "h", max_depth=2, on_truncated="ignore"
        ).collect()
    }
    assert silent == {1: [1, 2, 3], 4: [4, 5]}

    # a deep-enough walk resolves the full chain with zero truncation
    full = dict_get_hierarchy(fact, d, "parent", "fk", "h", max_depth=8)
    assert {r.fk: r.h for r in full.collect()} == {1: [1, 2, 3, 4, 5], 4: [4, 5]}


def test_sequence_count_greedy_restart_semantics(spark):
    """sequenceCount is greedy NON-OVERLAPPING with restart (ClickHouse
    docs: the search for the next chain starts after the current chain
    matches) — an open chain consumes its step events, so A A B B is ONE
    2-step chain, not the maximum matching's two."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans.dq_suite import (
        sequence_count_expr,
    )

    cases = [
        # (events in time order, steps, expected count)
        ("A A B B", ("A", "B"), 1),
        ("A B A B", ("A", "B"), 2),
        ("B A B", ("A", "B"), 1),
        ("A B B A", ("A", "B"), 1),
        ("A X B", ("A", "B"), 1),           # non-step events are invisible
        ("V V S S P P", ("V", "S", "P"), 1),
        ("V S P V S P", ("V", "S", "P"), 2),
        # the 2nd V falls INSIDE the open chain's span — the restart
        # begins after the completed chain's P, where no V remains
        ("V S V P S P", ("V", "S", "P"), 1),
        ("V S P V S V P", ("V", "S", "P"), 2),
        ("P S V", ("V", "S", "P"), 0),
        ("", ("V", "S", "P"), 0),
    ]
    rows = [
        (i, [ (float(t), ev) for t, ev in enumerate(s.split()) ])
        for i, (s, _, _) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows, "i int, seq array<struct<e double, event_type string>>"
    )
    for i, (s, steps, want) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(sequence_count_expr(F.col("seq"), steps).alias("c"))
            .head()[0]
        )
        assert got == want, (s, steps, got, want)


def test_sequence_segment_fold_carries_state_across_segments(spark):
    """The whale-safe segment plan (r11): per-segment DFA transition
    tables compose associatively, so a chain STRADDLING segment
    boundaries must count exactly as the single-array fold. Events at
    t=100 (V), t=4000 (S), t=7500/7600 (P, P) span three hourly
    segments — one chain, and the second P must find the automaton
    already reset."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans.dq_suite import (
        _sequence_counts_by_collect,
        _sequence_counts_by_segments,
    )

    rows = [
        # u1: V..S..P P across 3 segments -> 1 chain
        (1, "view", 100.0), (1, "signup", 4000.0),
        (1, "purchase", 7500.0), (1, "purchase", 7600.0),
        # u2: two full chains, each inside its own segment
        (2, "view", 10.0), (2, "signup", 20.0), (2, "purchase", 30.0),
        (2, "view", 9000.0), (2, "signup", 9001.0), (2, "purchase", 9002.0),
        # u3: steps out of order -> 0
        (3, "purchase", 5.0), (3, "signup", 4200.0), (3, "view", 8000.0),
        # u4: open chain consumes its V (greedy restart): V V S S P P -> 1
        (4, "view", 1.0), (4, "view", 3700.0), (4, "signup", 7300.0),
        (4, "signup", 7400.0), (4, "purchase", 11000.0), (4, "purchase", 11001.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, e double")
    steps = ("view", "signup", "purchase")
    direct = {r.user_id: r.c for r in _sequence_counts_by_collect(ev, steps).collect()}
    seg = {r.user_id: r.c for r in _sequence_counts_by_segments(ev, steps).collect()}
    assert direct == seg == {1: 1, 2: 2, 3: 0, 4: 1}


def test_sequence_family_whale_guard(spark):
    """r10 verdict #5: a planted 10^6-event whale must (a) fire the
    should_salt gate both registered sequence queries now consult, and
    (b) produce IDENTICAL results from the gated segment plan and the
    direct collect plan — the gate is a plan choice, never a semantics
    choice. The segment plan's task memory is bounded by
    events-per-hour (the whale's 10^6 events spread over ~300 hourly
    segments), not events-per-user."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.heavy import (
        should_salt,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans.dq_suite import (
        _sequence_counts_by_collect,
        _sequence_counts_by_segments,
    )

    n_whale = 1_000_000
    # whale: event i at t=i (seconds, ~278 hourly segments), type cycling
    # through view/signup/purchase/noise so chains complete constantly
    whale = spark.range(n_whale).select(
        F.lit(999).cast("long").alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("signup"), F.lit("purchase"), F.lit("error")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("event_type"),
        F.col("id").cast("double").alias("e"),
    )
    normals = spark.range(50).select(
        F.col("id").alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("signup"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") * 7.0).alias("e"),
    )
    ev = whale.unionByName(normals)

    assert should_salt(ev, ["user_id"], share_threshold=0.05)

    steps = ("view", "signup", "purchase")
    seg = {r.user_id: r.c for r in _sequence_counts_by_segments(ev, steps).collect()}
    direct = {r.user_id: r.c for r in _sequence_counts_by_collect(ev, steps).collect()}
    assert seg == direct
    # the whale's cycle view,signup,purchase,error repeats 250k times ->
    # 250k complete greedy chains (an independent closed form)
    assert seg[999] == n_whale // 4


def test_retention_operator_clickhouse_gating(spark):
    """operators.retention (r11): flag 1 = cond1 ever held per key;
    flag i = cond1 AND cond_i both held (a key OUTSIDE the cohort
    contributes 0 to every retained bucket even when cond_i held) —
    the documented ClickHouse retention() semantics."""
    import pytest

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.retention import (
        retention,
    )

    rows = [
        # u1: in cohort, retained at c2 only
        (1, "a"), (1, "b"),
        # u2: in cohort only
        (2, "a"),
        # u3: NOT in cohort but c2/c3 held -> all zeros except nothing
        (3, "b"), (3, "c"),
        # u4: everything
        (4, "a"), (4, "b"), (4, "c"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ev string")
    conds = [F.col("ev") == t for t in ("a", "b", "c")]
    got = {
        r.user_id: (r.r1, r.r2, r.r3)
        for r in retention(df, conds).collect()
    }
    assert got == {
        1: (1, 1, 0),
        2: (1, 0, 0),
        3: (0, 0, 0),
        4: (1, 1, 1),
    }

    # rollup composes as plain sums (gating already applied per key)
    tot = retention(df, conds).agg(
        F.sum("r1").alias("s1"), F.sum("r2").alias("s2"), F.sum("r3").alias("s3")
    ).head()
    assert (tot.s1, tot.s2, tot.s3) == (3, 2, 1)

    # multi-key grouping + custom prefix
    df2 = df.withColumn("site", F.lit("x"))
    out = retention(df2, conds, key_cols=("site", "user_id"), out_prefix="f")
    assert set(out.columns) == {"site", "user_id", "f1", "f2", "f3"}

    with pytest.raises(ValueError, match="at least one condition"):
        retention(df, [])


def test_sampled_oracle_rewrite_shapes():
    """sampled_oracle must (a) prepend the sample CTEs right after the
    WITH keyword (RECURSIVE preserved), (b) repoint every FROM
    documents — bare, aliased, or WHERE-suffixed — at sd, and (c)
    synthesize a WITH for oracle bodies that had none."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans.curation import (
        SWEEP_SD_CTES,
        sampled_oracle,
    )

    rec = sampled_oracle(
        "WITH RECURSIVE t AS (SELECT doc_id FROM documents) "
        "SELECT * FROM documents d JOIN t ON t.doc_id = d.doc_id "
        "WHERE d.doc_id % 2 = 1"
    )
    assert rec.startswith("WITH RECURSIVE ")
    assert SWEEP_SD_CTES in rec
    # every original documents reference now reads sd (alias kept intact)
    assert "SELECT * FROM sd d JOIN" in rec.replace("  ", " ")
    # raw documents appears only inside the sample CTEs themselves:
    # the tokenizer FROM, the sd base FROM, and the adaptive keep's
    # scalar COUNT(*) subquery
    assert rec.count("FROM documents") == 3

    plain = sampled_oracle("SELECT COUNT(*) AS n FROM documents")
    assert plain.startswith("WITH ")
    assert "sd AS (" in plain
    assert plain.endswith("FROM sd")

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    full = con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    sampled = con.execute(plain).fetchone()[0]
    assert 0 < sampled < full  # the predicate actually thins the table


def test_sweep_sample_rate_is_scale_adaptive():
    """The sampled twins' rate holds the sampled-doc count constant above
    the sf1 calibration point (r11: a FIXED 4% blew the 600 s watchdog at
    sf10 — quadratic oracle cost in fixture size) and keeps the full pct
    below it."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans.curation import (
        SWEEP_SAMPLE_PCT,
        SWEEP_TARGET_DOCS,
        sweep_keep_buckets,
    )

    full_pct = SWEEP_SAMPLE_PCT * 10_000  # per-million spelling of 4%
    assert sweep_keep_buckets(500) == full_pct  # sf0.01
    assert sweep_keep_buckets(50_000) == full_pct  # sf1 = the boundary
    # above the boundary: expected sampled docs pinned at the target
    for n in (500_000, 5_000_000):
        keep = sweep_keep_buckets(n)
        assert keep < full_pct
        expected_docs = n * keep // 1_000_000
        assert abs(expected_docs - SWEEP_TARGET_DOCS) <= 0.01 * SWEEP_TARGET_DOCS


def test_docs_sampled_matches_oracle_sample_exactly(spark):
    """Spark's _docs_sampled and the oracle's SWEEP_SD_CTES must keep
    the IDENTICAL doc set — the zero-drift contract every sampled twin
    rides on (min-shingle cluster-preserving key, doc_id fallback)."""
    import duckdb

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans.curation import (
        _docs_sampled,
        sampled_oracle,
    )

    spark_ids = {
        r["doc_id"]
        for r in _docs_sampled(spark, "/root/testdata/sf0.01")
        .select("doc_id")
        .collect()
    }
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.01/documents.parquet')"
        )
        duck_ids = {
            r[0]
            for r in con.execute(
                sampled_oracle("SELECT doc_id FROM documents")
            ).fetchall()
        }
    finally:
        con.close()
    assert spark_ids == duck_ids
    assert len(spark_ids) > 0


def test_sample_is_cluster_preserving(spark):
    """The reason the key is a MIN shingle hash: two docs sharing their
    min shingle land in the same bucket, so near-dup pairs co-sample.
    Verify directly — exact duplicates of a sampled doc must also be
    sampled (J=1 ⇒ identical key)."""
    import duckdb

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans.curation import (
        sampled_oracle,
    )

    con = duckdb.connect()
    try:
        # fabricate a corpus where doc i and doc i+1000 are exact dups
        con.execute(
            "CREATE VIEW documents AS "
            "SELECT doc_id, 'alpha beta gamma delta epsilon word'"
            " || CAST(doc_id % 1000 AS VARCHAR) AS text"
            " FROM (SELECT UNNEST(range(2000)) AS doc_id)"
        )
        kept = [
            r[0]
            for r in con.execute(
                sampled_oracle("SELECT doc_id FROM documents")
            ).fetchall()
        ]
    finally:
        con.close()
    kept_set = set(kept)
    assert kept_set, "sample must be non-empty"
    for d in kept_set:
        twin = d + 1000 if d < 1000 else d - 1000
        assert twin in kept_set, (d, twin)


def test_brute_force_topk_large_query_set_takes_join_arm(spark, sf_small, monkeypatch):
    """Above ARROW_MAX_QUERIES query rows the Arrow arm collects no query
    matrix and the broadcast-join arm answers; both arms return the same
    top-k."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators import (
        similarity,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 6)

    def topk():
        out = brute_force_topk(emb, queries, k=5)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        rows = {(r["q_id"], r["rank"]): (r["n_id"], r["cos"]) for r in out.collect()}
        return rows, "MapInPandas" in plan

    arrow, arrow_used = topk()
    monkeypatch.setattr(similarity, "ARROW_MAX_QUERIES", 5)
    joined, join_arrow_used = topk()
    assert arrow_used and not join_arrow_used
    assert arrow.keys() == joined.keys() and len(arrow) == 6 * 5
    for key, (n_id, cos) in arrow.items():
        assert joined[key][0] == n_id
        assert abs(joined[key][1] - cos) < 1e-12
