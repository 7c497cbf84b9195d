"""LLM-pipeline operators: dedup, similarity, text analysis."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
        (4, "completely different text about spark query engines and plans", "en"),
        (5, "der hund und die katze sind nicht mit der maus auf dem tisch", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    from kolibrie_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs, ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4, 5]


def test_ngram_jaccard_pairs(docs):
    from kolibrie_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert all(k in {(1, 2), (1, 3), (2, 3)} for k in got)


def test_minhash_lsh_equals_exact(docs):
    from kolibrie_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in minhash_lsh_pairs(docs, "doc_id", "text", 3, 64, 32, 0.5).collect()
    }
    assert lsh == exact


def test_simhash_near_pairs(docs):
    from kolibrie_spark.operators.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(1, 2)] == 0  # identical text, identical simhash
    assert (1, 3) in got    # one word changed, few bits flip
    assert (1, 4) not in got and (4, 5) not in got


def test_cosine_topk_and_lsh_recall(spark):
    import numpy as np

    from kolibrie_spark.operators.similarity import cosine_topk, lsh_bucket_topk

    rng = np.random.RandomState(7)
    base = rng.randn(16)
    rows = []
    for i in range(200):
        if i < 5:  # planted neighbors
            v = base + rng.randn(16) * 0.05
        else:
            v = rng.randn(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in base]
    exact = [r.vec_id for r in cosine_topk(df, q, 5, "vec_id", "embedding").collect()]
    assert sorted(exact) == [0, 1, 2, 3, 4]
    approx = [
        r.vec_id
        for r in lsh_bucket_topk(
            df, q, 5, "vec_id", "embedding", bits=6, nprobe=16
        ).collect()
    ]
    # high nprobe => recall should recover most planted neighbors
    assert len(set(approx) & set(exact)) >= 4


def test_ivf_topk_exact_when_probing_all_cells(spark):
    import numpy as np

    from kolibrie_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[3][1]
    exact = [(r.vec_id, r.cosine) for r in cosine_topk(df, q, 5, "vec_id", "embedding").collect()]
    # nprobe == ncells degenerates to exact brute force
    full = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(df, q, 5, "vec_id", "embedding", ncells=8, nprobe=8).collect()
    ]
    assert full == exact
    # narrow probe is a subset of the data but still returns k ranked rows
    approx = ivf_topk(df, q, 5, "vec_id", "embedding", ncells=8, nprobe=2).collect()
    assert len(approx) == 5
    assert [r.cosine for r in approx] == sorted((r.cosine for r in approx), reverse=True)


def test_text_analyze_fields(spark, docs):
    from kolibrie_spark.operators.textanalysis import analyze

    out = {r.doc_id: r for r in analyze(docs, "doc_id", "text").collect()}
    assert out[1].tokens == 12
    assert out[1].lang_pred == "en"
    assert out[5].lang_pred == "de"
    assert 0.0 <= out[1].punct_ratio < 0.05
    assert out[1].fingerprint == out[2].fingerprint  # same text, same print
    assert out[1].fingerprint != out[3].fingerprint


def test_quality_score_monotone(spark):
    from kolibrie_spark.operators.textanalysis import analyze

    rows = [
        (1, "the cat is on the mat and it is a good cat that sleeps all day long"),
        (2, "x@@ ##!! ??? ;;; ::: %%% &&& *** ((( )))"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.quality for r in analyze(df, "doc_id", "text").collect()}
    assert out[1] > out[2]


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.skew import salted_join, top_heavy_keys

    left = spark.createDataFrame(
        [("hub", i) for i in range(500)] + [(f"k{i}", i) for i in range(50)],
        "k string, v int",
    )
    right = spark.createDataFrame(
        [("hub", "H"), ("k1", "A"), ("k2", "B")], "k string, tag string"
    )
    plain = sorted(tuple(r) for r in left.join(right, "k").collect())
    salted = sorted(tuple(r) for r in salted_join(left, right, ["k"], salt=8).collect())
    assert salted == plain
    assert top_heavy_keys(left, "k", threshold=0.5) == ["hub"]


def test_quadstore_parquet_roundtrip(spark, tmp_path):
    from kolibrie_spark.store import QuadStore

    store = QuadStore.from_rows(
        spark, [("a", "p", "1"), ("b", "p", "2", "g1")], graphs=["empty"]
    )
    path = str(tmp_path / "quads")
    store.quads.write.parquet(path)
    again = QuadStore.from_parquet(spark, path)
    assert sorted(tuple(r) for r in again.quads.collect()) == sorted(
        tuple(r) for r in store.quads.collect()
    )


def test_asof_join_backward(spark):
    from kolibrie_spark.operators.temporal import asof_join

    events = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 25), (3, 100, 5), (4, 200, 50)],
        "event_id long, user long, ts long",
    )
    dims = spark.createDataFrame(
        [(100, 8, "v1"), (100, 20, "v2"), (200, 60, "v3")],
        "user long, valid_from long, version string",
    )
    out = asof_join(
        events, dims, ["user"], "ts", "valid_from", ["version", "valid_from"]
    )
    got = {r.event_id: (r.version_matched, r.valid_from_matched) for r in out.collect()}
    assert got[1] == ("v1", 8)     # ts=10 -> v1@8
    assert got[2] == ("v2", 20)    # ts=25 -> v2@20
    assert got[3] == (None, None)  # ts=5 predates all versions
    assert got[4] == (None, None)  # user 200's version starts later


def test_exact_dedup_fully_duplicated_rows(docs):
    """Rows duplicated in full (same key AND same id) must still collapse to
    one representative per key (ADVICE r1)."""
    from kolibrie_spark.operators.dedup import exact_dedup

    doubled = docs.unionAll(docs)
    out = exact_dedup(doubled, ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4, 5]


def test_ngram_jaccard_heavy_shingle_salting_exact(spark):
    """With a stop-shingle present in every document, the salted join must
    return bit-identical results to the unsalted join (VERDICT r1 skew fix)."""
    from kolibrie_spark.operators.dedup import ngram_jaccard_pairs

    rows_in = [
        (i, f"shared common prefix words unique{i} token{i} tail{i} more{i}")
        for i in range(1, 21)
    ]
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    salted = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.1, heavy_df=4, salt=4
        ).collect()
    }
    unsalted = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.1, heavy_df=10**9
        ).collect()
    }
    assert salted == unsalted and len(salted) == 190  # all C(20,2) pairs share


def test_connected_components_chain_and_triangle(spark):
    from kolibrie_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_near_dup_clusters_with_singletons(docs):
    from kolibrie_spark.operators.dedup import minhash_lsh_pairs, near_dup_clusters

    pairs = minhash_lsh_pairs(docs, "doc_id", "text", 3, 64, 32, 0.5)
    got = {r.doc_id: r.cluster for r in near_dup_clusters(docs, pairs, "doc_id").collect()}
    # docs 1,2,3 are (near-)dups of each other; 4 and 5 are singletons
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_quantized_topk_close_to_exact(spark):
    """Int8 quantization: top-k by quantized score overlaps exact cosine
    top-k heavily, and quantized scores approximate the true dot product."""
    import numpy as np

    from kolibrie_spark.operators.similarity import (
        cosine_topk, quantized_topk, with_int8_quantization,
    )

    rng = np.random.RandomState(5)
    vecs = rng.randn(200, 16).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]

    quant = with_int8_quantization(df, "embedding").limit(5).collect()
    for r in quant:
        assert all(-127 <= x <= 127 for x in r.q_vec)
        back = np.array(r.q_vec) * r.q_scale
        assert np.allclose(back, np.array(r.embedding), atol=r.q_scale * 0.51)

    exact = {r.vec_id for r in cosine_topk(df, q, 10, "vec_id", "embedding").collect()}
    qk = {r.vec_id for r in quantized_topk(df, q, 10, "vec_id", "embedding").collect()}
    assert len(exact & qk) >= 8  # int8 error is small at dim 16
    assert 0 in qk  # the query vector itself always wins


def test_pq_topk_recall_and_duckdb_twins(spark):
    """PQ ADC: the query's own vector ranks first (its codes reconstruct it
    best), recall vs exact top-k is substantial at dim 16 / m=4, and BOTH
    DuckDB twins (constants-passed and SQL-derived codebooks) are
    bit-identical to the Spark scores."""
    import duckdb
    import numpy as np

    from kolibrie_spark.operators.similarity import (
        pq_seed_codebooks,
        pq_topk,
        pq_topk_duckdb_sql,
        pq_topk_duckdb_sql_derived,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(120, 16).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[3]]

    cbs = pq_seed_codebooks(df, "vec_id", "embedding", m=4, ksub=16)
    assert len(cbs) == 4 and len(cbs[0]) == 16 and len(cbs[0][0]) == 4
    got = [(r.vec_id, r.adc) for r in pq_topk(df, q, 10, "vec_id", "embedding", m=4, ksub=16).collect()]
    assert got[0][0] == 3  # the query's own row is nearest under ADC

    con = duckdb.connect()
    con.register("emb", df.toPandas())
    want = con.execute(
        pq_topk_duckdb_sql("emb", q, 10, "vec_id", "embedding", m=4, ksub=16, codebooks=cbs)
    ).fetchall()
    assert got == [tuple(r) for r in want]  # exact float equality
    want2 = con.execute(
        pq_topk_duckdb_sql_derived("emb", "vec_id", "embedding", query_id=3, k=10, dim=16, m=4, ksub=16)
    ).fetchall()
    assert got == [tuple(r) for r in want2]

    with pytest.raises(ValueError):
        pq_seed_codebooks(df, "vec_id", "embedding", m=5, ksub=16)  # 16 % 5
    with pytest.raises(ValueError):
        pq_topk_duckdb_sql("emb", q, 10, "vec_id", "embedding", codebooks=None)


def test_deterministic_sample_stable_and_rate(spark):
    from kolibrie_spark.operators.sampling import deterministic_sample

    df = spark.range(10000).selectExpr("id AS k")
    a = sorted(r.k for r in deterministic_sample(df, "k", 0.2).collect())
    b = sorted(
        r.k
        for r in deterministic_sample(df.repartition(7), "k", 0.2).collect()
    )
    assert a == b  # pure function of the key: layout-independent
    assert 0.15 < len(a) / 10000 < 0.25
    # rate monotonicity: a smaller rate selects a subset
    small = set(r.k for r in deterministic_sample(df, "k", 0.05).collect())
    assert small <= set(a)


def test_stratified_sample_rates(spark):
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.sampling import stratified_sample

    df = spark.range(6000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "keep")
        .when(F.col("id") % 3 == 1, "half")
        .otherwise("drop")
        .alias("s"),
    )
    out = stratified_sample(df, "k", "s", {"keep": 1.0, "half": 0.5}, default=0.0)
    counts = {r.s: r.c for r in out.groupBy("s").agg(F.count("*").alias("c")).collect()}
    assert counts["keep"] == 2000
    assert 800 < counts.get("half", 0) < 1200
    assert "drop" not in counts


def test_lsh_bucket_dim_is_keyword_only(spark):
    """A positional caller from the pre-dim signature (df, col, bits) must
    get a TypeError, not silently wrong-sized hyperplanes."""
    from kolibrie_spark.operators.similarity import with_lsh_bucket

    df = spark.createDataFrame([(1, [0.1] * 4)], "id int, vec array<float>")
    with pytest.raises(TypeError):
        with_lsh_bucket(df, "vec", 16)  # old positional style
    assert "lsh_bucket" in with_lsh_bucket(df, "vec", dim=4).columns


def test_connected_components_raises_when_unconverged(spark):
    """A chain longer than max_iter rounds must raise, not silently return
    split components."""
    from kolibrie_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    ok = connected_components(chain, max_iter=10)
    assert {r.component for r in ok.collect()} == {0}


def test_kmeans_ivf_recall_beats_first_n(spark):
    """KMeans centroids must give >= recall than first-N seeds at equal
    nprobe on clustered data where the first N ids all sit in ONE cluster
    (the adversarial case for first-N seeding)."""
    import numpy as np

    from kolibrie_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.RandomState(3)
    centers = rng.randn(8, 16) * 10.0
    rows = []
    # ids 0..7 all in cluster 0 => first-N centroids are degenerate
    for i in range(8):
        rows.append((i, [float(x) for x in centers[0] + rng.randn(16) * 0.3]))
    for i in range(8, 400):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in c + rng.randn(16) * 0.3]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in centers[3] + rng.randn(16) * 0.05]

    exact = {r.vec_id for r in cosine_topk(df, q, 10, "vec_id", "embedding").collect()}

    def recall(provider):
        got = {
            r.vec_id
            for r in ivf_topk(
                df, q, 10, "vec_id", "embedding",
                ncells=8, nprobe=2, centroid_provider=provider,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_first = recall(None)  # default seed_centroids
    r_kmeans = recall(kmeans_centroids)
    assert r_kmeans >= r_first
    assert r_kmeans >= 0.9  # real centroids recover the query's cluster


def test_prefix_jaccard_equals_exact(docs):
    from kolibrie_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    exact = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    pref = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in prefix_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    assert pref == exact and len(pref) > 0


def test_prefix_jaccard_thresholds_and_empty(spark, docs):
    from kolibrie_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    # threshold sweep incl. an awkward fraction (exact integer ceil path)
    for t in (0.3, 0.7, 1.0 / 3.0):
        exact = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, t).collect()
        }
        pref = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in prefix_jaccard_pairs(docs, "doc_id", "text", 3, t).collect()
        }
        assert pref == exact
    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert prefix_jaccard_pairs(empty, "doc_id", "text", 3, 0.5).count() == 0


def test_prefix_jaccard_size_boundary_subset_pair(spark):
    """r12 asymmetric-prefix + positional-filter internals: a subset pair
    sitting EXACTLY on the size boundary (|a| = t*|b|, J = t) must survive
    every pruning stage regardless of the token hash order — the tightest
    case for the probe prefix (|a| - ceil(2t/(1+t)|a|) + 1 tokens) and the
    per-pair positional bound alpha = ceil(t/(1+t)(|a|+|b|))."""
    from kolibrie_spark.operators.dedup import prefix_jaccard_pairs

    # unigram shingles (n=1) make set sizes explicit: a has 5 words, all
    # contained in b's 10 -> J = 5/10 = 0.5 = t exactly
    a_words = ["w%d" % i for i in range(5)]
    b_words = a_words + ["x%d" % i for i in range(5)]
    docs = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    rows = prefix_jaccard_pairs(docs, "doc_id", "text", 1, 0.5).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 0.5)]
    # one word short of the boundary: pruned by the size filter, no pair
    docs2 = spark.createDataFrame(
        [(1, " ".join(a_words[:4])), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    assert prefix_jaccard_pairs(docs2, "doc_id", "text", 1, 0.5).count() == 0


def test_embedding_lsh_pairs_equals_exact(spark):
    """LSH-candidate + exact-verify must reproduce the exact all-pairs
    output bit-for-bit (same contract the driver oracle enforces), on a
    corpus with planted near-dup clusters AND a correlated background that
    puts many pairs just under the threshold."""
    import numpy as np

    from kolibrie_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_lsh_pairs,
    )

    rng = np.random.RandomState(5)
    shared = rng.randn(32)  # correlated background component
    rows = []
    for i in range(300):
        if i < 6:
            v = shared * 2.0 + rng.randn(32) * 0.3  # tight cluster
        else:
            v = shared * 0.8 + rng.randn(32)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # block_rows=64 < n forces MULTI-BLOCK candidate generation (the
    # default 2048 would hide cross-block bugs behind a single block)
    exact = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_cosine_pairs(
            df, "vec_id", "embedding", threshold=0.4, block_rows=64
        ).collect()
    )
    assert exact, "fixture must produce at least one above-threshold pair"
    lsh = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_lsh_pairs(
            df, "vec_id", "embedding", dim=32, threshold=0.4
        ).collect()
    )
    assert lsh == exact


def test_embedding_lsh_pairs_degenerate_inputs(spark):
    from kolibrie_spark.operators.dedup import embedding_lsh_pairs

    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    assert embedding_lsh_pairs(one, "vec_id", "embedding", dim=2).count() == 0
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_lsh_pairs(empty, "vec_id", "embedding", dim=2).count() == 0


def test_canonical_url_rules(spark):
    from kolibrie_spark.operators.urltools import canonical_url, url_dedup

    rows = [
        (1, "HTTP://WWW.Example.COM:80/a/b/?b=2&utm_source=x&a=1#frag"),
        (2, "http://www.example.com/a/b?a=1&b=2"),          # same canonical as 1
        (3, "https://Example.com:443/"),
        (4, "https://example.com"),                          # same canonical as 3
        (5, "https://example.com/path?gclid=zzz&fbclid=yyy"),
        (6, "https://example.com:8080/x"),                   # non-default port kept
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r.c for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()}
    assert got[1] == "http://www.example.com/a/b?a=1&b=2"
    assert got[1] == got[2]
    assert got[3] == "https://example.com/" == got[4]
    assert got[5] == "https://example.com/path"
    assert got[6] == "https://example.com:8080/x"
    kept = sorted(r.id for r in url_dedup(df, "id", "url").collect())
    assert kept == [1, 3, 5, 6]


def test_token_budget_sample_prefix_semantics(spark):
    from kolibrie_spark.operators.sampling import token_budget_sample

    rows = [  # (id, score, tokens)
        (1, 90, 40), (2, 80, 50), (3, 70, 30), (4, 60, 10), (5, 50, 5),
    ]
    df = spark.createDataFrame(rows, "id long, score long, tokens long")
    # budget 95: 40 + 50 fit (90), the 30-token doc overflows -> STOP
    # (prefix semantics: the later 10- and 5-token docs are not back-filled)
    kept = sorted(r.id for r in token_budget_sample(df, "id", "score", "tokens", 95).collect())
    assert kept == [1, 2]
    # exact boundary inclusion
    kept2 = sorted(r.id for r in token_budget_sample(df, "id", "score", "tokens", 120).collect())
    assert kept2 == [1, 2, 3]


def test_leakage_safe_split_no_near_dup_straddles(spark, docs):
    """Every near-dup pair (and every chain of pairs) must land whole in
    one split — the property the operator exists for."""
    from kolibrie_spark.operators.dedup import minhash_lsh_pairs
    from kolibrie_spark.operators.sampling import leakage_safe_split

    pairs = minhash_lsh_pairs(docs, "doc_id", "text", 3, 64, 32, 0.5)
    out = leakage_safe_split(
        docs, "doc_id", pairs, {"train": 0.7, "test": 0.3}
    )
    split_of = {r.doc_id: (r.cluster, r.split) for r in out.collect()}
    assert len(split_of) == 5  # every doc assigned
    for r in pairs.collect():
        assert split_of[r.id_a] == split_of[r.id_b], (r.id_a, r.id_b)
    # docs 1,2,3 chain into one cluster; 4 and 5 are singletons
    assert split_of[1] == split_of[2] == split_of[3]
    assert split_of[4][0] == 4 and split_of[5][0] == 5


def test_ivf_cell_vectorized_matches_expression(spark):
    """The Arrow-matmul assignment path must agree with the fold-
    expression path away from centroid boundaries (well-separated
    clusters) — same argmin, same lowest-cid tie-break convention."""
    import numpy as np

    from kolibrie_spark.operators.similarity import seed_centroids, with_ivf_cell

    rng = np.random.RandomState(17)
    centers = rng.randn(6, 16) * 10
    rows = []
    for i in range(240):
        c = i % 6
        rows.append((i, [float(x) for x in centers[c] + rng.randn(16) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = seed_centroids(df, "vec_id", "embedding", 6)
    a = {r.vec_id: r.ivf_cell for r in with_ivf_cell(df, "embedding", cents).collect()}
    b = {
        r.vec_id: r.ivf_cell
        for r in with_ivf_cell(df, "embedding", cents, vectorized=True).collect()
    }
    assert a == b


def test_token_budget_bucket_plan_matches_global_window(spark):
    """r7 scale fix: the bucketed token_budget_sample must be
    row-identical to the single global-window prefix on adversarial
    inputs — null scores (sort last under DESC), heavy score ties
    (never straddle a bucket), and budgets hitting every regime (zero,
    mid-bucket, all-fits)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kolibrie_spark.operators.sampling import token_budget_sample

    random.seed(3)
    rows = [
        (i, random.choice([random.uniform(0, 100), float(random.randint(0, 5))]),
         random.randint(1, 50))
        for i in range(800)
    ]
    rows += [(800 + i, None, 10) for i in range(10)]
    rows += [(900 + i, 42.0, 7) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, score double, tokens long")

    def naive(budget):
        w = Window.orderBy(
            F.col("score").desc(), F.col("id").asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return (
            df.withColumn("c", F.sum("tokens").over(w))
            .filter(F.col("c") <= budget)
            .drop("c")
        )

    for budget in [0, 37, 3000, 10**9]:
        got = sorted(
            tuple(r)
            for r in token_budget_sample(df, "id", "score", "tokens", budget).collect()
        )
        want = sorted(tuple(r) for r in naive(budget).collect())
        assert got == want, budget

    # constant score: quantile bounds degenerate to none → exact fallback
    dfc = spark.createDataFrame(
        [(i, 1.0, 5) for i in range(100)], "id long, score double, tokens long"
    )
    kept = sorted(
        r.id for r in token_budget_sample(dfc, "id", "score", "tokens", 103).collect()
    )
    assert kept == list(range(20))

    # plan shape: the single-partition window sort must NOT cover the
    # whole input — only the boundary bucket (a filtered subset)
    plan = token_budget_sample(df, "id", "score", "tokens", 3000)._jdf.queryExecution().executedPlan().toString()
    if "SinglePartition" in plan:
        assert "__tb_bucket" not in plan  # column resolved, not leaked


def test_containment_pairs_asymmetric(spark):
    """Containment (overlap coefficient) catches a short doc embedded in
    a long one that symmetric Jaccard misses at the same threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(20))
    rows_ = [(1, short), (2, long_), (3, "entirely different content here now")]
    df = spark.createDataFrame(rows_, "doc_id long, text string")

    from kolibrie_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    # every 3-gram of the short doc appears in the long one
    assert cont[(1, 2)] == 1.0
    assert list(cont) == [(1, 2)]
    # symmetric Jaccard at the same threshold misses it
    jac = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    assert (1, 2) not in jac


def test_load_table_parallel_opt_out(spark, tmp_path):
    """r12: `load_table(..., parallel=False)` skips the CPU-spread
    repartition for key-only consumers (the very next operator re-shuffles
    by the join key, so the spread is a wasted Exchange) — same rows, no
    RoundRobinPartitioning in the plan."""
    from kolibrie_spark.tables import load_table

    sf_dir = str(tmp_path)
    spark.range(50).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text", "'en' AS source"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    spread = load_table(spark, sf_dir, "documents")
    lean = load_table(spark, sf_dir, "documents", parallel=False)

    # identical contents either way
    assert spread.exceptAll(lean).count() == 0
    assert lean.exceptAll(spread).count() == 0

    # the spread variant repartitions a single-file scan; the lean one
    # must not introduce any exchange of its own
    assert "roundrobinpartitioning" in spread._jdf.queryExecution().executedPlan().toString().lower()
    assert "roundrobinpartitioning" not in lean._jdf.queryExecution().executedPlan().toString().lower()


def test_containment_prefix_equals_bruteforce(spark):
    """r13 pin for the containment-prefix candidate variant (VERDICT r12
    task #3): containment_pairs (prefix-filtered) must equal a brute-force
    all-pairs containment over the same shingle sets, across thresholds —
    including subset pairs where the contained doc is tiny relative to its
    container (no size filter may prune them)."""
    import itertools
    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(12)]
    texts = []
    for i in range(14):
        k = rng.randint(1, 9)
        texts.append(" ".join(rng.choice(vocab) for _ in range(k + 2)))
    # a tiny doc wholly contained in a giant one
    texts.append("a b c d")
    texts.append("a b c d " + " ".join(rng.choice(vocab) for _ in range(40)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = 2

    def shingles(t):
        w = t.split()
        if len(w) < n:
            return set()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    from kolibrie_spark.operators.dedup import containment_pairs

    for thr in (0.5, 0.8, 1.0):
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            A, B = sets[a], sets[b]
            if not A or not B:
                continue
            c = len(A & B) / min(len(A), len(B))
            if c >= thr:
                want.add((a, b, round(c, 12)))
        got = {
            (r.id_a, r.id_b, round(r.containment, 12))
            for r in containment_pairs(
                df, "doc_id", "text", n=n, threshold=thr
            ).collect()
        }
        assert got == want, f"threshold {thr}: {got ^ want}"


def test_pq_vectorized_matches_expression(spark):
    """r13 pin: the Arrow-batched PQ ADC path must be BIT-identical to the
    expression path — same per-codeword distances (explicit fold order),
    same first-occurrence argmin, same subspace-ascending ADC sum —
    including on near-tie data (duplicated codeword seeds force exact
    distance ties)."""
    import numpy as np

    from kolibrie_spark.operators.similarity import pq_topk

    rng = np.random.RandomState(23)
    rows = []
    for i in range(120):
        v = rng.randn(16)
        if i % 7 == 0 and i >= 16:
            v = np.array(rows[i % 16][1])  # exact duplicate of a seed vector
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in rng.randn(16)]
    a = pq_topk(df, q, 120, "vec_id", "embedding", m=4, ksub=8, vectorized=True)
    b = pq_topk(df, q, 120, "vec_id", "embedding", m=4, ksub=8, vectorized=False)
    ra = [(r.vec_id, r.adc) for r in a.collect()]
    rb = [(r.vec_id, r.adc) for r in b.collect()]
    assert ra == rb  # full ranking AND exact adc doubles


def test_lsh_bucket_vectorized_matches_expression(spark):
    """r13 pin: vectorized LSH signatures must equal the expression path
    bit-for-bit (same projection fold order, same sign packing)."""
    import numpy as np

    from kolibrie_spark.operators.similarity import with_lsh_bucket

    rng = np.random.RandomState(29)
    rows = [(i, [float(x) for x in rng.randn(12)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        r.vec_id: r.lsh_bucket
        for r in with_lsh_bucket(
            df, "embedding", dim=12, bits=10, vectorized=True
        ).collect()
    }
    b = {
        r.vec_id: r.lsh_bucket
        for r in with_lsh_bucket(
            df, "embedding", dim=12, bits=10, vectorized=False
        ).collect()
    }
    assert a == b
