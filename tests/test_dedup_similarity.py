"""Semantic tests for the training-data operators: do they actually find
planted duplicates/neighbors (beyond the driver's engine-vs-oracle parity)."""

import pytest
from pyspark.sql import functions as F

from tribeca_insights_spark.operators.dedup import (
    char_shingles,
    exact_dedup,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash32,
    simhash_near_pairs,
)
from tribeca_insights_spark.operators.multimodal import media_metadata
from tribeca_insights_spark.operators.similarity import (
    ann_bruteforce_topk,
    ann_bucketed_topk,
    embedding_near_dup_pairs,
)
from tribeca_insights_spark.operators.textstats import (
    lang_guess,
    quality_scores,
    token_counts,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and dreams of distant mice"
    )
    rows = [
        (1, base),
        (2, base.replace("warm", "cold")),  # near-dup of 1
        (3, "completely different content about spark query engines and "
            "distributed columnar execution at terabyte scale"),
        (4, base),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, tok_str string")


def test_exact_dedup_groups(spark, near_dup_docs):
    out = {
        r["keeper_id"]: r["n_dups"]
        for r in exact_dedup(near_dup_docs, text_col="tok_str").collect()
    }
    assert out[1] == 1  # docs 1 and 4 collapse
    assert out[2] == 0 and out[3] == 0


def test_minhash_lsh_finds_near_dup(near_dup_docs):
    sh = char_shingles(near_dup_docs, text_col="tok_str", k=12)
    bands = lsh_bands(minhash_signatures(sh, n_hashes=12), rows_per_band=3)
    pairs = {(r["a_id"], r["b_id"]) for r in lsh_candidate_pairs(bands).collect()}
    assert (1, 4) in pairs  # identical docs always collide
    assert (1, 2) in pairs  # one-word edit: high jaccard, should collide
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_values(near_dup_docs):
    sh = char_shingles(near_dup_docs, text_col="tok_str", k=12)
    j = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh).collect()
    }
    assert j[(1, 4)] == 1.0
    assert j[(1, 2)] > 0.7
    assert j.get((1, 3), 0.0) < 0.05


def test_simhash_hamming(spark, near_dup_docs):
    tc = (
        near_dup_docs.select(
            "doc_id", F.explode(F.split("tok_str", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    sim = simhash32(tc)
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[1] == vals[4]
    assert 0 <= bin(vals[1] ^ vals[2]).count("1") <= 8  # near-dup: small distance
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_near_pairs(sim, max_hamming=8).collect()
    }
    assert pairs.get((1, 4)) == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.5]),
        (1, [0.99, -0.01, 0.0, 0.5]),  # near 0 (same sign pattern)
        (2, [0.0, 1.0, 0.0, -0.5]),
        (3, [0.0, 0.98, 0.05, -0.5]),  # near 2
        (4, [-1.0, -1.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_bruteforce(vectors):
    out = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_bruteforce_topk(vectors, [0, 2], k=2).collect()
    }
    assert out[(0, 1)] == 1
    assert out[(2, 1)] == 3


def test_ann_bucketed_matches_bruteforce_within_bucket(vectors):
    out = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_bucketed_topk(vectors, [0], k=1, bits=4).collect()
    }
    assert out[(0, 1)] == 1  # same sign pattern → same bucket


def test_embedding_near_dups(vectors):
    pairs = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in embedding_near_dup_pairs(vectors, threshold=0.99).collect()
    }
    assert (0, 1) in pairs
    assert all(s >= 0.99 for s in pairs.values())


def test_textstats(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog and the bird of this house"),
            (2, "der hund und die katze und das haus nicht hier"),
            (3, "xy"),
        ],
        "doc_id long, text string",
    )
    lg = {r["doc_id"]: r["lang_guess"] for r in lang_guess(docs).collect()}
    assert lg[1] == "en" and lg[2] == "de" and lg[3] == "none"
    qs = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert qs[1]["n_words"] == 11 and qs[1]["quality_ok"]
    assert not qs[3]["quality_ok"]
    tc = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert tc[1]["n_ws_tokens"] == 11
    assert tc[3]["n_word_tokens"] == 1


def test_multimodal_stub_plumbing(spark):
    media = spark.createDataFrame(
        [(1, b"fake-image-bytes"), (2, b"")], "media_id long, payload binary"
    )
    out = {r["media_id"]: r for r in media_metadata(media).collect()}
    assert out[1]["n_bytes"] == 16
    assert out[1]["format_guess"] in ("png", "jpeg", "webp")
    assert 64 <= out[1]["width"] < 256
    # fabricated fallback rows are flagged (VERDICT-r4 #3): a corrupt
    # payload must be filterable, never silently real-looking
    assert out[1]["is_sniffed"] is False and out[2]["is_sniffed"] is False


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF (KMeans cells + multi-probe) must recover most of the exact
    top-k: recall@5 ≥ 0.6 with 16 cells / 6 probes on the test embeddings.
    The synthetic vectors are near-random (worst case for any cell
    quantizer — real text/image embeddings cluster far better), so recall
    tracks probed-fraction: measured 0.48 / 0.68 / 0.78 at 3 / 6 / 8
    probes of 16 cells."""
    from tribeca_insights_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = range(10)
    exact = ann_bruteforce_topk(emb, queries, k=5).collect()
    approx = ann_ivf_topk(emb, queries, k=5, n_cells=16, n_probe=6).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall {recall}"
    # determinism: same seed → same result
    again = ann_ivf_topk(emb, queries, k=5, n_cells=16, n_probe=6).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ann_ivf_grid_hamming2_recall(spark, sf_dir):
    """Grid IVF multi-probe widening: Hamming-2 probes (1 + bits +
    C(bits,2) cells) must recover at least the Hamming-1 recall vs exact
    brute force, strictly widening the candidate set; hamming>2 raises."""
    from tribeca_insights_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_grid_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = range(10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in ann_bruteforce_topk(emb, queries, k=5).collect()}

    def recall(h):
        got = {(r["query_id"], r["neighbor_id"])
               for r in ann_ivf_grid_topk(emb, queries, k=5, bits=4,
                                          hamming=h).collect()}
        return len(exact & got) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, f"hamming-2 recall {r2} < hamming-1 {r1}"
    # 4 bits, hamming 2 → 1+4+6 = 11 of 16 cells probed: high recall
    assert r2 >= 0.6, f"recall {r2}"
    with pytest.raises(ValueError, match="hamming"):
        ann_ivf_grid_topk(emb, queries, k=5, bits=4, hamming=3).collect()


def test_gopher_flags_edges(spark):
    from tribeca_insights_spark.operators.textstats import gopher_quality_flags

    rows = [
        (1, "word " * 60),                      # passes count, short words
        (2, "# # # " + "chapter " * 60),        # symbols but diluted
        (3, "only four tiny words"),            # fails word count
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert out[1]["ok_word_count"] and not out[3]["ok_word_count"]
    assert out[1]["ok_alpha_ratio"]
    assert out[2]["symbol_word_ratio"] > 0
    assert not out[3]["gopher_ok"]


def test_repetition_stats_edges(spark):
    from tribeca_insights_spark.operators.textstats import repetition_stats

    rows = [
        (1, "a b\na b\na b"),          # 3 identical lines -> dup ratio 2/3
        (2, "x y z w"),                # no newlines, all-distinct bigrams
        (3, "spam spam spam spam"),    # one bigram repeated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_lines"] == 3 and abs(out[1]["dup_line_ratio"] - 2 / 3) < 1e-3
    assert out[2]["dup_line_ratio"] == 0.0
    assert out[3]["top_bigram_ratio"] == 1.0  # "spam spam" x3 of 3 bigrams


def test_connected_components_clusters(spark):
    from tribeca_insights_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)], ["a_id", "b_id"]
    )
    cc = {r["node"]: r["rep"] for r in connected_components(pairs).collect()}
    assert cc[1] == cc[2] == cc[3] == cc[9] == 1  # chain + extra edge
    assert cc[5] == cc[6] == 5
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 9]], ["doc_id"])
    clusters = dedup_clusters(pairs, ids)  # cached per contract
    lab = {r["doc_id"]: (r["rep"], r["is_keeper"])
           for r in clusters.collect()}
    clusters.unpersist()
    assert lab[7] == (7, True)  # singleton keeps itself
    assert lab[3] == (1, False)
    assert lab[1] == (1, True)
    keepers = [d for d, (_, k) in lab.items() if k]
    assert sorted(keepers) == [1, 5, 7]


def test_connected_components_guards(spark):
    """max_iter < 1 must raise up front (a zero-round run would hand back
    identity labels with no convergence check), and the temporarily-clamped
    shuffle.partitions conf must be restored afterwards."""
    import pytest

    from tribeca_insights_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2)], ["a_id", "b_id"])
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    connected_components(pairs).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # non-convergence bound still raises (deep chain, 1 round allowed)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["a_id", "b_id"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_paragraph_dedup(spark):
    from pyspark.sql import functions as F

    from tribeca_insights_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha one\nSHARED\nunique to one"),
        (2, "beta two\nSHARED\nunique to two"),
        (3, "gamma three only\n\n  "),  # blank paras dropped pre-count
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["kept_text"] == "alpha one\nunique to one"
    assert out[1]["n_dropped"] == 1 and out[1]["n_paras"] == 3
    assert out[2]["kept_text"] == "beta two\nunique to two"
    assert out[3]["kept_text"] == "gamma three only"
    assert out[3]["n_dropped"] == 0 and out[3]["n_paras"] == 1


def test_decontaminate(spark):
    from tribeca_insights_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o"),   # contains bench 13-gram
            (2, "x y z totally different words here no overlap at all ok fine"),
            (3, "a b c"),                            # too short for any 13-gram
        ],
        "doc_id long, tokens_str string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h i j k l m")], "doc_id long, tokens_str string"
    )
    got = {(r["corpus_id"], r["benchmark_id"]): r["n_shared"]
           for r in decontaminate(corpus, bench, n=13).collect()}
    assert got == {(1, 100): 1}


# --- exact substring dedup ----------------------------------------------------


def test_exact_substring_keep_first(spark):
    from tribeca_insights_spark.operators.dedup import dedup_exact_substring

    shared = "one two three four"  # the only duplicated 4-gram: the
    # flanking tokens differ on both sides, so no overlapping gram is
    # shared and exactly these 4 positions are covered in doc 2
    rows = [
        (1, f"intro words {shared} alpha beta"),
        (2, f"other start {shared} gamma delta"),
        (3, "completely unrelated text here now"),
        (4, "tiny doc"),  # shorter than k: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in dedup_exact_substring(df, k=4).collect()}
    # doc 1 holds the canonical (min doc_id) occurrence: fully kept
    assert out[1].deduped_text == rows[0][1] and out[1].n_removed == 0
    # doc 2 loses exactly the 4 shared tokens
    assert shared not in out[2].deduped_text
    assert out[2].deduped_text == "other start gamma delta"
    assert out[2].n_removed == 4
    assert out[3].n_removed == 0
    assert out[4].deduped_text == "tiny doc" and out[4].n_tokens == 2


def test_exact_substring_empty_doc_zero_tokens(spark):
    # ADVICE r3: empty / whitespace-only documents must report
    # n_tokens=0 (split(trim('')) yields [''] without the filter)
    from tribeca_insights_spark.operators.dedup import dedup_exact_substring

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two  spaced   words")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in dedup_exact_substring(df, k=4).collect()}
    assert out[1].n_tokens == 0 and out[1].n_removed == 0
    assert out[1].deduped_text == ""
    assert out[2].n_tokens == 0 and out[2].deduped_text == ""
    # runs of spaces collapse: 3 real tokens, none removed
    assert out[3].n_tokens == 3
    assert out[3].deduped_text == "two spaced words"


def test_exact_substring_full_coverage_empties_doc(spark):
    from tribeca_insights_spark.operators.dedup import dedup_exact_substring

    t = "a b c d e"
    df = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in dedup_exact_substring(df, k=5).collect()}
    assert out[1].deduped_text == t
    assert out[2].deduped_text == "" and out[2].n_removed == 5


def test_exact_substring_within_doc_repeat(spark):
    from tribeca_insights_spark.operators.dedup import dedup_exact_substring

    # the same 3-gram twice INSIDE one document: first occurrence is
    # canonical, the second is excised
    df = spark.createDataFrame(
        [(1, "x y z pad pad x y z")], "doc_id int, text string"
    )
    r = dedup_exact_substring(df, k=3).first()
    assert r.deduped_text == "x y z pad pad"
    assert r.n_removed == 3


def test_exact_substring_hashed_grams_identical(spark):
    from tribeca_insights_spark.operators.dedup import dedup_exact_substring

    df = spark.createDataFrame(
        [
            (1, "intro words one two three four alpha beta"),
            (2, "other start one two three four gamma delta"),
            (3, "a b c d e"),
            (4, "a b c d e"),
        ],
        "doc_id int, text string",
    )
    plain = sorted(
        tuple(r) for r in dedup_exact_substring(df, k=4).collect()
    )
    hashed = sorted(
        tuple(r)
        for r in dedup_exact_substring(df, k=4, hash_grams=True).collect()
    )
    assert plain == hashed


# --- incremental (cross-run) dedup against a persisted index -----------------


def _bands_of(df):
    from tribeca_insights_spark.operators.dedup import (
        char_shingles,
        lsh_bands,
        minhash_signatures,
    )

    return lsh_bands(
        minhash_signatures(char_shingles(df, text_col="text", k=8),
                           n_hashes=12),
        rows_per_band=3,
    )


def test_incremental_dedup_against_index(spark, tmp_path):
    from tribeca_insights_spark.operators.dedup import (
        dedup_against_index,
        index_increment,
    )

    dup_text = "identical long payload text shared between run one and two"
    run1 = spark.createDataFrame(
        [(1, dup_text), (2, "first run only content alpha beta gamma")],
        "doc_id int, text string",
    )
    # run 1 persists ONLY its band index — text stays behind
    idx_path = str(tmp_path / "band_index")
    _bands_of(run1).write.parquet(idx_path)

    run2 = spark.createDataFrame(
        [(10, dup_text),
         (11, "completely fresh second run content delta epsilon zeta")],
        "doc_id int, text string",
    )
    index = spark.read.parquet(idx_path)
    verdicts = dedup_against_index(_bands_of(run2), index)
    got = {r.doc_id: r for r in verdicts.collect()}
    assert got[10].is_dup is True and got[10].matched_old_id == 1
    assert got[11].is_dup is False and got[11].matched_old_id is None

    # the index increment carries ONLY kept docs' bands; appending it
    # makes a run-3 copy of doc 11 a duplicate
    inc = index_increment(_bands_of(run2), verdicts)
    assert {r.doc_id for r in inc.select("doc_id").distinct().collect()} == {11}
    inc.write.mode("append").parquet(idx_path)
    run3 = spark.createDataFrame(
        [(20, "completely fresh second run content delta epsilon zeta")],
        "doc_id int, text string",
    )
    v3 = dedup_against_index(
        _bands_of(run3), spark.read.parquet(idx_path)
    ).first()
    assert v3.is_dup is True and v3.matched_old_id == 11


def test_incremental_dedup_never_scans_run1_text(spark, tmp_path):
    # VERDICT r3 #4 'done' condition: run 2 touches only run-2 docs and
    # the persisted INDEX — the run-1 text parquet must not appear
    # anywhere in run 2's plan
    from tribeca_insights_spark.operators.dedup import dedup_against_index

    run1 = spark.createDataFrame(
        [(1, "run one text that must never be rescanned later")],
        "doc_id int, text string",
    )
    run1_docs = str(tmp_path / "run1_docs")
    idx_path = str(tmp_path / "band_index")
    run1.write.parquet(run1_docs)
    _bands_of(spark.read.parquet(run1_docs)).write.parquet(idx_path)

    run2_docs = str(tmp_path / "run2_docs")
    spark.createDataFrame(
        [(10, "run two text arriving in the next ingestion batch")],
        "doc_id int, text string",
    ).write.parquet(run2_docs)

    verdicts = dedup_against_index(
        _bands_of(spark.read.parquet(run2_docs)),
        spark.read.parquet(idx_path),
    )
    qe = verdicts._jdf.queryExecution()
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        qe, "formatted"
    )
    assert "band_index" in plan and "run2_docs" in plan
    assert "run1_docs" not in plan


def test_dhash_near_pairs_upscaled_and_reencoded(spark):
    # VERDICT r3 #5: near-identical PNGs (re-encode / 2x upscale) must
    # pair through the band equi-join; a visually different image must not
    from tribeca_insights_spark.imagex import encode_png, resize_nearest
    from tribeca_insights_spark.operators.dedup import dhash_near_pairs
    from tribeca_insights_spark.operators.multimodal import image_dhash

    base = bytes((x * 13 + y * 7) % 256 for y in range(16) for x in range(18))
    other = bytes((x * 90 + y * 55 + 31) % 256
                  for y in range(16) for x in range(18))
    rows = [
        (1, bytearray(encode_png(base, 18, 16, 1))),
        (2, bytearray(encode_png(
            resize_nearest(base, 18, 16, 1, 36, 32), 36, 32, 1))),
        (3, bytearray(encode_png(other, 18, 16, 1))),
        (4, None),  # undecodable → NULL hash → excluded, not crashed
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {
        (r.a_id, r.b_id): r.hamming
        for r in dhash_near_pairs(
            image_dhash(media).select("media_id", "dhash"), max_hamming=2
        ).collect()
    }
    assert pairs.get((1, 2)) == 0  # upscale+re-encode: identical hash
    assert all(3 not in p and 4 not in p for p in pairs)


def test_embedding_near_dup_vectorized_equals_expression(spark, sf_dir):
    from tribeca_insights_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    dups = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    allv = emb.unionByName(dups)
    kw = dict(threshold=0.99, max_left_id=60)
    fast = {(r.a_id, r.b_id): r.sim
            for r in embedding_near_dup_pairs(allv, vectorized=True,
                                              **kw).collect()}
    slow = {(r.a_id, r.b_id): r.sim
            for r in embedding_near_dup_pairs(allv, vectorized=False,
                                              **kw).collect()}
    assert fast == slow
    assert len(fast) >= 10  # every synthesized dup pair fires


def test_kmeans_assign_deterministic_and_partitioning(spark, sf_dir):
    from tribeca_insights_spark.operators.kmeans import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {r.vec_id: (r.cid, r.dist2)
           for r in kmeans_assign(emb, k=4, iters=2).collect()}
    assert len(out) == emb.count()
    # all k clusters non-trivially populated on real data
    from collections import Counter

    sizes = Counter(c for c, _ in out.values())
    assert set(sizes) == {0, 1, 2, 3}
    # deterministic under re-sharding: same seeds, same rounds, same result
    again = {r.vec_id: (r.cid, r.dist2)
             for r in kmeans_assign(emb.repartition(7), k=4,
                                    iters=2).collect()}
    assert again == out
    # one more round never increases a doc's own distance on average
    # (Lloyd monotonicity holds up to integer-floor noise; check the mean)
    three = {r.vec_id: r.dist2
             for r in kmeans_assign(emb, k=4, iters=3).collect()}
    mean2 = sum(d for _, d in out.values()) / len(out)
    mean3 = sum(three.values()) / len(three)
    assert mean3 <= mean2 * 1.001


def test_ann_ivf_trained_shape_and_recall(spark, sf_dir):
    from tribeca_insights_spark.operators.kmeans import (
        ann_ivf_trained_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ann_ivf_trained_topk(emb, query_ids=[1, 2, 3], k=5, n_cells=4,
                               iters=2, n_probe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {1, 2, 3}
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        dists = [r.dist2 for r in rows]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != r.query_id for r in rows)
    # probing 2/4 trained cells must beat random-half recall on average:
    # the rank-1 candidate should be the TRUE nearest for most queries
    from tribeca_insights_spark.operators.kmeans import (
        kmeans_fit, _assign, _dist2,
    )
    from pyspark.sql import functions as F

    base, _ = kmeans_fit(emb, k=4, iters=2)
    truth = {}
    for qid in (1, 2, 3):
        qv = base.filter(F.col("vec_id") == qid).head()[1]
        d = base.filter(F.col("vec_id") != qid).select(
            "vec_id",
            _dist2(F.col("v"), F.lit(qv).cast("array<long>")).alias("d2"),
        ).orderBy("d2", "vec_id").head()
        truth[qid] = d["vec_id"]
    hits = sum(1 for qid in (1, 2, 3)
               if by_q[qid][0].neighbor_id == truth[qid])
    assert hits >= 2


def test_pq_codes_closed_form_and_plan(spark, sf_dir):
    from pyspark.sql import functions as F

    from tribeca_insights_spark.operators.kmeans import pq_codes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {r.vec_id: r for r in pq_codes(emb, m=4, k=4, iters=1).collect()}
    assert len(out) == emb.count()
    for r in out.values():
        assert len(r.codes) == 4
        assert all(0 <= c <= 3 for c in r.codes)
        assert r.recon_err >= 0
    # deterministic under re-sharding
    again = {r.vec_id: (list(r.codes), r.recon_err) for r in
             pq_codes(emb.repartition(7), m=4, k=4, iters=1).collect()}
    assert again == {v: (list(r.codes), r.recon_err)
                     for v, r in out.items()}
    # m must divide the dimension
    import pytest as _pt
    with _pt.raises(ValueError):
        pq_codes(emb, m=5)
    # subspace codes = kmeans over the slice: check subspace 0 directly
    from tribeca_insights_spark.operators.kmeans import kmeans_assign
    sl = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    sub0 = {r.vec_id: r.cid
            for r in kmeans_assign(sl, k=4, iters=1).collect()}
    assert all(out[v].codes[0] == sub0[v] for v in out)


def test_kmeans_plan_no_window(spark, sf_dir):
    from tribeca_insights_spark.operators.kmeans import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = kmeans_assign(emb, k=4, iters=1)._jdf.queryExecution() \
        .executedPlan().toString()
    # seed ranking is pack/posexplode, not an unpartitioned window
    assert "Window" not in plan


# --- prefix-filtered exact Jaccard join (q129) ------------------------------


def _token_sets(spark, sets):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(doc_id=i, token=t) for i, toks in sets for t in toks]
    )


def test_prefix_jaccard_matches_bruteforce(spark):
    """The prefix filter must lose NO qualifying pair — compare against
    brute force over every pair on a corpus designed with overlapping
    mid-similarity sets (the regime where a buggy prefix bound bites)."""
    from itertools import combinations

    from tribeca_insights_spark.operators.dedup import prefix_jaccard_join

    sets = [
        (0, {"a", "b", "c", "d"}),
        (1, {"a", "b", "c", "e"}),          # J(0,1)=3/5=0.6
        (2, {"a", "b", "x", "y", "z"}),     # J(0,2)=2/7
        (3, {"p", "q", "r"}),
        (4, {"p", "q", "r"}),               # J(3,4)=1.0
        (5, {"a", "b", "c", "d"}),          # J(0,5)=1.0
        (6, {"m", "n"}),
        (7, {"m", "n", "o"}),               # J(6,7)=2/3
    ]
    t = 0.5
    expect = set()
    for (i, A), (j, B) in combinations(sets, 2):
        inter = len(A & B)
        union = len(A | B)
        if inter / union >= t:
            expect.add((min(i, j), max(i, j), inter, union))
    got = {
        (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
        for r in prefix_jaccard_join(
            _token_sets(spark, sets), threshold_micros=500_000
        ).collect()
    }
    # (0,1), (1,5), (3,4), (0,5), (6,7)
    assert got == expect and len(got) == 5


def test_prefix_jaccard_threshold_boundary(spark):
    """inter*1e6 >= t*union is inclusive: J exactly at t is kept."""
    from tribeca_insights_spark.operators.dedup import prefix_jaccard_join

    # J = 1/2 exactly: {a,b} vs {a,c} -> inter 1, union 3 -> keep at 1/3
    sets = [(0, {"a", "b"}), (1, {"a", "c"})]
    rows = prefix_jaccard_join(
        _token_sets(spark, sets), threshold_micros=333_333
    ).collect()
    assert len(rows) == 1 and rows[0]["jaccard_micros"] == 333_333
    rows = prefix_jaccard_join(
        _token_sets(spark, sets), threshold_micros=333_334
    ).collect()
    assert rows == []


def test_prefix_jaccard_hot_token_not_a_key(spark):
    """A stopword shared by everyone lands in every doc's SUFFIX under
    rarest-first ordering, so it generates no candidate pairs on its
    own — the skew-resistance claim, checked behaviorally: two docs
    whose ONLY common token is the hot one and whose Jaccard is far
    below t produce no output pair (and no false negatives elsewhere)."""
    from tribeca_insights_spark.operators.dedup import prefix_jaccard_join

    sets = [(i, {"the", f"u{i}", f"v{i}", f"w{i}"}) for i in range(20)]
    out = prefix_jaccard_join(
        _token_sets(spark, sets), threshold_micros=500_000
    ).collect()
    assert out == []


def test_prefix_jaccard_duplicate_rows_collapse(spark):
    """Input with repeated (id, token) rows dedups before sizing."""
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.dedup import prefix_jaccard_join

    df = spark.createDataFrame(
        [Row(doc_id=0, token="a"), Row(doc_id=0, token="a"),
         Row(doc_id=0, token="b"), Row(doc_id=1, token="a"),
         Row(doc_id=1, token="b")]
    )
    rows = prefix_jaccard_join(df, threshold_micros=900_000).collect()
    assert len(rows) == 1
    assert rows[0]["n_inter"] == 2 and rows[0]["n_union"] == 2


def test_embedding_outliers_hand_case(spark):
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.kmeans import embedding_outliers

    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.0, 0.0], label=0),
            Row(vec_id=2, embedding=[0.0, 0.2], label=0),
            Row(vec_id=3, embedding=[0.0, 10.0], label=0),  # outlier
            Row(vec_id=4, embedding=[-1.0, -1.0], label=1),
            Row(vec_id=5, embedding=[-1.0, -1.1], label=1),
        ]
    )
    out = embedding_outliers(vecs, topk=1).collect()
    top = {r["label"]: r["vec_id"] for r in out}
    assert top[0] == 3
    assert top[1] in (4, 5)
    # centroid floor-div on NEGATIVE sums must floor, not truncate:
    # label-1 dim-1 sum = (-1000000) + (-1100000) = -2100000, n=2
    # -> centroid -1050000; dist2 for both = 50000^2
    d = {r["vec_id"]: r["dist2"] for r in out}
    assert d[top[1]] == 50_000 ** 2


def test_embedding_outliers_rank_determinism(spark):
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.kmeans import embedding_outliers

    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 2)], label=0)
         for i in range(6)]
    )
    a = [(r["vec_id"], r["rank"])
         for r in embedding_outliers(vecs, topk=3).collect()]
    b = [(r["vec_id"], r["rank"])
         for r in embedding_outliers(vecs, topk=3).collect()]
    assert sorted(a) == sorted(b)
    # equidistant vectors rank by vec_id ascending
    assert sorted(a)[0][0] < sorted(a)[1][0]


def test_dedup_eval_counts_and_ratios(spark):
    from tribeca_insights_spark.operators.dedup import dedup_eval

    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (6, 5), (7, 7)],  # dup + reversed + self
        "a_id long, b_id long",
    )
    truth = spark.createDataFrame(
        [(2, 1), (3, 4), (8, 9)], "a_id long, b_id long"
    )
    r = dedup_eval(cand, truth).collect()[0]
    # canonical candidates: {1-2, 3-4, 5-6}; truth: {1-2, 3-4, 8-9}
    assert (r["n_candidates"], r["n_truth"]) == (3, 3)
    assert (r["tp"], r["fp"], r["fn"]) == (2, 1, 1)
    assert r["precision_micros"] == 2 * 1_000_000 // 3
    assert r["recall_micros"] == 2 * 1_000_000 // 3


def test_dedup_eval_empty_sets_null_ratios(spark):
    from tribeca_insights_spark.operators.dedup import dedup_eval

    empty = spark.createDataFrame([], "a_id long, b_id long")
    truth = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    r = dedup_eval(empty, truth).collect()[0]
    assert (r["n_candidates"], r["tp"], r["fn"]) == (0, 0, 1)
    assert r["precision_micros"] is None
    assert r["recall_micros"] == 0


def test_gram_accumulation_first_bucket_owns_shared(spark):
    from tribeca_insights_spark.operators.dedup import (
        gram_accumulation_curve,
    )

    shared = " ".join(f"w{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(0, shared), (1, shared),                       # bucket 0 & 1
         (2, " ".join(f"x{i}" for i in range(13)))],     # bucket 2
        "doc_id long, text string",
    )
    out = {r["bucket"]: (r["n_new_grams"], r["cum_new_grams"])
           for r in gram_accumulation_curve(docs, n=13,
                                            n_buckets=3).collect()}
    # the shared gram is NEW only in bucket 0; bucket 1 adds nothing
    # (and emits no row); bucket 2 adds its own gram
    assert out[0] == (1, 1)
    assert 1 not in out
    assert out[2] == (1, 2)


def test_gram_accumulation_plan_no_window(spark):
    from tribeca_insights_spark.operators.dedup import (
        gram_accumulation_curve,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(15)))],
        "doc_id long, text string",
    )
    p = gram_accumulation_curve(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "WindowExec" not in p


def test_containment_matches_bruteforce(spark):
    """Directed containment must lose NO qualifying ordered pair —
    compare against brute force, including the asymmetric case a
    symmetric Jaccard join misses (a small set fully inside a big
    one)."""
    from itertools import permutations

    from tribeca_insights_spark.operators.dedup import containment_join

    sets = [
        (0, {"a", "b"}),                         # fully inside 1 and 2
        (1, {"a", "b", "c", "d", "e", "f"}),     # C(0->1)=1, C(1->0)=1/3
        (2, {"a", "b", "x", "y", "z", "w", "v", "u", "t", "s"}),
        (3, {"p", "q", "r", "s"}),
        (4, {"p", "q", "r", "s"}),               # both directions 1.0
        (5, {"p", "q", "r", "k", "l"}),          # C(3->5)=3/4
        (6, {"m"}),
        (7, {"m", "n"}),                         # C(6->7)=1, C(7->6)=1/2
    ]
    t = 0.75
    expect = set()
    for (i, A), (j, B) in permutations(sets, 2):
        if len(A & B) / len(A) >= t:
            expect.add((i, j, len(A & B), len(A)))
    got = {
        (r["a_id"], r["b_id"], r["n_inter"], r["n_a"])
        for r in containment_join(
            _token_sets(spark, sets), threshold_micros=750_000
        ).collect()
    }
    # (0,1) (0,2) (3,4) (4,3) (3,5) (4,5) (6,7) — note (5,3)/(5,4) are
    # 3/5 < t and (1,0)/(2,0)/(7,6) fail: asymmetry exercised both ways
    assert got == expect and len(got) == 7


def test_containment_threshold_boundary(spark):
    """n_inter·1e6 ≥ t·n_a must be inclusive at exact equality."""
    from tribeca_insights_spark.operators.dedup import containment_join

    sets = [(0, {"a", "b", "c", "d"}), (1, {"a", "b", "c", "z", "y"})]
    # C(0->1) = 3/4 exactly
    rows = containment_join(
        _token_sets(spark, sets), threshold_micros=750_000
    ).collect()
    assert {(r["a_id"], r["b_id"]) for r in rows} == {(0, 1)}
    assert rows[0]["containment_micros"] == 750_000
    rows = containment_join(
        _token_sets(spark, sets), threshold_micros=750_001
    ).collect()
    assert rows == []


def test_containment_hot_token_not_a_key(spark):
    """A corpus-wide stopword must never survive as a join key: the
    contained side's prefixes exclude it (rarest-first ordering) and
    the containing side is semi-join-pruned to prefix tokens."""
    from tribeca_insights_spark.operators.dedup import containment_join

    sets = [(i, {"the", f"u{i}", f"v{i}", f"w{i}"}) for i in range(12)]
    out = containment_join(_token_sets(spark, sets),
                           threshold_micros=500_000)
    assert out.collect() == []  # only 'the' is shared: C = 1/4 < 0.5


def test_banded_jaccard_matches_exact_join(spark, sf_dir):
    """banded_jaccard_pairs (q357, the BENCH_sf1 cutover) must recover the
    exact All-Pairs join's qualifying pairs on the test corpus — same
    output schema, same rows where LSH recall holds (it does here)."""
    from pyspark.sql import functions as F

    from tribeca_insights_spark.operators.dedup import (
        banded_jaccard_pairs,
        char_shingles,
        prefix_jaccard_join,
    )

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.col("text").alias("tokens_str"))
    )
    sh = char_shingles(d)
    exact = {
        (r["a_id"], r["b_id"], r["jaccard_micros"])
        for r in prefix_jaccard_join(sh, threshold_micros=500_000,
                                     token_col="gram").collect()
    }
    banded = {
        (r["a_id"], r["b_id"], r["jaccard_micros"])
        for r in banded_jaccard_pairs(sh, threshold_micros=500_000)
        .collect()
    }
    assert banded == exact and len(exact) > 0


def test_banded_jaccard_plan_shape(spark, sf_dir):
    """Candidate generation must be band-bucket equi-joins — no cartesian
    or nested-loop anywhere in the composition."""
    from pyspark.sql import functions as F

    from tribeca_insights_spark.operators.dedup import (
        banded_jaccard_pairs,
        char_shingles,
    )

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.col("text").alias("tokens_str"))
    )
    p = (banded_jaccard_pairs(char_shingles(d))
         ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_semdedup_auto_k(spark):
    """k='auto' applies the paper's k ∝ N rule (floor 8) and still
    flags the planted duplicate."""
    import math

    from pyspark.sql import Row

    from tribeca_insights_spark.operators.semdedup import semdedup

    rows = []
    for i in range(40):
        v = [math.sin(i * 7.1 + j) for j in range(8)]
        rows.append(Row(vec_id=i, embedding=v))
    rows.append(Row(vec_id=100, embedding=[x * 1.0001 for x in rows[3]["embedding"]]))
    out = {r["vec_id"]: r["keep"]
           for r in semdedup(spark.createDataFrame(rows), k="auto",
                             tau=0.999).collect()}
    assert out[3] is True and out[100] is False


def test_semdedup_rejects_unknown_k(spark):
    """A k that is neither an int nor 'auto' fails fast, naming the value,
    before any Spark job runs."""
    import re

    from tribeca_insights_spark.operators.semdedup import semdedup

    emb = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    for bad in ("Auto", 8.0, None, True):
        with pytest.raises(TypeError, match=re.escape(repr(bad))):
            semdedup(emb, k=bad)
    assert set(tracker.getJobIdsForGroup()) == jobs_before


def test_survivor_weights_exact_inverse_counts(spark):
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.dedup import survivor_weights

    clusters = spark.createDataFrame([
        Row(doc_id=i, rep=rep)
        for rep, size in ((0, 3), (10, 1), (20, 7))
        for i in range(rep, rep + size)
    ])
    got = {r["doc_id"]: (r["multiplicity"], r["weight_micros"])
           for r in survivor_weights(clusters).collect()}
    assert got == {0: (3, 333333), 10: (1, 1000000), 20: (7, 142857)}
