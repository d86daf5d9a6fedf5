"""Text dedup + analysis operators vs hand-computed / pure-python expectations."""

import collections

import numpy as np
from pyspark.sql import functions as F

from crawlingathome_worker_spark.operators.textdedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
)
from crawlingathome_worker_spark.operators.textstats import (
    with_bpe_estimate,
    with_lang_pred,
    with_quality,
    with_token_count,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat near the river bank today"),  # near dup of 0
    (3, "completely different words about mountain snow ice wind cold winter storm"),
    (4, "another unrelated document with table scan join merge sort hash group"),
    (5, ""),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    groups = {r["keeper"]: r["n_dups"] for r in exact_dedup_groups(_docs(spark)).collect()}
    assert groups[0] == 2  # docs 0 and 1 collapse
    kept = {r["doc_id"] for r in exact_dedup(_docs(spark)).collect()}
    assert kept == {0, 2, 3, 4, 5}  # first-id-wins


def test_minhash_estimates_jaccard(spark):
    sigs = minhash_signatures(_docs(spark), num_perm=128, shingle_len=3)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(sigs, bands=32, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs → identical signatures
    assert (0, 2) in pairs  # near-dup found via banding
    # true 3-shingle jaccard of (0,2): 13 shingles each, differing around 1 token
    assert 0.3 <= pairs[(0, 2)] <= 0.9
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_simhash(spark):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(_docs(spark)).collect()}
    assert fps[0] == fps[1]  # identical text → identical fingerprint
    near = bin((fps[0] ^ fps[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    far = bin((fps[0] ^ fps[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert near < far
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(simhash_fingerprints(_docs(spark)), max_hamming=near).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs


def test_ngram_jaccard_exact(spark):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.1).collect()
    }
    # pure-python truth
    def grams(t, n=3):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    for (a, b), j in got.items():
        ga, gb = grams(DOCS[a][1]), grams(DOCS[b][1])
        true_j = len(ga & gb) / len(ga | gb)
        assert abs(j - true_j) < 1e-9, (a, b)
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got


def test_token_count_and_quality(spark):
    rows = {r["doc_id"]: r for r in with_quality(with_token_count(_docs(spark))).collect()}
    assert rows[0]["n_tokens"] == len(DOCS[0][1].split())
    assert rows[5]["n_tokens"] == 0
    assert 0.0 <= rows[0]["quality"] <= 1.0
    assert rows[0]["stopword_ratio"] > rows[3]["stopword_ratio"]  # 'the/over/near' hits


def test_lang_pred_consistent_with_shared_module(spark):
    from crawlingathome_worker_spark.functions.langid import detect_lang

    rows = with_lang_pred(_docs(spark)).collect()
    for r in rows:
        assert r["lang_pred"] == detect_lang(DOCS[r["doc_id"]][1])


def test_bpe_estimate_monotone(spark):
    rows = {r["doc_id"]: r["bpe_tokens"] for r in with_bpe_estimate(_docs(spark)).collect()}
    assert rows[0] >= len(DOCS[0][1].split())  # at least one per word
    assert rows[5] == 0


def test_simhash_banding_complete_at_any_radius(spark, small_arrow_batches):
    """Pigeonhole banding (bands = r+1) must have FULL candidate recall — the
    round-1 fixed 4×16 banding silently missed 62% of radius-8 pairs. Checked
    against a brute-force all-pairs scan at a radius above the classic 3.

    The same fingerprints also go through phash_near_pairs with long and with
    string ids. Arrow batches of 7 rows put many buckets in each batch and
    split the larger buckets across batches, so the bucket-local executor's
    carry of the open bucket is checked against brute force too."""
    import itertools

    from crawlingathome_worker_spark.operators.imagededup import phash_near_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    radius = 6
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin((fps[a] ^ fps[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= radius
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(simhash_fingerprints(docs), max_hamming=radius).collect()
    }
    assert len(brute) > 100
    assert got == brute

    # a bucket larger than one batch must span a batch boundary; the buckets
    # are hash64_band_chunks at radius 6: bit-bands of widths 10, 9, …, 9
    widths = [10] + [9] * 6
    starts = itertools.accumulate([0] + widths[:-1])
    bucket_sizes = collections.Counter(
        (band, (fp & 0xFFFFFFFFFFFFFFFF) >> start & ((1 << width) - 1))
        for band, (start, width) in enumerate(zip(starts, widths))
        for fp in fps.values()
    )
    assert max(bucket_sizes.values()) > small_arrow_batches

    hashes = spark.createDataFrame(list(fps.items()), "doc_id long, phash long")
    got_long = {
        (r["id_a"], r["id_b"])
        for r in phash_near_pairs(hashes, id_col="doc_id", max_hamming=radius).collect()
    }
    assert got_long == brute
    keyed = hashes.select(F.col("doc_id").cast("string").alias("key"), "phash")
    got_str = {
        (r["id_a"], r["id_b"])
        for r in phash_near_pairs(keyed, id_col="key", max_hamming=radius).collect()
    }
    assert got_str == {tuple(sorted((str(a), str(b)))) for a, b in brute}


def test_corpus_profile_approx_within_rank_error(spark):
    """corpus_profile approx mode (the unbounded-stratum scale path) must
    land within the sketch's rank-error bound of the exact mode it mirrors;
    n and mean are sketch-free and must match exactly."""
    import os

    from crawlingathome_worker_spark.operators.textstats import corpus_profile

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    exact = {r["lang"]: r for r in corpus_profile(docs, "lang", "n_chars").collect()}
    approx = {
        r["lang"]: r
        for r in corpus_profile(docs, "lang", "n_chars", exact=False).collect()
    }
    assert exact.keys() == approx.keys()
    vals = {}
    for row in docs.select("lang", "n_chars").collect():
        vals.setdefault(row["lang"], []).append(row["n_chars"])
    for lang, e in exact.items():
        a = approx[lang]
        assert a["n"] == e["n"] and a["mean"] == e["mean"]
        xs = sorted(vals[lang])
        for p, col in ((0.5, "p50"), (0.9, "p90")):
            # approx returns an actual element whose rank is within
            # n * (1/accuracy) of the target rank — with accuracy 10k and
            # n ≤ a few hundred this means an element adjacent to the
            # exact interpolated value
            lo = xs[max(0, int((len(xs) - 1) * p) - 1)]
            hi = xs[min(len(xs) - 1, int((len(xs) - 1) * p) + 2)]
            assert lo <= a[col] <= hi, (lang, col, a[col], lo, hi)
