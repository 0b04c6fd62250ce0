"""Dedup-tier behavior gates: JVM-side shingle hashing parity, MinHash LSH
recall on controlled near-duplicates, and partitioning-independence
(determinism) of the banded self-joins.
"""

import hashlib

import numpy as np
from pyspark.sql import functions as F


def test_md5_60_hasher_matches_python(spark):
    from geo_spark.operators.dedup import gram_hashes_col

    text = "hello world foo bar"
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(gram_hashes_col("text", 1, "md5_60").alias("h")).collect()[0]["h"]
    exp = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in text.split()]
    assert got == exp


def test_gram_hashes_trigram_assembly(spark):
    from geo_spark.operators.dedup import gram_hashes_col

    text = "a b  c d"  # double space must not produce empty tokens
    df = spark.createDataFrame([(text,), ("",), ("xy",)], "text string")
    got = df.select(gram_hashes_col("text", 3, "md5_60").alias("h")).collect()
    exp0 = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in ("a b c", "b c d")]
    assert got[0]["h"] == exp0
    assert got[1]["h"] == []  # empty text → empty array
    assert got[2]["h"] == [int(hashlib.md5(b"xy").hexdigest()[:15], 16)]  # short doc


def _near_dup_corpus(spark):
    rows = []
    for f in range(5):
        fam = " ".join(f"f{f}w{i}" for i in range(100))
        toks = fam.split()
        toks[10], toks[50], toks[90] = "x", "y", "z"  # Jaccard ≈ 0.84 vs fam
        rows += [(f * 10, fam), (f * 10 + 1, fam), (f * 10 + 2, " ".join(toks))]
    for j in range(40):
        rows.append((1000 + j, " ".join(f"r{j}_{i}" for i in range(100))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_recall_and_determinism(spark):
    from geo_spark.operators.dedup import minhash_lsh_pairs

    df = _near_dup_corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    for f in range(5):
        a, b, c = f * 10, f * 10 + 1, f * 10 + 2
        assert (a, b) in pairs  # exact duplicate: every band collides
        assert (a, c) in pairs and (b, c) in pairs  # near-dup at j≈0.84
    # no cross-family / random-doc false positives above the threshold
    assert all(abs(a - b) <= 2 for a, b in pairs)
    # identical output under a different partitioning (fixed hash constants)
    pairs2 = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df.repartition(7), threshold=0.5).collect()
    }
    assert pairs2 == pairs


def test_minhash_est_tracks_exact_jaccard(spark):
    from geo_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    df = _near_dup_corpus(spark)
    cand = minhash_lsh_pairs(df, threshold=0.5)
    verified = ngram_jaccard_pairs(df, cand.select("id_a", "id_b", "est_jaccard"))
    for r in verified.collect():
        assert abs(r["est_jaccard"] - r["jaccard"]) < 0.25, (
            r["id_a"], r["id_b"], r["est_jaccard"], r["jaccard"],
        )


def test_simhash_empty_and_short_docs(spark):
    from geo_spark.operators.dedup import simhash_fingerprints

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "one")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df).collect()}
    assert got[0] == 0 and got[1] == 0
    assert got[2] == got[3] != 0
    assert got[2] < (1 << 60)  # md5_60: only 60 informative bits


def test_cosine_near_pairs_planted_dups(spark):
    from geo_spark.operators.ann import cosine_near_pairs, sin_planes

    rng = np.random.RandomState(13)
    base = rng.standard_normal((120, 64))
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    # planted near-duplicates: small deterministic perturbation
    for i in range(0, 120, 20):
        v = base[i] + 0.05 * np.roll(base[i], 1)
        rows.append((1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_near_pairs(df, threshold=0.8, planes=sin_planes())
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(i, 1000 + i) for i in range(0, 120, 20)}
    # determinism under repartitioning
    out2 = cosine_near_pairs(df.repartition(5), threshold=0.8, planes=sin_planes())
    assert {(r["id_a"], r["id_b"]) for r in out2.collect()} == pairs


def test_duplicate_heavy_bucket_guard_is_linear(spark):
    from geo_spark.operators.dedup import minhash_lsh_pairs, simhash_near_pairs

    # 5k identical docs: all-pairs per band would be ~1.2e7 × 16 candidates;
    # the guard's identical-signature chain emits O(n) pairs instead
    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document text repeated verbatim here").alias("text"),
    )
    got = minhash_lsh_pairs(df, max_bucket=100).orderBy("id_a", "id_b")
    rows = got.collect()
    assert len(rows) == n - 1  # the sorted-id chain covers the clique
    assert all(r["est_jaccard"] == 1.0 for r in rows)
    assert rows[0]["id_a"] == 0 and rows[0]["id_b"] == 1

    sh = simhash_near_pairs(df.limit(2000), max_bucket=50)
    srows = sh.collect()
    assert len(srows) == 1999
    assert all(r["hamming"] == 0 for r in srows)


def test_bucket_guard_keeps_small_bucket_semantics(spark):
    from geo_spark.operators.dedup import minhash_lsh_pairs

    # mixed corpus: results with a huge cap == results with a small cap for
    # buckets under the cap; near-dup pair recall is unaffected
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i}") for i in range(20)]
    rows += [(100, base), (101, base), (102, base + " x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, threshold=0.5).collect()}
    b = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, threshold=0.5, max_bucket=100000).collect()
    }
    assert a == b and (100, 101) in a


def test_dedup_tiered_cascade(spark):
    from geo_spark.operators.dedup import dedup_tiered

    # corpus: 0-2 identical ("exact" victims 1,2), 3 a one-word edit of 0
    # (caught by simhash or minhash), 10-12 unique docs, 20-24 identical
    # block ("exact" chain)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [(0, base), (1, base), (2, base), (3, base.replace("zeta", "zetax", 1))]
    rows += [(10 + i, f"unique document number {i} with words {i * 7} {i * 13}") for i in range(3)]
    rows += [(20 + i, "another duplicated block of text content") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = dedup_tiered(df, hasher="md5_60").orderBy("doc_id").collect()
    by_id = {r["doc_id"]: r for r in out}
    # exact tier: min id of each identical group survives
    assert by_id[0]["tier"] is None
    assert by_id[1]["tier"] == "exact" and by_id[1]["dup_of"] == 0
    assert by_id[2]["tier"] == "exact" and by_id[2]["dup_of"] == 0
    assert by_id[20]["tier"] is None
    for i in range(21, 25):
        assert by_id[i]["tier"] == "exact" and by_id[i]["dup_of"] == 20
    # the near-dup is dropped by a later tier, attributed to the survivor 0
    assert by_id[3]["tier"] in ("simhash", "minhash") and by_id[3]["dup_of"] == 0
    # uniques survive
    for i in (10, 11, 12):
        assert by_id[i]["tier"] is None and by_id[i]["dup_of"] is None


def test_dedup_tiered_duplicate_heavy_stays_linear(spark):
    from geo_spark.operators.dedup import dedup_tiered

    # 3k identical docs + 50 distinct: the exact tier absorbs the mass, so
    # the pair tiers see only 51 docs — the whole cascade returns n rows
    # and every duplicate points at the min id
    n = 3000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, F.concat(F.lit("distinct doc "), F.col("id")))
        .otherwise(F.lit("the one true duplicated body of text"))
        .alias("text"),
    )
    out = dedup_tiered(df, hasher="md5_60", max_bucket=100)
    rows = out.collect()
    assert len(rows) == n
    dups = [r for r in rows if r["tier"] == "exact"]
    assert len(dups) == n - 50 - 1
    assert all(r["dup_of"] == 50 for r in dups)  # min id of the dup class


def test_plan_has_shuffle_sees_nested_exchanges(spark):
    # an aggregate nested under a union prints as ":  +- Aggregate"; the
    # probe must still report the shuffle, or ensure_parallelism falls
    # through to getNumPartitions, which runs the subtree under AQE
    from geo_spark.operators.dedup import _plan_has_shuffle

    agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("n"))
    plain = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("n"))
    assert _plan_has_shuffle(agg.sample(0.5, seed=1).unionByName(plain))
    assert _plan_has_shuffle(agg)
    assert not _plan_has_shuffle(plain)
