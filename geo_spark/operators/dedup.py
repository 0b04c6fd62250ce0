"""Deduplication operators for web-scale text corpora.

Four tiers, cheapest-first (all shuffle-aware — the 100 TB design notes are
inline):

- **exact**: md5(text) groupBy — one shuffle on a uniform hash key; no skew
  by construction.
- **MinHash + LSH**: shingle → minhash signature → band buckets → candidate
  pairs via a self-join on (band_idx, band_hash) — the shuffle key is the
  bucket id, so only near-duplicate clusters co-locate; banding keeps the
  candidate set linear in practice. Verification recomputes exact Jaccard
  on the pair.
- **SimHash**: 64-bit fingerprint via sign-sum of per-token hash vectors;
  near-dups = Hamming distance ≤ t, found by pigeonhole banding with
  ``max_hamming + 1`` bands (exact recall for any threshold).
- **n-gram Jaccard**: exact verification metric for candidate pairs.

Hot-path design for 100 TB: n-gram construction and the per-gram 64-bit
hashing run **JVM-side** (higher-order SQL + ``xxhash64`` / ``md5``+``conv``)
— no Python string handling anywhere. The only Python is one vectorized
numpy broadcast per Arrow batch that folds the pre-hashed int64 arrays into
signatures/fingerprints.

Determinism: all hash functions are fixed-constant (xxhash64 seed 42 /
md5) — no RNG state, reproducible across runs and partitionings. The
``md5_60`` hasher (top 60 bits of md5, parsed identically by Spark's
``conv`` and DuckDB's hex cast) exists so fingerprints are reproducible in
the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MERSENNE = (1 << 61) - 1
_N_PERM_DEFAULT = 64


_BYTES_PER_PARTITION = 4 << 20  # ~4 MB of scanned input per partition


def _input_bytes(df: DataFrame) -> int | None:
    """Total bytes of the files this plan scans (local/file: paths only)."""
    import os as _os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f
        if p.startswith("file:"):
            p = p[5:]
            while p.startswith("//"):
                p = p[1:]
        try:
            total += _os.path.getsize(p)
        except OSError:
            return None
    return total


# optimized-plan operators that plan an exchange
_SHUFFLE_NODES = frozenset({
    "Join", "Aggregate", "Window", "Sort", "Repartition", "RepartitionByExpression",
    "RebalancePartitions", "Deduplicate", "Distinct", "Intersect", "Except",
})


def _plan_has_shuffle(df: DataFrame) -> bool:
    """True when the optimized logical plan contains an exchange-inducing
    operator (join/aggregate/window/sort/repartition/distinct) at any depth.
    Walks the plan's node names on the driver — never runs a job.
    Conservative on failure."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.nodeName() in _SHUFFLE_NODES:
                return True
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    except Exception:
        return True
    return False


def ensure_parallelism(
    df: DataFrame, min_parts: int | None = None, *, heavy: bool = False
) -> DataFrame:
    """Repartition narrow inputs so CPU-bound per-row stages use every core.

    Partition-target policy (size-aware — a blanket spread to
    ``defaultParallelism`` adds a shuffle + per-task pandas-UDF setup that
    swamps µs-per-row compute on small tables):

    - explicit ``min_parts`` wins;
    - ``heavy=True`` — the caller declares ≥~100 µs/row Python kernel cost
      (Delaunay, overlay, buffer, hashing folds): spread to every core even
      when the input is byte-tiny;
    - default: one partition per ~4 MB of scanned input bytes
      (``df.inputFiles()`` sizes), capped at ``defaultParallelism`` — a
      driver-scale table keeps its 1-2 scan partitions, and a web-scale
      table already has thousands of partitions so the count check below
      makes this a no-op (never shrinks, never shuffles an already-parallel
      input).
    """
    spark = df.sparkSession
    hw = spark.sparkContext.defaultParallelism
    if min_parts is not None:
        target = min_parts
    elif heavy:
        target = hw
    else:
        nbytes = _input_bytes(df)
        if nbytes is None:
            return df
        target = min(hw, max(1, nbytes // _BYTES_PER_PARTITION))
    # Partition-count probe vs shuffle plans: with AQE on,
    # ``df.rdd.getNumPartitions()`` on a plan containing exchanges EXECUTES
    # every upstream stage to finalize the adaptive plan (measured: a full
    # extra run of the input subtree per probe). Plans that already shuffle
    # are left untouched — their stages inherit spark.sql.shuffle.partitions
    # (cluster-sized), and an extra repartition measurably hurts (A/B on
    # dedup_tiered: +0.7 s). Only shuffle-free plans (scans/projections,
    # where the probe is a pure metadata read) keep the probe + never-shrink
    # repartition.
    if _plan_has_shuffle(df):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def banded_candidate_pairs(
    banded: DataFrame, id_col: str, payload: str, max_bucket: int = 2000
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from an exploded band table
    ``(id, payload, band_idx, band_hash)`` with a duplicate-heavy-bucket
    guard.

    Buckets of ≤ ``max_bucket`` rows: plain all-pairs bucket self-join (the
    normal LSH path). Oversized buckets are almost always exact-duplicate
    clusters, where all-pairs is m²: rows are grouped into identical-payload
    classes; each class emits a sorted-id CHAIN (O(n) pairs that cover the
    clique transitively — payloads are identical so any verify metric passes
    trivially), and one representative per class joins all-pairs across
    classes (bounded by the distinct-payload count). A 10k-identical-doc
    shard therefore produces ~10k candidates, not 5·10⁷.

    Returns id_a, id_b, {payload}_a, {payload}_b, deduplicated on the id
    pair. Shuffle keys are always (band_idx, band_hash) — no cartesian.

    Plan selection is adaptive: one tiny aggregation probes the maximum
    bucket size first (the caller persists ``banded``, so this reads the
    cache). On healthy data — every bucket ≤ ``max_bucket`` — the original
    single self-join plan runs with ZERO extra stages; only a
    duplicate-heavy input pays for the guard machinery.
    """
    from pyspark.sql import Window

    def _all_pairs(d: DataFrame) -> DataFrame:
        a_, b_ = d.alias("a"), d.alias("b")
        return a_.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{payload}").alias(f"{payload}_a"),
            F.col(f"b.{payload}").alias(f"{payload}_b"),
        )

    max_seen = (
        banded.groupBy("band_idx", "band_hash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    if max_seen is None or max_seen <= max_bucket:
        return _all_pairs(banded).dropDuplicates(["id_a", "id_b"])

    wb = Window.partitionBy("band_idx", "band_hash")
    b = banded.withColumn("_bsz", F.count("*").over(wb))
    small = b.filter(F.col("_bsz") <= max_bucket).drop("_bsz")
    big = b.filter(F.col("_bsz") > max_bucket).drop("_bsz")
    pairs = _all_pairs(small)
    wcls = Window.partitionBy("band_idx", "band_hash", payload).orderBy(id_col)
    chained = (
        big.withColumn("_prev", F.lag(id_col).over(wcls))
        .filter(F.col("_prev").isNotNull())
        .select(
            F.col("_prev").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.col(payload).alias(f"{payload}_a"),
            F.col(payload).alias(f"{payload}_b"),
        )
    )
    reps = big.groupBy("band_idx", "band_hash", payload).agg(
        F.min(id_col).alias(id_col)
    )
    return (
        pairs.unionByName(chained)
        .unionByName(_all_pairs(reps))
        .dropDuplicates(["id_a", "id_b"])
    )


def gram_hashes_col(text_col, ngram: int, hasher: str = "xxhash64"):
    """array<long> of token-n-gram hashes — built entirely JVM-side.

    Tokenization, n-gram assembly and the 64-bit hash are higher-order SQL
    (whole-stage JVM, no Python): at 100 TB the shingling is the hottest
    loop in the dedup pipeline, so it must never touch Python strings.

    Hashers: ``xxhash64`` (fastest, seed 42); ``md5_60`` (top 60 bits of
    md5 via ``conv(substring(md5(g),1,15),16,10)`` — bit-identical to
    DuckDB's ``('0x' || substring(md5(g),1,15))::BIGINT``, for oracle-
    checkable fingerprints). Empty/whitespace-only text → empty array.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.filter(F.split(col, " "), lambda x: x != "")
    n_tok = F.size(toks)
    if ngram == 1:
        grams = toks
    else:
        idxs = F.sequence(F.lit(0), F.greatest(n_tok - ngram, F.lit(0)))
        grams = F.when(
            n_tok >= ngram,
            F.transform(idxs, lambda i: F.array_join(F.slice(toks, i + 1, ngram), " ")),
        ).otherwise(
            F.when(n_tok > 0, F.array(F.array_join(toks, " "))).otherwise(
                F.array().cast("array<string>")
            )
        )
    if hasher == "xxhash64":
        return F.transform(grams, lambda g: F.xxhash64(g, F.lit(42)))
    if hasher == "md5_60":
        return F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        )
    raise ValueError(f"unknown hasher: {hasher}")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = _N_PERM_DEFAULT,
    ngram: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<long>) — vectorized MinHash over token n-grams.

    Shingle hashes come pre-computed from the JVM (``gram_hashes_col``);
    permutations are (a_i * h + b_i) mod p with fixed seeded constants; the
    whole signature matrix per row is one numpy broadcast over the int64
    array — no Python string handling anywhere.
    """
    rng = np.random.RandomState(42)
    A = rng.randint(1, _MERSENNE, size=n_perm, dtype=np.int64)
    B = rng.randint(0, _MERSENNE, size=n_perm, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        Au = A[:, None].astype(np.uint64)
        Bu = B[:, None].astype(np.uint64)
        empty = (Bu[:, 0] % np.uint64(_MERSENNE)).astype(np.int64)
        out = []
        for h in hashes:
            arr = np.asarray(h, dtype=np.int64).astype(np.uint64)
            if arr.size == 0:
                out.append(empty)
                continue
            # (n_perm, n_shingles) permuted hashes → row-wise min
            vals = (Au * (arr[None, :] & np.uint64(0x7FFFFFFFFFFFFFFF)) + Bu) % np.uint64(
                _MERSENNE
            )
            out.append(vals.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return ensure_parallelism(df, heavy=True).select(
        id_col, sig_udf(gram_hashes_col(text_col, ngram, hasher)).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    ngram: int = 3,
    threshold: float = 0.7,
    hasher: str = "xxhash64",
    max_bucket: int = 2000,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b, est_jaccard ≥ threshold).

    LSH banding: signature split into ``bands`` bands of n_perm/bands rows;
    docs sharing any band-hash become candidates (self-join on the bucket).
    est_jaccard = fraction of matching signature positions.
    ``hasher='md5_60'`` makes the signatures DuckDB-reproducible for the
    oracle gate; ``xxhash64`` is the fast default. Buckets larger than
    ``max_bucket`` (duplicate-heavy shards) switch to the O(n)
    identical-signature chain path — see ``banded_candidate_pairs``.

    Pair-completeness guarantee: for buckets within ``max_bucket`` the pair
    set is complete; oversized (duplicate-heavy) buckets emit a
    TRANSITIVELY-complete cover — identical-payload chains plus
    representative cross-pairs — so consumers needing duplicate GROUPS must
    take connected components over the pairs (as ``dedup_tiered``'s min-id
    drop rule effectively does), not assume every qualifying pair appears.
    """
    from pyspark.storagelevel import StorageLevel

    rows_per_band = n_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, n_perm, ngram, hasher)
    banded = sigs.select(
        id_col,
        "signature",
        F.posexplode(
            F.array(*[
                F.hash(*[F.col("signature")[i] for i in range(b * rows_per_band, (b + 1) * rows_per_band)])
                for b in range(bands)
            ])
        ).alias("band_idx", "band_hash"),
    )
    # both sides of the bucket self-join read this — persist so the
    # shingle/signature pipeline runs once, not twice
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = banded_candidate_pairs(banded, id_col, "signature", max_bucket)
    est = F.aggregate(
        F.zip_with("signature_a", "signature_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(n_perm))
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .drop("signature_a", "signature_b")
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash long) — SimHash over whitespace tokens.

    Token hashes are the oracle-reproducible ``md5_60`` (JVM-side, 60
    informative bits — DuckDB computes the identical fingerprint, so the
    driver's value-hash gate can check this operator end-to-end); the
    bit-vote fold is one numpy broadcast per row over the int64 array.
    """
    hashes = gram_hashes_col(text_col, 1, hasher="md5_60")

    @F.pandas_udf(T.LongType())
    def simhash_udf(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        bit_idx = np.arange(60, dtype=np.uint64)
        for i, h in enumerate(hs):
            arr = np.asarray(h, dtype=np.int64).astype(np.uint64)
            if arr.size == 0:
                out[i] = 0
                continue
            bits = (arr[:, None] >> bit_idx[None, :]) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            fp = 0
            for b in np.flatnonzero(votes > 0):
                fp |= 1 << int(b)
            out[i] = fp
        return pd.Series(out)

    return ensure_parallelism(df, heavy=True).select(id_col, simhash_udf(hashes).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 2000,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via pigeonhole banding.

    Band count is derived from the parameter: ``max_hamming + 1`` contiguous
    bands over the 64 fingerprint bits guarantee (pigeonhole) that any pair
    with ≤ max_hamming differing bits agrees on at least one whole band, so
    recall is exact for every ``max_hamming`` ≤ 63. The exact Hamming filter
    after the bucket join removes false positives. Buckets larger than
    ``max_bucket`` take the O(n) identical-fingerprint chain path
    (``banded_candidate_pairs``).

    Pair-completeness guarantee: for buckets within ``max_bucket`` the pair
    set is complete; oversized (duplicate-heavy) buckets emit a
    TRANSITIVELY-complete cover — identical-payload chains plus
    representative cross-pairs — so consumers needing duplicate GROUPS must
    take connected components over the pairs (as ``dedup_tiered``'s min-id
    drop rule effectively does), not assume every qualifying pair appears.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_bands = max_hamming + 1
    widths = [64 // n_bands + (1 if b < 64 % n_bands else 0) for b in range(n_bands)]
    offs = [sum(widths[:b]) for b in range(n_bands)]
    fps = simhash_fingerprints(df, id_col, text_col)
    bands = [
        F.shiftrightunsigned(F.col("simhash"), offs[b])
        .bitwiseAND(F.lit((1 << widths[b]) - 1))
        .alias(f"band{b}")
        for b in range(n_bands)
    ]
    from pyspark.storagelevel import StorageLevel

    banded = fps.select(
        id_col, "simhash", F.posexplode(F.array(*bands)).alias("band_idx", "band_hash")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = banded_candidate_pairs(banded, id_col, "simhash", max_bucket)
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .drop("simhash_a", "simhash_b")
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: (text_hash, n_docs, keep_id=min id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """Exact token-n-gram Jaccard for given (id_a, id_b) pairs — SQL-only.

    Texts join in by id; the n-gram sets and intersection/union sizes are
    built with higher-order array functions (JVM-side).
    """
    def grams(col):
        toks = F.filter(F.split(col, " "), lambda x: x != "")
        n_tok = F.size(toks)
        idxs = F.sequence(F.lit(0), F.greatest(n_tok - ngram, F.lit(0)))
        return F.array_distinct(
            F.when(
                n_tok >= ngram,
                F.transform(
                    idxs, lambda i: F.array_join(F.slice(toks, i + 1, ngram), " ")
                ),
            ).otherwise(F.array(F.array_join(toks, " ")))
        )

    # the n-gram build (split + transform + array_join + array_distinct) is
    # a ≥100µs/row interpreted-expression chain; a small-file scan gives it
    # 1 partition and a single core without the spread
    texts = ensure_parallelism(df.select(id_col, text_col), heavy=True).select(
        F.col(id_col), grams(F.col(text_col)).alias("grams")
    )
    out = (
        pairs.join(texts.withColumnRenamed(id_col, "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
        .join(texts.withColumnRenamed(id_col, "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn("n_union", F.size(F.array_union("grams_a", "grams_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") == 0, F.lit(0.0)).otherwise(
                F.col("n_inter").cast("double") / F.col("n_union")
            ),
        )
        .drop("grams_a", "grams_b")
    )
    return out


def dedup_tiered(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    simhash_max_hamming: int = 6,
    minhash_threshold: float = 0.5,
    jaccard_threshold: float = 0.5,
    ngram: int = 3,
    hasher: str = "xxhash64",
    max_bucket: int = 2000,
) -> DataFrame:
    """Cheapest-tier-first dedup lineage: (id, tier, dup_of) per document.

    Runs exact → simhash → minhash(+exact-Jaccard verify), each tier only
    over the SURVIVORS of the previous tiers, so the cheap hash-groupBy
    absorbs the duplicate mass before any pair generation and the candidate
    volume stays O(n) end-to-end on duplicate-heavy corpora (each tier's
    oversized buckets also take the chain path — ``banded_candidate_pairs``).

    Victim rule (deterministic, min-id-preserving): a doc is dropped by a
    tier when it is the larger id of any qualifying pair among that tier's
    input; ``dup_of`` is the smallest such partner. The minimum id of every
    duplicate group therefore always survives. Like the pair APIs, coverage
    of a duplicate CLASS is transitive (chain pairs), which is exactly what
    the drop rule needs.

    tier: null = kept, else 'exact' | 'simhash' | 'minhash'.
    """
    base = df.select(id_col, text_col)

    # tier 1 — exact text dedup (one hash-groupBy shuffle)
    keep = base.groupBy(text_col).agg(F.min(id_col).alias("_keep"))
    t1 = base.join(keep, text_col).select(
        id_col,
        F.when(F.col(id_col) != F.col("_keep"), F.lit("exact")).alias("tier"),
        F.when(F.col(id_col) != F.col("_keep"), F.col("_keep")).alias("dup_of"),
        text_col,
    )
    t1 = t1.cache()  # reused by every later tier and the final assembly
    s1 = t1.filter(F.col("tier").isNull()).select(id_col, text_col)

    # tier 2 — simhash near-dups among exact survivors
    sp = simhash_near_pairs(
        s1, id_col, text_col, max_hamming=simhash_max_hamming, max_bucket=max_bucket
    )
    t2 = sp.groupBy(F.col("id_b").alias(id_col)).agg(F.min("id_a").alias("dup_of")).cache()
    s2 = s1.join(t2, id_col, "left_anti").cache()

    # tier 3 — minhash LSH candidates among tier-2 survivors, kept only when
    # the exact n-gram Jaccard confirms
    mp = minhash_lsh_pairs(
        s2, id_col, text_col,
        ngram=ngram, threshold=minhash_threshold,
        hasher=hasher, max_bucket=max_bucket,
    )
    verified = ngram_jaccard_pairs(s2, mp.select("id_a", "id_b"), id_col, text_col, ngram)
    verified = verified.filter(F.col("jaccard") >= jaccard_threshold)
    t3 = verified.groupBy(F.col("id_b").alias(id_col)).agg(F.min("id_a").alias("dup_of"))

    t2l = t2.select(id_col, F.lit("simhash").alias("tier2"), F.col("dup_of").alias("dup2"))
    t3l = t3.select(id_col, F.lit("minhash").alias("tier3"), F.col("dup_of").alias("dup3"))
    return (
        t1.drop(text_col)
        .join(t2l, id_col, "left")
        .join(t3l, id_col, "left")
        .select(
            id_col,
            F.coalesce("tier", "tier2", "tier3").alias("tier"),
            F.coalesce("dup_of", "dup2", "dup3").alias("dup_of"),
        )
    )
