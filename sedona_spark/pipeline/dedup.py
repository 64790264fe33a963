"""Deduplication operators for web-scale corpora.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection over a
``documents(doc_id, text, ...)`` table. Shapes chosen for 100 TB:

* shingling/hashing are Column expressions (JVM codegen) or Arrow-batched
  vectorized hashes — never per-row Python;
* LSH turns the quadratic all-pairs problem into an equi-join on
  (band, band_hash) — the same "make it a shuffle join on an int key" move
  the spatial engine makes with cells;
* candidate pairs are verified with exact set arithmetic before being
  reported.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact text hash. Hash-groupBy:
    one shuffle on the md5 key; partial aggregation map-side."""
    h = F.md5(F.col(text).cast("binary")).alias("text_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def char_shingles(text: Column, n: int = 5) -> Column:
    """Array of n-char shingles — pure Column (transform over sequence)."""
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(text) - (n - 1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, n)))


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    shingle: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """→ (id, sig: array of ``num_hashes`` min-hash values).

    Fast path hashes shingles with ``xxhash64(shingle, seed)`` (JVM
    built-in). ``portable=True`` instead takes ``min(md5(seed || shingle))``
    hex strings — bit-identical reproducible in any SQL engine (used by the
    DuckDB oracle)."""
    sh = char_shingles(F.col(text), shingle)
    if portable:
        mins = [
            F.array_min(
                F.transform(sh, lambda s: F.md5(F.concat(F.lit(str(i) + ":"), s).cast("binary")))
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
        return docs.select(F.col(id_col), F.array(*mins).alias("sig"))
    return _minhash_sigs(
        docs, id_col, F.transform(sh, lambda s: F.xxhash64(s)), num_hashes
    )


def _minhash_sigs(
    df: DataFrame, id_col: str, hashes: Column, num_hashes: int
) -> DataFrame:
    """→ (id, sig) from ``hashes``, an ``array<long>`` of xxhash64'd
    shingles: value i is ``min(xxhash64(h, i))`` over the array.

    Each shingle STRING is hashed once and the per-function values are
    derived by rehashing the int64 — 1 string hash + num_hashes long
    hashes per shingle. Shape: EXPLODE the shingle hashes and take
    num_hashes MIN aggregates — partial aggregation keeps state at
    num_hashes longs per doc map-side, and no per-row arrays are
    materialized (the array_min(transform(...)) formulation allocates
    num_hashes arrays per document and is GC-bound)."""
    ex = df.select(F.col(id_col), F.explode(hashes).alias("_h"))
    aggs = [
        F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_mh_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs).select(
        F.col(id_col),
        F.array(*[F.col(f"_mh_{i}") for i in range(num_hashes)]).alias("sig"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 8,
    id_col: str = "doc_id",
    *,
    num_hashes: int,
    portable: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_hash) →
    distinct candidate pairs (id_a < id_b). The self-join is an equi-join
    on a hashed key: Catalyst shuffles once per side, AQE splits skewed
    buckets (a viral shingle = a hot cell).

    ``num_hashes`` is the signature length — required (the caller always
    knows it; a driver-side probe would cost an extra job).
    ``portable=True`` hashes bands with md5 of the joined signature text
    (engine-portable; pairs with ``minhash_signatures(portable=True)``).

    ``max_bucket`` caps the viral-band blowup: a bucket of b docs emits
    b(b−1)/2 pairs, so ONE band shared by 10⁶ boilerplate documents is
    5·10¹¹ pairs — AQE splits the partition but cannot shrink the output.
    Buckets larger than the cap are dropped (docs that similar share many
    other bands and near-dup recall is preserved in practice; this is the
    standard production guardrail). Default None = exact, keep everything."""
    rows_per_band = max(1, num_hashes // bands)

    def band_key(b: int):
        joined = F.concat_ws(
            ",",
            *[
                F.col("sig")[b * rows_per_band + r].cast("string")
                for r in range(rows_per_band)
            ],
        )
        if portable:
            return F.md5(joined.cast("binary"))
        return F.xxhash64(joined)

    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bh")

    if max_bucket is not None:
        # one extra windowless aggregate on the banded keys (tiny vs the
        # join); drop hot buckets before they explode quadratically
        sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("_bn"))
        banded = (
            banded.join(sizes.filter(F.col("_bn") <= max_bucket), ["band", "bh"])
            .drop("_bn")
        )

    # alias self-join on the SAME plan object: Catalyst plans ONE shuffle of
    # the banded signatures and a ReusedExchange for the other side —
    # rename-based self-joins compute the signature pipeline twice.
    # The explicit repartition IS that shuffle (same keys), pinned to the
    # configured parallelism: the banded rows are bytes-tiny, so AQE
    # would coalesce the exchange to a few tasks while the join's pair
    # OUTPUT is quadratic in bucket size — the classic cheap-input/
    # expensive-output stage AQE cannot see.
    npart = int(sigs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    banded = banded.repartition(npart, "band", "bh")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup pairs verified by exact shingle-set Jaccard.
    Returns (id_a, id_b, inter_size, union_size).

    The verify stage carries ``array<long>`` of xxhash64'd shingles, not the
    shingle strings — set arithmetic on int64 is ~8× less shuffle bytes and
    exact modulo 64-bit hash collisions (≈0 at any real corpus size).
    ``portable=True`` switches every hash to md5 (bit-reproducible in any
    SQL engine — the DuckDB oracle path) and verifies on the raw strings.

    Fast path: the hashed shingle arrays are computed ONCE and
    ``localCheckpoint``'d — the signature explode, and BOTH sides of the
    verify join, read the materialized arrays instead of re-shingling the
    corpus (shingling is the dominant per-byte cost and the naive plan
    evaluates it three times; guide §1.2 step 1 — don't recompute what
    you already have). The checkpoint is per-invocation state inside one
    query (plan truncation, not cross-run caching)."""
    if portable:
        sigs = minhash_signatures(docs, num_hashes, shingle, text, id_col, portable)
        cands = lsh_candidate_pairs(sigs, bands, id_col, num_hashes=num_hashes, portable=portable)
        sets_ = docs.select(F.col(id_col), char_shingles(F.col(text), shingle).alias("shingles"))
        j = (
            cands.join(sets_.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), "id_a")
            .join(sets_.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), "id_b")
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        return (
            j.withColumn("inter_size", inter.cast("long"))
            .withColumn("union_size", union.cast("long"))
            .filter(F.col("inter_size") >= F.lit(threshold) * F.col("union_size"))
            .select("id_a", "id_b", "inter_size", "union_size")
        )
    sh = F.transform(char_shingles(F.col(text), shingle), lambda s: F.xxhash64(s))
    hashed = docs.select(F.col(id_col), sh.alias("shingles")).localCheckpoint(eager=True)
    sigs = _minhash_sigs(hashed, id_col, F.col("shingles"), num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, id_col, num_hashes=num_hashes)
    # Verify = the wall at scale when pairs drag their shingle arrays
    # through two join exchanges (candidates ≫ true pairs by ~1000×).
    # Guide §8 shape — decide with small rows, move the heavy bytes once:
    # 1. join candidates to the per-doc SET SIZES only (ints) and apply
    #    the EXACT containment bound J ≤ min/max: a pair with
    #    min < t·max can never verify, so dropping it changes nothing;
    # 2. only survivors are joined to the arrays, explicitly spread over
    #    the session's parallelism (the pair list is bytes-tiny, so AQE
    #    coalesces it to a handful of tasks and the array-heavy
    #    intersect would run nearly serial otherwise);
    # 3. union comes FREE from |A|+|B|−inter (shingle arrays are
    #    distinct by construction) — the array_union pass is dropped.
    sizes = hashed.select(F.col(id_col), F.size("shingles").alias("_sz"))
    csz = (
        cands.join(F.broadcast(sizes.withColumnsRenamed({id_col: "id_a", "_sz": "_sz_a"})), "id_a")
        .join(F.broadcast(sizes.withColumnsRenamed({id_col: "id_b", "_sz": "_sz_b"})), "id_b")
        .filter(
            F.least("_sz_a", "_sz_b").cast("double")
            >= F.lit(threshold) * F.greatest("_sz_a", "_sz_b")
        )
    )
    # (Measured: broadcasting the checkpointed array table for map-side
    # verify joins LOSES here — two driver-built ~80 MB hash relations
    # per action cost more than the exchanges they remove. The explicit
    # repartition keeps the array-heavy intersect stage at full
    # parallelism — AQE would coalesce the bytes-tiny pair exchange to a
    # handful of tasks and serialize the verify CPU.)
    npart = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    j = (
        csz.repartition(npart, "id_a")
        .join(hashed.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), "id_a")
        .repartition(npart, "id_b")
        .join(hashed.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        j.withColumn("inter_size", inter.cast("long"))
        .withColumn(
            "union_size",
            (F.col("_sz_a") + F.col("_sz_b")).cast("long") - F.col("inter_size"),
        )
        .filter(F.col("inter_size") >= F.lit(threshold) * F.col("union_size"))
        .select("id_a", "id_b", "inter_size", "union_size")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@F.pandas_udf(LongType())
def _simhash_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens. Vectorized: pandas'
    deterministic C siphash for token→uint64, numpy bincount for bit votes.
    """
    n = len(text)
    out = np.zeros(n, dtype=np.int64)
    toks_per_row = text.fillna("").str.split()
    lens = toks_per_row.str.len().to_numpy()
    flat = [t for row in toks_per_row for t in row]
    if flat:
        hashes = pd.util.hash_array(np.asarray(flat, dtype=object))  # uint64
        row_id = np.repeat(np.arange(n), lens)
        vals = np.zeros(n, dtype=np.uint64)
        # per-bit vote via bincount: O(tokens) memory, no N×64 matrix
        for b in range(64):
            ones = np.bincount(
                row_id,
                weights=((hashes >> np.uint64(b)) & np.uint64(1)).astype(np.float64),
                minlength=n,
            )
            vals |= (ones * 2 > lens).astype(np.uint64) << np.uint64(b)
        out = vals.astype(np.int64)
    return pd.Series(out)


def simhash64(text: Column) -> Column:
    """64-bit SimHash column (near-dup via small hamming distance)."""
    return _simhash_udf(text)


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup pairs ``(id_a, id_b, hamming)``: the 64-bit
    :func:`simhash64` through :func:`hamming_near_dup_pairs`, whose
    ``max_hamming + 1`` pigeonhole bands (4×16 bits at the default 3)
    find EVERY pair within ``max_hamming`` bits. Classic scalable SimHash
    join."""
    with_h = docs.select(F.col(id_col), simhash64(F.col(text)).alias("sh"))
    return hamming_near_dup_pairs(with_h, "sh", id_col, max_hamming, n_bits=64)


def simhash_portable(
    docs: DataFrame, n_bits: int = 60, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Engine-portable SimHash: token hash = first 60 bits of md5 (exactly
    reproducible in any SQL engine), bit votes as integer SUM aggregates —
    100% Column expressions, zero Python, and every aggregate is an exact
    integer so the result is bit-identical across engines (the DuckDB
    oracle twin lives in ``__spark_entry__._simhash_portable_sql``).

    Docs with zero tokens produce no row (nothing to vote)."""
    toks = F.filter(F.split(F.col(text), r"\s+"), lambda t: t != F.lit(""))
    ex = docs.select(F.col(id_col), F.explode(toks).alias("_tok"))
    h = F.conv(F.substring(F.md5(F.col("_tok").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    ex = ex.select(id_col, h.alias("_h"))
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.shiftrightunsigned(F.col("_h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
        for b in range(n_bits)
    ]
    per = ex.groupBy(id_col).agg(*aggs)
    sh = F.lit(0).cast("long")
    for b in range(n_bits):
        sh = sh + F.when(
            F.col(f"_b{b}") * 2 > F.col("_n"), F.lit(1 << b)
        ).otherwise(F.lit(0)).cast("long")
    return per.select(F.col(id_col), sh.alias("sh"))


def simhash_near_dup_pairs_portable(
    docs: DataFrame, max_hamming: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Portable SimHash near-dup pairs: the 60-bit :func:`simhash_portable`
    through :func:`hamming_near_dup_pairs` (4×15-bit bands at the default
    3, complete at any ``max_hamming``) — fully mirrorable in DuckDB."""
    return hamming_near_dup_pairs(
        simhash_portable(docs, 60, text, id_col), "sh", id_col, max_hamming,
        n_bits=60,
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (word level)
# ---------------------------------------------------------------------------


def word_ngrams(text: Column, n: int = 2) -> Column:
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(0), F.greatest(F.lit(0), F.size(toks) - n))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
        )
    )


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    n: int = 1,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word n-gram Jaccard for given (id_a, id_b) pairs — pure SQL set
    arithmetic. Returns pairs + inter_size/union_size (integers: hash-stable)."""
    sets_ = docs.select(F.col(id_col), word_ngrams(F.col(text), n).alias("grams"))
    j = (
        pairs.join(sets_.withColumnsRenamed({id_col: "id_a", "grams": "g_a"}), "id_a")
        .join(sets_.withColumnsRenamed({id_col: "id_b", "grams": "g_b"}), "id_b")
    )
    return j.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("g_a", "g_b")).cast("long").alias("inter_size"),
        F.size(F.array_union("g_a", "g_b")).cast("long").alias("union_size"),
    )


# ---------------------------------------------------------------------------
# Hamming near-dup over ANY int64 hash (phash image dedup, r4)
# ---------------------------------------------------------------------------


def hamming_near_dup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 7,
    n_bits: int = 64,
) -> DataFrame:
    """EXACT hamming-≤k pairs over any int64 hash column.

    Pigeonhole band blocking: the hash splits into ``max_hamming + 1``
    equal bands, and any pair within ``max_hamming`` differing bits must
    agree EXACTLY on at least one band — so the banded equi-join is
    COMPLETE (no recall loss), and ``bit_count(xor)`` verifies each
    candidate exactly. One shuffle on (band, value); candidate volume is
    the only cost knob (narrower bands = hotter buckets; pick
    ``max_hamming`` so bands stay ≥ 8 bits at your cardinality).

    This is the one banded Hamming self-join: the image-dedup path of the
    input contract's ``phash:int64`` column (see
    :func:`phash_near_dup_pairs`) and both SimHash pair joins call it."""
    nb = int(max_hamming) + 1
    width = (int(n_bits) + nb - 1) // nb
    mask = (1 << width) - 1
    bands = df.select(
        F.col(id_col), F.col(hash_col).alias("_hh"),
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("band"),
                F.shiftrightunsigned(F.col(hash_col), width * c)
                .bitwiseAND(F.lit(mask)).alias("bv"),
            )
            for c in range(nb)
        ])).alias("_b"),
    ).select(id_col, "_hh", "_b.band", "_b.bv")
    # pin the self-join's parallelism (see lsh_candidate_pairs)
    bands = bands.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "band", "bv")
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a._hh").bitwiseXOR(F.col("b._hh")))
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def phash_near_dup_pairs(
    images: DataFrame,
    max_hamming: int = 7,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance —
    the input contract's ``phash:int64`` column driving the same
    pigeonhole machinery (8×8-bit bands at the default threshold 7).
    Plant-and-recover gate: tests/test_pipeline.py perturbs pixels and
    checks the banded output equals the brute-force pairs."""
    return hamming_near_dup_pairs(
        images, phash_col, id_col, max_hamming, n_bits=64
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components + representative selection
# ---------------------------------------------------------------------------


def _checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` over a plan that carries no size estimate.

    A checkpoint keeps the optimizer estimate of the plan it cut, and a
    join estimates the PRODUCT of its children, so a loop that joins its
    own checkpoints doubles the estimate's digit count every round
    (10^6 after one components round, 10^1,148,609 after 17, with each
    round's planning slowing in step). Rebuilt over the checkpointed
    rows, the frame estimates at the session default like any other
    RDD-backed frame."""
    cp = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    jdf = spark._jsparkSession.internalCreateDataFrame(
        cp._jdf.queryExecution().logical().rdd(), cp._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


def _release(cp: DataFrame) -> None:
    """Drop the blocks of a :func:`_checkpoint` frame (through the
    context: ``RDD.unpersist`` logs a warning for every locally
    checkpointed RDD, i.e. once per round)."""
    rdd_id = cp._jdf.queryExecution().logical().rdd().id()
    cp.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the near-dup pair graph → ``(id,
    component)`` with component = the MIN member id — the stage that turns
    pairwise dup evidence into dedup GROUPS (the reference ships the pair
    tier; grouping is what a corpus dedup actually applies). Ids are cast
    to long. This is the one components loop: ``operators/dbscan.py``
    clusters its core points with it.

    Algorithm: min-label propagation with hooking and POINTER JUMPING
    (the Shiloach–Vishkin contraction ideas, public); labels are member
    ids, never above the node's own. Each round does

    1. offers — every edge (u, v) offers ``l(u)`` to v (neighbor step)
       and to ``l(v)`` (hook: the whole tree behind that label adopts
       it); each node keeps the minimum offer, and
    2. two pointer jumps ``l(v) ← l(l(v))``, each halving chain depth,

    so rounds grow with log(diameter) in any id order: a 65,536-node chain
    reaches its fixpoint in 8 rounds, or 9 with shuffled ids, where one
    jump without the hook needs over 200 (hashed ids are shuffled order).
    Each round ends in an eager :func:`_checkpoint` (plan reset, bounded
    size estimate; the previous round's blocks are dropped). The
    convergence probe (no label changed) runs every OTHER round: labels
    only fall, so a round past the fixpoint is pure recomputation, and
    each probe is a driver-blocking job. Raises ``RuntimeError`` when
    ``max_iter`` rounds end short of the fixpoint, i.e. when some edge
    still joins two different labels. State is one (id, label) row per
    node and every step is an equi-join/groupBy on the id — AQE-skew-safe,
    no broadcast of anything unbounded."""
    e = pairs.select(
        F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
    )
    edges = _checkpoint(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )

    def endpoint_labels(labels: DataFrame) -> DataFrame:
        """edges + (lu, lv): the labels of both endpoints."""
        return (
            edges.join(labels.withColumnsRenamed({"id": "u", "l": "lu"}), "u")
            .join(labels.withColumnsRenamed({"id": "v", "l": "lv"}), "v")
        )

    cur = _checkpoint(
        edges.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("l"))
        .select(F.col("u").alias("id"), "l")
    )
    try:
        for it in range(max_iter):
            labels = cur.select("id", "l")
            offers = (
                endpoint_labels(labels)
                .select(F.explode(F.array("v", "lv")).alias("id"), "lu")
                .groupBy("id")
                .agg(F.min("lu").alias("nl"))
            )
            # carry the pre-round label (_lo) through the round so
            # convergence is a plain filter over the checkpointed result
            stepped = labels.join(offers, "id", "left").select(
                "id",
                F.col("l").alias("_lo"),
                F.least("l", F.coalesce("nl", "l")).alias("l"),
            )
            for _ in range(2):
                stepped = stepped.join(
                    stepped.select(F.col("id").alias("l"), F.col("l").alias("ll")),
                    "l",
                    "left",
                ).select("id", "_lo", F.least("l", F.coalesce("ll", "l")).alias("l"))
            prev, cur = cur, _checkpoint(stepped)
            _release(prev)  # the new labels no longer read it
            if it % 2 == 1 and cur.filter(F.col("l") != F.col("_lo")).isEmpty():
                break
        else:
            if not endpoint_labels(cur.select("id", "l")).filter(
                F.col("lu") != F.col("lv")
            ).isEmpty():
                raise RuntimeError(
                    "connected_components failed to converge "
                    f"(max_iter={max_iter} exceeded)"
                )
    except BaseException:
        _release(cur)
        raise
    finally:
        _release(edges)
    return cur.select("id", F.col("l").alias("component"))


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, component, keep): every doc labeled with its near-dup
    component (isolated docs form their own), keep = (id == component
    min) — the "retain one representative per dup cluster" filter a
    training-data pipeline applies after near-dup detection."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        docs.select(F.col(id_col).cast("long").alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("component"),
        )
        .withColumn("keep", F.col("id") == F.col("component"))
    )
