"""LLM-training-data pipeline kernels (SURVEY.md §2.2 Q95–Q99).

Reusable column-level kernels for large-scale corpus processing: exact and
near deduplication (MinHash-LSH, SimHash, n-gram Jaccard), embedding
similarity search (brute-force and LSH-bucketed ANN), text statistics, and
multimodal (binary payload) plumbing.

Design rules for 100 TB scale, applied throughout:

- Everything is a composition of JVM-side built-in expressions (higher-order
  array functions, hash functions) — whole-stage codegen applies; no Python
  row loop ever touches the hot path. The only Python is (a) constant
  generation on the driver (permutation coefficients, hyperplanes) and
  (b) Arrow-batched pandas kernels where per-cell binary decoding is
  genuinely not expressible (SimHash bit-majority, multimodal decode).
- Nothing collects to the driver; every kernel is a DataFrame → DataFrame
  transform that distributes by construction.
- Candidate generation (LSH bands, sign buckets) turns O(n²) similarity
  into an equi-join on a bucket key — the shuffle key is the bucket, so
  Catalyst plans an ordinary shuffled hash join and AQE handles skewed
  buckets (hot shingles / dense hyperplane cells).

The reference system (elqsar/better-cdc) has no corpus operators — this
module is the north-star extension mandated by SURVEY.md §2.2; its scalar
hashing style mirrors the reference's deterministic-ID discipline
(internal/transformer/transformer.go:75-106: stable IDs from content-free
metadata so replays collapse; here: stable signatures from content so
duplicates collapse).
"""

from __future__ import annotations

import hashlib
import random
import struct
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from better_cdc_spark.session import ckpt

# ---------------------------------------------------------------------------
# Deterministic constants (seeded on the driver, shipped as literals)
# ---------------------------------------------------------------------------

# MinHash: 64 universal-hash permutations h_i(x) = (a_i*x + b_i) mod P over a
# 31-bit Mersenne-prime field. Coefficients < 2^20 so a*h < 2^51 — no int64
# overflow under Spark 4 ANSI mode.
MINHASH_PERMS = 64
MINHASH_BANDS = 16
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS
MERSENNE_31 = 2_147_483_647

_rng = random.Random(42)
PERM_A = [_rng.randrange(1, 1 << 20) for _ in range(MINHASH_PERMS)]
PERM_B = [_rng.randrange(0, 1 << 20) for _ in range(MINHASH_PERMS)]

# Random-hyperplane LSH for embeddings: 6 planes → 64 sign buckets.
ANN_PLANES = 6
ANN_DIM = 64
_HYPERPLANES = np.random.RandomState(7).randn(ANN_PLANES, ANN_DIM)

ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_INIT = 7
ROLLING_HASH_MULT = 31


def array_literal_sql(values: Sequence) -> str:
    """SQL text of a (nested) numeric array literal, exact per element.

    Ints become BIGINT (``5L``); everything else becomes DOUBLE from the
    shortest round-trip ``repr`` (``0.1D``, ``1e-05D``, ``-0.0D``), which
    Spark's parser reads back to the same bits. NaN and ±inf have no such
    literal and raise ValueError.
    """
    parts = []
    for v in values:
        if isinstance(v, (list, tuple)):
            parts.append(array_literal_sql(v))
        elif isinstance(v, int):
            parts.append(f"{v}L")
        else:
            x = float(v)
            if not np.isfinite(x):
                raise ValueError(f"no exact SQL literal for {x!r}")
            parts.append(f"{x!r}D")
    return "array(" + ", ".join(parts) + ")"


def array_literal(values: Sequence) -> F.Column:
    """A per-element model array (centroids, bloom words, pinned tables)
    as ONE parsed literal: a single py4j call, where ``F.array`` over
    ``F.lit``s pays one per element (512 for a k=8, dim=64 model). The
    optimized plan is the same folded array constant."""
    return F.expr(array_literal_sql(values))


# ---------------------------------------------------------------------------
# Tokenization / shingling (pure built-ins)
# ---------------------------------------------------------------------------


def tokens(text_col: str = "text") -> F.Column:
    """Whitespace tokens. `split` stays inside codegen — no UDF."""
    return F.split(F.col(text_col), " ")


def word_shingles(tokens_expr: str = "w", k: int = 3) -> F.Column:
    """Distinct k-word shingles from a token-array column (SQL name).

    `transform(sequence(...))` is evaluated per row inside whole-stage
    codegen; guarded so docs shorter than k yield an empty set rather than
    an invalid `sequence` range (ANSI mode would throw).
    """
    joined = " , ".join(f"{tokens_expr}[i+{j}]" for j in range(k))
    return F.expr(
        f"""CASE WHEN size({tokens_expr}) >= {k}
            THEN array_distinct(transform(sequence(0, size({tokens_expr})-{k}),
                 i -> concat_ws(' ', {joined})))
            ELSE CAST(array() AS ARRAY<STRING>) END"""
    )


# ---------------------------------------------------------------------------
# MinHash-LSH (built-ins only: xxhash64 + higher-order array functions)
# ---------------------------------------------------------------------------


def minhash_signature(shingles_expr: str = "shingles") -> F.Column:
    """64-lane MinHash signature as array<bigint> (array-expression form).

    Per-row form for when the shingle array is already materialized.
    NOTE: nested higher-order lambdas evaluate interpreted (outside
    whole-stage codegen) — fine for ad-hoc use, but the corpus-scale path
    is `minhash_signatures`, which computes identical values through a
    hash-aggregate that codegens and partially aggregates map-side.
    """
    a = array_literal_sql(PERM_A)
    b = array_literal_sql(PERM_B)
    return F.expr(
        f"""transform(sequence(0, {MINHASH_PERMS - 1}), i ->
              aggregate(
                transform({shingles_expr}, s -> pmod(xxhash64(s), {MERSENNE_31}L)),
                CAST({MERSENNE_31} AS BIGINT),
                (acc, h) -> least(acc, pmod({a}[i]*h + {b}[i], {MERSENNE_31}L))))"""
    )


def minhash_signatures(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<bigint>) via explode → hash → 64 min-aggregates.

    The scale path: shingles explode to postings, each shingle is hashed
    ONCE with JVM xxhash64, and every permutation lane is a plain `min`
    aggregate — whole-stage codegen end to end, with map-side partial
    aggregation shrinking the shuffle to one row per (doc, partition).
    ~20× faster than the nested-lambda form, and docs with no shingles
    (< k tokens) drop out instead of colliding on a sentinel signature.

    Pass ``postings`` to reuse an already-built (ideally materialized)
    inverted index — the LSH pipeline builds postings once for both
    signatures and exact verification. Lane expressions are parsed SQL
    strings, not Column-object trees: 64 lanes × ~8 py4j round-trips per
    lane is half a second of pure driver overhead otherwise.
    """
    if postings is None:
        postings = shingle_postings(docs, id_col)
    hashed = postings.select(
        id_col, F.expr(f"pmod(xxhash64(shingle), {MERSENNE_31}L) AS h")
    )
    lanes = [
        F.expr(f"min(pmod(h * {PERM_A[i]}L + {PERM_B[i]}L, {MERSENNE_31}L)) AS _s{i}")
        for i in range(MINHASH_PERMS)
    ]
    mins = hashed.groupBy(id_col).agg(*lanes)
    arr = ",".join(f"_s{i}" for i in range(MINHASH_PERMS))
    return mins.select(id_col, F.expr(f"array({arr}) AS sig"))


def oph_signatures(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Densified one-permutation MinHash signatures (Li/Owen/Zhang 2012;
    Shrivastava & Li 2014) — the ONE-PASS signature path.

    Classic k-lane MinHash evaluates k affine transforms per posting row
    (minhash_signatures runs 64 pmod-multiply lanes inside its
    aggregate). OPH hashes each shingle ONCE, scatters it into
    bin = h mod 64, and takes a plain per-bin min — the per-posting cost
    drops from 64 arithmetic lanes to 1 hash + 1 min, the asymptotic
    win at corpus scale where signature computation dominates LSH cost.

    Empty bins (docs with < ~64 distinct shingles) are densified by
    borrowing the nearest non-empty bin to the right (circular), offset
    by t*2654435761 so borrowing distance decorrelates the copies —
    Shrivastava's "optimal densification" rotation. Densified OPH is an
    unbiased Jaccard estimator, so the downstream banding/verify
    machinery (lsh_band_keys, jaccard_for_pairs) is unchanged.

    Plan shape: one hash-aggregate on (doc, bin) with map-side partial
    min, then a per-doc map fold — both whole-stage-codegen except the
    bounded 64-entry map collect; no per-lane expressions anywhere.
    """
    if postings is None:
        postings = shingle_postings(docs, id_col)
    hashed = postings.select(
        id_col, F.expr(f"pmod(xxhash64(shingle), {MERSENNE_31}L) AS h")
    )
    bins = hashed.groupBy(
        id_col, F.expr(f"CAST(h % {MINHASH_PERMS} AS INT)").alias("bin")
    ).agg(F.min("h").alias("mh"))
    m = bins.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "mh"))).alias("m")
    )
    k = MINHASH_PERMS
    dens = F.expr(
        f"""transform(sequence(0, {k - 1}), j ->
              aggregate(sequence(0, {k - 1}), CAST(NULL AS BIGINT), (acc, t) ->
                coalesce(acc,
                  element_at(m, CAST((j + t) % {k} AS INT)) + t * 2654435761L)))"""
    )
    return m.select(id_col, dens.alias("sig"))


def lsh_band_keys(sig_expr: str = "sig") -> F.Column:
    """Explodeable array of (band, key) structs — banding for the LSH join.

    Docs agreeing on all rows of any band become a candidate pair. The
    band key is the join/shuffle key: candidate generation is an equi-join,
    never a cross join.

    r16: the band array is a STATIC array(struct(...)) literal expression —
    band count is a compile-time constant, so nothing forces the
    interpreted `transform(sequence(...), j -> ...)` higher-order path
    (guide §4.1: stay in codegen when a built-in form exists). Values are
    identical position-for-position; measured neutral at sf0.1 (the
    per-doc row count is tiny next to the 64-lane signature agg) and it
    removes the signature stage's last non-codegen expression.
    """
    structs = []
    for j in range(MINHASH_BANDS):
        parts = ", ".join(
            f"{sig_expr}[{MINHASH_ROWS * j + r}]" for r in range(MINHASH_ROWS)
        )
        structs.append(f"struct({j} AS band, concat_ws(':', {parts}) AS key)")
    return F.expr("array(" + ", ".join(structs) + ")")


def shingle_postings(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) inverted index — the exact-verify building block."""
    return (
        docs.select(id_col, tokens().alias("w"))
        .select(id_col, F.explode(word_shingles("w")).alias("shingle"))
    )


def cap_shingle_df(
    postings: DataFrame, max_df: int, id_col: str = "doc_id"
) -> DataFrame:
    """Drop shingles whose document frequency exceeds `max_df`.

    The skew mitigation for pathological corpora (boilerplate headers,
    license blocks): a shingle shared by d documents contributes d²/2 rows
    to the posting self-join, so one hot shingle at d=10⁶ dominates the
    whole stage. Hot shingles carry almost no discriminative signal —
    dropping them bounds the join at O(max_df²) per shingle while leaving
    genuinely near-duplicate pairs (which share many LOW-df shingles)
    intact. Plan: one extra hash-aggregate on the shingle plus a semi-join
    keyed on the same column the downstream self-join shuffles on, so the
    exchange is reused, not added.
    """
    ok = (
        postings.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    return postings.join(ok, "shingle", "left_semi").select(id_col, "shingle")


def exact_jaccard_pairs(
    postings: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact word-shingle Jaccard over an inverted index (no cross join).

    Self-join on the shingle (shuffle key = shingle) → per-pair intersection
    counts → |A∪B| from per-doc sizes. Hot shingles are the skew risk at
    scale — AQE skew-join splits them; `max_df` applies the df-cap filter
    (`cap_shingle_df`), computing Jaccard over the capped shingle sets on
    both sides of the ratio — exact for the reduced universe, upper-bounds
    nothing: pairs held together only by boilerplate drop out by design.
    """
    if max_df is not None:
        postings = cap_shingle_df(postings, max_df, id_col)
    # The posting list feeds three plan branches (both self-join sides +
    # the size aggregate); materialize it once instead of re-running the
    # shingle explode per branch — at corpus scale the inverted index is
    # persisted before the self-join for exactly this reason. Eager: a lazy
    # checkpoint lets the three branches race to compute it concurrently,
    # tripling the explode work instead of sharing it.
    if materialize:
        postings = postings.transform(ckpt)
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("n"))
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"a.shingle") == F.col(f"b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jac", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))
    )


def jaccard_for_pairs(
    postings: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Exact word-shingle Jaccard for given (doc_a, doc_b) pairs only.

    The candidate-verification kernel: intersection counts come from
    joining each pair with its doc_a postings and matching doc_b postings
    on the shingle — work is Σ|A| over candidate pairs, NOT quadratic in
    the corpus. Use after LSH candidate generation; `exact_jaccard_pairs`
    is the all-pairs oracle for recall testing only.
    """
    if materialize:
        postings = postings.transform(ckpt)
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("n"))
    pa = postings.select(F.col(id_col).alias("doc_a"), F.col("shingle").alias("sh_a"))
    pb = postings.select(F.col(id_col).alias("__doc_b"), F.col("shingle").alias("sh_b"))
    inter = (
        pairs.join(pa, "doc_a")
        .join(pb, (F.col("doc_b") == F.col("__doc_b")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jac", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))
    )


def minhash_candidate_pairs(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
    max_df: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b), deduplicated across bands.

    Two independent skew dials, both off by default:

    - ``max_df`` caps shingle document frequency BEFORE minhashing
      (cap_shingle_df): boilerplate shingles stop polluting signatures, so
      boilerplate-only overlaps stop forming candidate buckets at all.
      This changes signatures (it's stopword removal for MinHash) — run
      the recall property test when tuning it.
    - ``max_bucket`` drops band buckets holding more than that many docs.
      A bucket of d docs emits d²/2 candidate pairs; one boilerplate
      cluster at d=10⁶ is 5·10¹¹ pairs in a single join group — the
      classic LSH failure at corpus scale. Giant buckets are precisely the
      non-discriminative ones (docs agreeing on a whole band of minhashes
      en masse share boilerplate, and near-dup members still co-occur in
      other, smaller buckets across the remaining bands). The cap bounds
      every join group at O(max_bucket²) with one extra hash-aggregate +
      semi-join on the (band, key) the self-join already shuffles on.
    """
    if max_df is not None:
        if postings is None:
            if docs is None:
                raise ValueError("max_df needs docs or postings")
            postings = shingle_postings(docs, id_col)
        postings = cap_shingle_df(postings, max_df, id_col)
    sigs = (
        minhash_signatures(docs, id_col, postings=postings)
        .select(id_col, F.explode(lsh_band_keys("sig")).alias("bk"))
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    # Both self-join sides (and the bucket-size aggregate, when capped)
    # consume the band keys, and Spark does NOT reuse the exchange across
    # the alias branches — without materialization the whole
    # explode→hash→64-lane-min pipeline runs once PER side. The band-key
    # set is one small row per (doc, band): checkpoint it eagerly.
    sigs = sigs.transform(ckpt)
    if max_bucket is not None:
        ok = (
            sigs.groupBy("band", "key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") <= max_bucket)
            .select("band", "key")
        )
        sigs = sigs.join(ok, ["band", "key"], "left_semi")
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


#: partition buckets per band for the PERSISTED LSH index — the band key
#: space is unbounded, so the index partitions on pb = band*B + hash(key)
#: mod B, giving a fixed 16×B partition layout that a probe can prune at
#: file-listing time (the q97f IVF move applied to LSH bands)
LSH_INDEX_BUCKETS = 8


def lsh_band_rows(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
) -> DataFrame:
    """(id, band, key, pb) — banded signature rows carrying the persisted
    index's partition-bucket column. The unit of both index APPEND and
    index PROBE for incremental MinHash-LSH dedup: a new batch's rows
    equi-join the stored corpus rows on (band, key), restricted to the
    pb partitions the batch's own keys hash into — O(batch + probed
    files), never a corpus re-scan."""
    sigs = minhash_signatures(docs, id_col, postings=postings)
    rows = sigs.select(
        id_col, F.explode(lsh_band_keys("sig")).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return rows.withColumn(
        "pb",
        F.expr(
            f"band * {LSH_INDEX_BUCKETS} + pmod(xxhash64(key), {LSH_INDEX_BUCKETS})"
        ),
    )


# ---------------------------------------------------------------------------
# SimHash (Arrow-batched pandas kernel — bit-majority isn't expressible
# efficiently as a built-in; this is the sanctioned slow path, ~10-100×
# faster than a row UDF)
# ---------------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens, fully vectorized per Arrow batch.

    All tokens of the batch are flattened and hashed in one call
    (pd.util.hash_array — SipHash with a fixed key, deterministic across
    executors and runs; no PYTHONHASHSEED dependence), then each document's
    bit-majority is a single scatter-add over the (token, 64-bit) sign
    matrix. ~20× the per-token-md5 loop. Returns a signed int64
    reinterpretation of the 64-bit fingerprint.
    """
    n = len(texts)
    if n == 0:
        return pd.Series([], dtype="int64")
    toks = texts.fillna("").str.split(" ")
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
    flat = np.asarray([tok for t in toks for tok in t], dtype=object)
    h = pd.util.hash_array(flat)  # uint64, deterministic fixed-key SipHash
    # (n_tokens, 64) bit matrix via unpackbits on the raw hash bytes — no
    # 64-lane uint64 broadcast intermediate. int16 counts are safe: majority
    # needs ones*2 > len, and per-doc token counts stay far below 2^15 in an
    # Arrow batch (Spark caps batches at maxRecordsPerBatch rows).
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    # Every doc has >= 1 token ("".split(" ") == [""]), so the contiguous
    # segment sum (reduceat over cumulative starts) is well-defined — and
    # ~100x faster than a scatter-add.
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    ones = np.add.reduceat(bits.astype(np.int16), starts, axis=0)
    fp_bits = (2 * ones > lens[:, None]).astype(np.uint8)  # strict majority
    fps = np.packbits(fp_bits, axis=1, bitorder="little").view(np.uint64).reshape(n)
    return pd.Series(fps.astype(np.int64, copy=False))


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_block: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with 16-bit block keying.

    Pigeonhole: two fingerprints within Hamming distance d ≤ 3 share at
    least one of four 16-bit blocks exactly; blocking on each quarter turns
    the all-pairs scan into an equi-join. For d up to `max_hamming` the
    block join is a high-recall prefilter (exact for d≤3), and every
    candidate is verified with an exact popcount, so no false positives.

    ``max_block`` is the skew dial (same contract as
    minhash_candidate_pairs' max_bucket): a (blk, key) bucket of d docs
    contributes d²/2 join rows, and near-identical boilerplate floods a
    few buckets; capping drops those groups with a semi-join on the key
    the self-join already shuffles on. Off by default.
    """
    sh = docs.select(id_col, simhash64(F.col("text")).alias("sh"))
    # both self-join sides (and the bucket-size agg when capped) consume
    # the fingerprints; without materialization the Arrow simhash kernel
    # runs once per branch (the q99q/minhash lesson — measured in PLANS.md)
    sh = sh.transform(ckpt)
    blocked = sh.select(
        id_col,
        "sh",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), q -> "
                "struct(q AS blk, shiftright(sh, q*16) & 65535 AS key))"
            )
        ).alias("bk"),
    ).select(id_col, "sh", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    if max_block is not None:
        ok = (
            blocked.groupBy("blk", "key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") <= max_block)
            .select("blk", "key")
        )
        blocked = blocked.join(ok, ["blk", "key"], "left_semi")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    cluster_id is the minimum doc id reachable through the pair graph, so
    every duplicate cluster keeps exactly one canonical representative
    (its smallest id) — the standard final step of corpus near-dedup.

    Iterative min-label propagation: each round joins every node's current
    label with its neighbors' and keeps the minimum, converging in
    O(graph diameter) rounds (near-dup graphs are shallow — chains longer
    than a few hops are rare). Each round is one shuffle join + one
    aggregate; `localCheckpoint` truncates the growing lineage so round N
    doesn't replay rounds 1..N-1 (the standard Spark iterative-algorithm
    discipline). Raises if the diameter exceeds max_iterations rather
    than returning wrong labels.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .transform(ckpt)
    )
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .transform(ckpt)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")).alias(
                    "__changed"
                ),
            )
        ).transform(ckpt)
        changed = updated.filter(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if changed == 0:
            return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    raise RuntimeError(f"dedup_clusters did not converge in {max_iterations} iterations")


# ---------------------------------------------------------------------------
# Embedding similarity (built-in higher-order fns; strictly sequential
# double folds so results are bit-identical to a sequential oracle)
# ---------------------------------------------------------------------------


def as_double_vec(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential-fold dot product (deterministic fp order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: F.Column) -> F.Column:
    return F.sqrt(dot(a, a))


# ---------------------------------------------------------------------------
# Bloom-filter membership (benchmark decontamination's 100 TB form)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 17  # bits (16 KiB bitset)
BLOOM_K = 4  # hash functions


def bloom_positions(shingle: F.Column, m: int = BLOOM_M, k: int = BLOOM_K) -> F.Column:
    """array<int> of the k bit positions for a shingle (xxhash64, seeds 0..k-1)."""
    return F.array(
        *[F.pmod(F.xxhash64(shingle, F.lit(s)), F.lit(m)).cast("int") for s in range(k)]
    )


def build_bloom_bits(
    shingles: DataFrame, col: str = "shingle", m: int = BLOOM_M, k: int = BLOOM_K
) -> list[int]:
    """Driver-side bitset (m/64 signed longs) over a shingle set.

    Bounded by the BENCHMARK's size, not the corpus's — decontamination
    blooms the eval set precisely because it is the small side. The
    resulting 16 KiB model ships to executors as plan literals (the same
    contract as the hyperplanes and PQ codebooks); distinct-position
    collect keeps the transfer at ≤ k·|bench| ints.
    """
    rows = (
        shingles.select(F.explode(bloom_positions(F.col(col), m, k)).alias("p"))
        .distinct()
        .collect()
    )
    words = [0] * (m // 64)
    for r in rows:
        p = r["p"]
        words[p // 64] |= 1 << (p % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_probe(
    bits: list[int], shingle: F.Column, m: int = BLOOM_M, k: int = BLOOM_K
) -> F.Column:
    """Boolean: all k bits set — i.e. the shingle is POSSIBLY in the set.

    Bloom guarantees NO false negatives (every true member probes true);
    false positives occur at the (1-e^{-kn/m})^k rate. The probe is a
    narrow whole-stage-codegen expression over a constant-folded literal
    array — element_at + dynamic shiftright + bitwiseAND — so membership
    against the benchmark costs zero joins and zero shuffle at any scale.
    """
    arr = array_literal([int(w) for w in bits])

    def bit_set(pos: F.Column) -> F.Column:
        word = F.element_at(arr, (pos / F.lit(64)).cast("int") + F.lit(1))
        return (
            F.call_function(
                "shiftright", word, F.pmod(pos, F.lit(64)).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )

    checks = [
        bit_set(F.pmod(F.xxhash64(shingle, F.lit(s)), F.lit(m))) for s in range(k)
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


# ---------------------------------------------------------------------------
# Distributed spherical k-means (Lloyd) — the SemDeDup clustering stage
# ---------------------------------------------------------------------------


def nearest_centroid(centroids: "Sequence[Sequence[float]]", vec: str | F.Column) -> F.Column:
    """Index of the nearest centroid by squared L2, ties to the lowest index.

    The centroid model is baked into the plan as literals (the same
    ship-the-model-as-a-constant contract as hyperplane_bucket and the
    IVF/PQ codebooks): the assignment is a narrow, whole-stage-codegen
    projection — NO shuffle, no broadcast, the corpus never moves. argmin
    is expressed as array_min over (d2, index) structs, whose lexicographic
    ordering gives deterministic tie-breaks.
    """
    v = F.col(vec) if isinstance(vec, str) else vec
    # r16: the k per-centroid (zip_with → aggregate → struct) trees are
    # collapsed into ONE transform over an array-of-arrays literal — the
    # same no-shuffle narrow projection with identical d2 folds and the
    # identical (d2, cid) lexicographic tie-break (transform's index
    # lambda supplies cid), but the analyzer/evaluator walks one
    # expression tree instead of k. Same-session A/B on q96d (k=8,
    # dim=64, 2 Lloyd iterations + final assignment): 3.73/3.69/2.80 →
    # 2.75/2.30/2.26 s, results byte-identical. The join-based argmin
    # alternative (centroids as a broadcast frame) also measured ~5-10%
    # faster locally but was REJECTED: it turns the assignment into
    # k×corpus shuffled rows per iteration — the wrong trade at the
    # 100 TB target this projection exists for.
    arr = array_literal([[float(x) for x in c] for c in centroids])
    return F.array_min(
        F.transform(
            arr,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d2"),
                i.alias("cid"),
            ),
        )
    )["cid"]


def lloyd_centroids(
    unit: DataFrame,
    init: "list[list[float]]",
    iters: int = 2,
    vec_col: str = "u",
) -> "list[list[float]]":
    """Fixed-iteration distributed Lloyd update; returns the final model.

    Per iteration: (1) assignment is the narrow literal argmin above over
    the FULL corpus (not a driver sample — this is MLlib KMeans' shape,
    not the IVF trainer's); (2) the update posexplodes vectors and runs a
    map-side-combined groupBy(cluster, dim-position) average, so the
    shuffle is k×dim partial sums per map task and the result is k×dim
    rows; (3) those few KB collect to the driver to become the next
    iteration's literals — the bounded per-iteration model exchange every
    distributed k-means performs. A cluster that loses all members keeps
    its previous centroid, so cluster ids stay stable and deterministic.
    """
    k, dim = len(init), len(init[0])
    cents = [list(map(float, c)) for c in init]
    for _ in range(iters):
        assigned = unit.withColumn("__c", nearest_centroid(cents, vec_col))
        rows = (
            assigned.select("__c", F.posexplode(vec_col).alias("__i", "__x"))
            .groupBy("__c", "__i")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in rows:
            by_c.setdefault(r["__c"], {})[r["__i"]] = r["__m"]
        cents = [
            [by_c[c][i] for i in range(dim)] if c in by_c else cents[c]
            for c in range(k)
        ]
    return cents


def hyperplane_bucket(vec_expr: str = "v") -> F.Column:
    """Sign-bucket id (0..2^planes-1) from seeded random hyperplanes.

    Hyperplanes are driver-side constants baked into the plan as literals —
    every executor computes the same bucketing with no broadcast needed.
    """
    bits = []
    for p, plane in enumerate(_HYPERPLANES):
        arr = array_literal_sql(plane)
        bits.append(
            f"(CASE WHEN aggregate(zip_with({vec_expr}, {arr}, (x,y) -> x*y), "
            f"0.0D, (acc,v) -> acc+v) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return F.expr(" + ".join(bits))


def multiprobe_buckets(bucket_expr: str = "bucket", radius: int = 1) -> F.Column:
    """The exact bucket plus every neighbor within Hamming `radius`.

    Probe fan-out controls the recall/cost dial: radius 1 scans
    (1+planes)/2^planes of the corpus per probe (7/64 here), radius 2 adds
    the C(planes,2) two-bit flips (22/64). Buckets are plan literals, so
    widening the radius changes only the explode width — the join stays an
    equi-join on the bucket key.
    """
    if radius not in (1, 2):
        raise ValueError(f"radius must be 1 or 2, got {radius}")
    probes = [f"CAST({bucket_expr} AS INT)"]
    probes += [f"CAST({bucket_expr} AS INT) ^ {1 << p}" for p in range(ANN_PLANES)]
    if radius >= 2:
        probes += [
            f"CAST({bucket_expr} AS INT) ^ {(1 << p) | (1 << q)}"
            for p in range(ANN_PLANES)
            for q in range(p + 1, ANN_PLANES)
        ]
    return F.expr("array(" + ", ".join(probes) + ")")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cell-bucketed search
# ---------------------------------------------------------------------------

IVF_CENTROIDS = 16
IVF_TRAIN_SAMPLE = 4096
IVF_ITERS = 10


def train_ivf_centroids(
    emb: DataFrame,
    vec_col: str = "v",
    id_col: str = "vec_id",
    n_centroids: int = IVF_CENTROIDS,
    sample_size: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_ITERS,
) -> np.ndarray:
    """Deterministic k-means coarse quantizer trained on a bounded sample.

    The ONE sanctioned driver-side collect in this module: a fixed-size
    training sample (smallest ids — deterministic) is k-means'd in numpy.
    The result is a (k, dim) float64 model a few KB large — like the
    hyperplanes, it ships to executors as a constant; the corpus itself
    never leaves the cluster. Init = first k sample points, fixed
    iteration count, float64 → bit-reproducible across runs.
    """
    rows = emb.select(vec_col).orderBy(id_col).limit(sample_size).collect()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    centroids = X[:n_centroids].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_cell_assigner(centroids: np.ndarray):
    """pandas UDF: embedding → nearest-centroid cell id (int).

    Arrow-batched argmin over the broadcast-as-closure centroid matrix —
    a narrow map over the corpus, computed once at index-build time and
    persisted alongside the vectors in production.
    """
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(X) == 0:
            return pd.Series([], dtype="int32")
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return assign


def ivf_probe_cells(centroids: np.ndarray, n_probe: int = 4):
    """pandas UDF: probe embedding → array of the n_probe nearest cell ids."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    return probes


# ---------------------------------------------------------------------------
# Product quantization (PQ): per-subspace codebooks + ADC search
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64-dim → 8 dims each)
PQ_K = 16  # codes per subspace (4 bits)
PQ_TRAIN_SAMPLE = 2048
PQ_ITERS = 10


def train_pq_codebooks(
    emb: DataFrame,
    vec_col: str = "v",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k: int = PQ_K,
    sample_size: int = PQ_TRAIN_SAMPLE,
    iters: int = PQ_ITERS,
) -> np.ndarray:
    """(m, k, dim/m) PQ codebooks: independent k-means per subspace.

    Same driver-side training contract as train_ivf_centroids: bounded
    deterministic sample (smallest ids), first-k init, fixed iterations,
    float64 — the model is ~8 KB and ships to executors as a closure
    constant; the corpus never collects. PQ compresses a 64-dim float
    vector to m 4-bit codes (512 bits → 32 bits, 16×), which is what makes
    a 100 TB embedding corpus scannable: ADC reads codes, not floats.
    """
    rows = emb.select(vec_col).orderBy(id_col).limit(sample_size).collect()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = np.empty((m, k, d), dtype=np.float64)
    for j in range(m):
        S = X[:, j * d : (j + 1) * d]
        C = S[:k].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def pq_encoder(codebooks: np.ndarray):
    """pandas UDF: embedding → array of m subspace code ids (int).

    Index-build-time narrow map (Arrow-batched argmin per subspace); in
    production the codes column is persisted next to the vectors and the
    floats are only touched again for re-ranking.
    """
    B = np.asarray(codebooks, dtype=np.float64)
    m, _, d = B.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * d : (j + 1) * d]
            d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_adc_kernel(codebooks: np.ndarray, queries: list[tuple[int, np.ndarray]]):
    """mapInPandas kernel: (vec_id, codes) partitions → (qid, nid, approx).

    Asymmetric distance computation: each query builds one (m, k) lookup
    table of subspace dot products against the codebooks; a corpus row's
    approximate dot is the sum of m table gathers — no float vector is
    read. The LUT build is O(Q·k·dim) once per task; scoring is a numpy
    fancy-gather over the whole Arrow batch. Queries arrive as a
    driver-side constant (same sanctioned-small-collect contract as the
    IVF/PQ training sample).
    """
    B = np.asarray(codebooks, dtype=np.float64)
    m, k, d = B.shape
    qids = np.asarray([q[0] for q in queries], dtype=np.int64)
    QV = np.asarray([q[1] for q in queries], dtype=np.float64)  # (Q, dim)
    # LUT[q, j, c] = dot(query q's j-th subvector, codebook[j][c])
    lut = np.einsum("qjd,jcd->qjc", QV.reshape(len(qids), m, d), B)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = np.stack([np.asarray(c) for c in pdf["codes"].values])  # (n, m)
            approx = np.zeros((len(qids), n))
            for j in range(m):
                approx += lut[:, j, :][:, codes[:, j]]
            nid = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids, n),
                    "nid": np.tile(nid, len(qids)),
                    "approx": approx.ravel(),
                }
            )

    return kernel


# ---------------------------------------------------------------------------
# Text statistics / fingerprinting (pure built-ins)
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

# Explicit ASCII classes (not \w) so Spark's Java regex and an ANSI-SQL
# oracle's RE2-style engine agree byte-for-byte.
PUNCT_RE = "[^A-Za-z0-9_ ]"
BPE_ISH_RE = "[A-Za-z0-9_]+|[^A-Za-z0-9_ ]"


def rolling_fingerprint(text_col: str = "text") -> F.Column:
    """Polynomial rolling hash over characters: fold (acc*31 + code) mod p.

    A content fingerprint that any engine can recompute (sequential int64
    fold) — the corpus analog of the reference's deterministic event IDs.
    """
    return F.expr(
        f"""aggregate(
              transform(filter(split({text_col}, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT)),
              CAST({ROLLING_HASH_INIT} AS BIGINT),
              (acc, c) -> pmod(acc * {ROLLING_HASH_MULT} + c, {ROLLING_HASH_MOD}L))"""
    )


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata; decode is stubbed —
# image/audio libs are not in this container — but the Spark plumbing is
# real: Arrow-batched mapInPandas over BinaryType)
# ---------------------------------------------------------------------------

MULTIMODAL_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("n_frames", T.LongType()),
    ]
)

FRAME_BYTES = 256  # deterministic fake "frame" granularity for the stub


def decode_image(payload: bytes) -> "object":
    """General image decode seam. PNG/PPM (codecs.decode_png/decode_ppm),
    baseline grayscale JPEG (codecs.decode_jpeg_gray, q99f),
    chroma-subsampled color JPEG in every {1,2}-factor layout
    (codecs.decode_jpeg_color, q99h/q99k), PROGRESSIVE JPEG
    (codecs.decode_jpeg_progressive, q99l), GIF, and WebP-lossless
    VP8L (codecs.decode_webp_lossless, q99y — literal subset; its
    transform/cache/backref seams raise inside the decoder) decode
    here in pure Python; the deploy-time codec-library seam remains
    only for AVIF and lossy VP8. JPEG dispatch: SOF markers route
    grayscale vs color vs progressive."""
    from better_cdc_spark import codecs

    if payload[:8] == codecs.PNG_SIG:
        return codecs.decode_png(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        if payload[12:16] == b"VP8L":
            return codecs.decode_webp_lossless(payload)
        # lossy VP8 / extended VP8X: the declared deploy-time codec seam
        raise NotImplementedError("lossy/extended WebP: deploy-time codec seam")
    if payload[:2] == b"P6":
        return codecs.decode_ppm(payload)
    if payload[:2] == b"BM":
        return codecs.decode_bmp(payload)
    if payload[:4] == b"qoif":
        return codecs.decode_qoi(payload)
    if payload[:2] == b"\xff\xd8":
        try:
            return codecs.decode_jpeg_gray(payload)
        except ValueError as exc:
            if "single-component" not in str(exc) and "SOF0" not in str(exc):
                raise
            # 3-component or progressive: the color path (which itself
            # routes SOF2 to the progressive decoder)
            return codecs.decode_jpeg_color(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return codecs.decode_gif(payload)
    raise NotImplementedError("unrecognized image format: deploy-time codec seam")


def decode_audio(payload: bytes) -> "object":
    """Audio decode seam. PCM WAV (codecs.decode_wav), 4-bit IMA ADPCM
    WAV (codecs.decode_wav_ima_adpcm, q99j), G.711 WAV (q99m), and FLAC
    (codecs.decode_flac, q99p — fixed-prediction subset, CRC-verified)
    decode here in pure Python — dispatch on container magic + the fmt
    chunk's format tag; perceptual codecs (MP3, AAC, Opus) remain the
    deploy-time seam. Every branch returns the raw decoder dict
    (samples/frames + framerate + duration_us), never a sniff_media-style
    summary — callers (q99j/q99p kernels) consume the waveform."""
    from better_cdc_spark import codecs

    if payload[:4] == b"fLaC":
        return codecs.decode_flac(payload)
    if payload[:4] == b".snd":
        return codecs.decode_au(payload)
    if payload[:4] == b"FORM" and payload[8:12] == b"AIFF":
        return codecs.decode_aiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        idx = payload.find(b"fmt ")
        tag = struct.unpack_from("<H", payload, idx + 8)[0] if idx >= 0 else 1
        if tag == 0x11:
            return codecs.decode_wav_ima_adpcm(payload)
        if tag in (6, 7):  # G.711 A-law / mu-law companded telephony PCM
            return codecs.decode_wav_g711(payload)
        return codecs.decode_wav(payload)
    raise NotImplementedError("audio decoding requires an audio library at deploy time")


def decode_video_frames(payload: bytes, every_n: int = 30) -> "object":
    """Video frame-sampling seam. MJPEG-in-AVI decodes here in pure
    Python (RIFF container walk + the q99h color-JPEG path per SAMPLED
    frame — dropped frames never pay decode); inter-frame-predicted
    codecs (H.264, VP9, ...) remain the deploy-time seam."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from better_cdc_spark import codecs

        return codecs.sample_avi_frames(payload, every_n=every_n)
    raise NotImplementedError("video decoding requires a video library at deploy time")


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


AUDIO_WINDOW = 1024
AUDIO_HOP = 512


def audio_windows(window: int = AUDIO_WINDOW, hop: int = AUDIO_HOP):
    """mapInPandas kernel factory: waveform payload → overlapping windows.

    The audio-analysis plumbing (decode_audio stands in for the codec):
    fixed-size windows at 50% overlap, each emitting its exact integer
    byte sum and length (mean amplitude = sum/len computed downstream in
    one double division — keeping the kernel integer-exact makes the op
    oracle-checkable and replay-stable). Fan-out ∝ payload bytes / hop;
    same explode-inside-executor shape as sample_frames.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_start, out_len, out_sum = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = np.frombuffer(bytes(payload), dtype=np.uint8)
                for start in range(0, len(data), hop):
                    w = data[start : start + window]
                    out_doc.append(doc_id)
                    out_start.append(start)
                    out_len.append(len(w))
                    out_sum.append(int(w.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "win_start": pd.Series(out_start, dtype="int64"),
                    "win_len": pd.Series(out_len, dtype="int64"),
                    "byte_sum": pd.Series(out_sum, dtype="int64"),
                }
            )

    return kernel


def sample_frames(every_n: int = 2):
    """mapInPandas kernel factory: payload → one row per sampled frame.

    The video frame-sampling plumbing (decode_video_frames stands in for
    the codec): each FRAME_BYTES-sized slice of the payload is a "frame";
    every_n-th frame is emitted as its own row with a digest. One input
    row fans out to many output rows entirely inside the executor — the
    Python-side analog of explode, with Arrow batching both directions.
    At 100 TB fan-out multiplies rows, not bytes read; repartition the
    output on doc_id before shuffling wide downstream ops.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_bytes, out_dig = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n_frames = len(data) // FRAME_BYTES + 1
                for i in range(0, n_frames, every_n):
                    frame = data[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_bytes.append(frame)
                    out_dig.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int64"),
                    "frame_bytes": out_bytes,
                    "frame_digest": out_dig,
                }
            )

    return kernel


def extract_payload_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: deterministic features from opaque binary payloads.

    Stands in for decode/resize/frame-sample; the Spark-side contract
    (BinaryType in, typed struct out, Arrow batching, partition-parallel)
    is exactly what a real decoder would use — only the per-payload body
    would change.
    """
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "mime": pdf["mime"],
                "n_bytes": n_bytes,
                "digest": pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest()),
                "n_frames": n_bytes // FRAME_BYTES + 1,
            }
        )


# ---------------------------------------------------------------------------
# Real container decode (codecs.py: pure-stdlib PNG/WAV/PPM) — the decode
# path EXECUTES in this container; decode_image & co. above remain the
# deploy-time seams for codec-library formats (JPEG, MP3, MP4).
# ---------------------------------------------------------------------------

MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def synth_media_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: doc_id → deterministic REAL container payloads.

    Each doc gets a genuine PNG (doc_id%3==0), WAV (==1) or P6 PPM (==2)
    whose dimensions/content are closed-form functions of doc_id — so the
    downstream decode is oracle-checkable in SQL while the bytes on the
    wire are honest container files (signatures, chunk CRCs, RIFF
    headers), not fakes.
    """
    from better_cdc_spark import codecs

    for pdf in batches:
        out_doc, out_mime, out_payload = [], [], []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            m = d % 3
            if m == 0:
                w, h = 16 + d % 32, 8 + d % 16
                px = bytes((d * 31 + i * 7) % 256 for i in range(w * h))
                payload, mime = codecs.encode_png(w, h, px), "image/png"
            elif m == 1:
                ns = 800 + (d % 100) * 8
                samples = bytes((d * 13 + i * 5) % 256 for i in range(ns))
                payload, mime = codecs.encode_wav(samples, framerate=8000), "audio/wav"
            else:
                w, h = 8 + d % 8, 4 + d % 4
                rgb = bytes((d * 17 + i * 11) % 256 for i in range(w * h * 3))
                payload, mime = codecs.encode_ppm(w, h, rgb), "image/ppm"
            out_doc.append(d)
            out_mime.append(mime)
            out_payload.append(payload)
        yield pd.DataFrame({"doc_id": pd.Series(out_doc, dtype="int64"),
                            "mime": out_mime, "payload": out_payload})


def decode_media_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, mime, payload) → decoded metadata.

    Dispatches on mime to the pure-stdlib codecs: PNG scanlines are
    reconstructed (all five filters), WAV frames are read through the
    stdlib wave reader, PPM rasters are parsed — checksum is the integer
    sum of the DECODED payload bytes, so a broken filter/inflate path
    cannot pass the oracle. Unknown mimes raise (the engine's crash-first
    decode policy; route through a DLQ wrapper to quarantine instead).
    """
    from better_cdc_spark import codecs

    for pdf in batches:
        doc, mime_o, width, height, dur, chk = [], [], [], [], [], []
        for doc_id, mime, payload in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
            data = bytes(payload)
            if mime == "image/png":
                m = codecs.decode_png(data)
                w, h, d_ms = m["width"], m["height"], None
                checksum = sum(m["pixels"])
            elif mime == "audio/wav":
                m = codecs.decode_wav(data)
                w, h, d_ms = None, None, m["duration_us"] // 1000
                checksum = sum(m["frames"])
            elif mime == "image/ppm":
                m = codecs.decode_ppm(data)
                w, h, d_ms = m["width"], m["height"], None
                checksum = sum(m["pixels"])
            else:
                raise ValueError(f"no codec for mime {mime!r}")
            doc.append(int(doc_id))
            mime_o.append(mime)
            width.append(w)
            height.append(h)
            dur.append(d_ms)
            chk.append(checksum)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc, dtype="int64"),
                "mime": mime_o,
                "width": pd.Series(width, dtype="Int64"),
                "height": pd.Series(height, dtype="Int64"),
                "duration_ms": pd.Series(dur, dtype="Int64"),
                "checksum": pd.Series(chk, dtype="Int64"),
            }
        )


def resize_ppm_nearest(out_w: int, out_h: int):
    """mapInPandas kernel factory: decode P6 PPM payloads and resize to
    (out_w, out_h) by nearest-neighbor sampling with floor scaling
    (sx = x*src_w // out_w) — the deterministic integer-exact resize, so
    the resized raster (and its checksum) is reproducible in closed-form
    SQL. The per-payload body is the only thing a PIL/libjpeg swap-in
    would replace; the Arrow plumbing, schema, and batch shape are the
    production path.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from better_cdc_spark import codecs

        for pdf in batches:
            doc_ids, src_ws, src_hs, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = codecs.decode_ppm(bytes(payload))
                w, h = meta["width"], meta["height"]
                arr = np.frombuffer(meta["pixels"], dtype=np.uint8).reshape(h, w, 3)
                sx = (np.arange(out_w) * w) // out_w
                sy = (np.arange(out_h) * h) // out_h
                resized = arr[sy][:, sx, :]
                doc_ids.append(int(doc_id))
                src_ws.append(w)
                src_hs.append(h)
                sums.append(int(resized.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "src_w": pd.Series(src_ws, dtype="int64"),
                    "src_h": pd.Series(src_hs, dtype="int64"),
                    "resized_checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return kernel


def winnowing_fingerprints(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD 2003)
    for a (doc_id, text) DataFrame: md5 word-k-gram hashes, window-min
    over every run of ``w`` consecutive gram hashes, distinct per doc.

    Guarantee (the reason to prefer this over MinHash when recall must be
    1): any shared word run of >= w+k-1 tokens contains at least one full
    window on both sides, and equal windows select equal minima — so the
    docs share a fingerprint deterministically. md5 hex strings compare
    lexicographically identically everywhere; at 100 TB the key becomes
    xxhash64 to shrink the shuffle (see tools/scale_probe.py).
    """
    from pyspark.sql import Window as W

    words = F.filter(F.split("text", " "), lambda x: x != "")
    gram_hashes = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.md5(
                F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(k)])
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select(
        "doc_id", F.posexplode(gram_hashes).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "h")
    wmin = grams.select(
        "doc_id",
        "i",
        F.min("h")
        .over(W.partitionBy("doc_id").orderBy("i").rowsBetween(-(w - 1), 0))
        .alias("fp"),
    )
    return wmin.filter(F.col("i") >= w).select("doc_id", "fp").distinct()


BM25_K1 = 1.2
BM25_B = 0.75


def lower_words() -> F.Column:
    """The corpus tokenizer: the ``text`` column lowercased and split on
    single spaces (empty tokens kept). The DuckDB oracles spell it
    ``string_split(lower(text), ' ')``."""
    return F.split(F.lower("text"), " ")


def bm25_postings(docs: DataFrame, qterms: DataFrame):
    """Shared postings pass for query-vocabulary-bounded lexical scoring
    (q97h BM25, q97i RRF, tools/scale_probe.py): returns
    (dl, stats, tf, dfreq) where

    - dl:    per-doc token count,
    - stats: ONE row (n_docs, avgdl, t=total tokens) — the broadcastable
             scalar side,
    - tf:    per-(doc, term) counts restricted to the query vocabulary —
             the semi-join BEFORE the tf shuffle is the retrieval-shape
             invariant: every downstream cost is bounded by hit volume,
             never corpus tokens,
    - dfreq: per-term document frequency over tf.
    """
    words = docs.select(
        "doc_id", F.explode(lower_words()).alias("w")
    )
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
        F.sum("dl").alias("t"),
    )
    tf = (
        words.join(F.broadcast(qterms.select("w").distinct()), "w")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    return dl, stats, tf, dfreq


def bm25_term_score() -> F.Column:
    """Per-(doc, term) BM25 contribution (Lucene idf, k1/b above) over
    columns tf/df/dl/n_docs/avgdl — written with the exact literal
    arithmetic order the SQL oracles use, so doubles match cross-engine.
    """
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    return (idf * (F.col("tf") * (BM25_K1 + 1.0))) / (
        F.col("tf")
        + BM25_K1 * ((1.0 - BM25_B) + BM25_B * F.col("dl") / F.col("avgdl"))
    )


def audio_window_features(win: int = 1024, hop: int = 512):
    """mapInPandas kernel factory: decode WAV payloads (stdlib codec) and
    emit per-window zero-crossing counts and integer energy — the
    deterministic core of an audio feature-extraction stage (the VAD /
    silence-trim signals of a speech pipeline), closed-form recomputable
    because both features stay in integer space: samples are unsigned
    bytes, sign = (b >= 128), zcr = sum |sign_j - sign_{j-1}|,
    energy = sum (b-128)^2. A torchaudio/librosa swap-in replaces only
    the per-payload body; schema and batching are the production path.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from better_cdc_spark import codecs

        for pdf in batches:
            doc_ids, starts, lens, zcrs, energies = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = codecs.decode_wav(bytes(payload))
                pcm = np.frombuffer(meta["frames"], dtype=np.uint8)
                for s in range(0, len(pcm), hop):
                    w = pcm[s : s + win]
                    sign = (w >= 128).astype(np.int8)
                    doc_ids.append(int(doc_id))
                    starts.append(s)
                    lens.append(len(w))
                    zcrs.append(int(np.abs(np.diff(sign)).sum()))
                    energies.append(int(((w.astype(np.int64) - 128) ** 2).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "win_start": pd.Series(starts, dtype="int64"),
                    "win_len": pd.Series(lens, dtype="int64"),
                    "zcr": pd.Series(zcrs, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return kernel


def sniff_media(payload: bytes) -> dict:
    """Magic-byte dispatch over every container this engine decodes or
    scans — the `file(1)` of the media pipeline, and the first pass a
    mixed crawl runs before routing payloads to typed decode stages.
    Returns {mime, width, height, duration_us, detail} where detail is
    a format-specific integrity number (pixel/sample checksum for
    decoded formats, audio byte span for metadata-scanned ones).
    Unknown magics raise — an unroutable payload is a quarantine event,
    never a silent skip."""
    from better_cdc_spark import codecs

    if payload[:8] == codecs.PNG_SIG:
        m = codecs.decode_png(payload)
        return {
            "mime": "image/png", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[:4] == b".snd":
        m = codecs.decode_au(payload)
        return {
            "mime": "audio/basic", "width": None, "height": None,
            "duration_us": m["duration_us"],
            "detail": sum(m["samples"]),
        }
    if payload[:4] == b"FORM" and payload[8:12] == b"AIFF":
        m = codecs.decode_aiff(payload)
        return {
            "mime": "audio/aiff", "width": None, "height": None,
            "duration_us": m["duration_us"], "detail": sum(m["frames"]),
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        m = codecs.decode_wav(payload)
        return {
            "mime": "audio/wav", "width": None, "height": None,
            "duration_us": m["duration_us"], "detail": sum(m["frames"]),
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        m = codecs.decode_webp_lossless(payload)
        return {
            "mime": "image/webp", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["argb"]),
        }
    if payload[:2] == b"P6":
        m = codecs.decode_ppm(payload)
        return {
            "mime": "image/ppm", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[:2] == b"BM":
        m = codecs.decode_bmp(payload)
        return {
            "mime": "image/bmp", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[:4] == b"\x00\x00\x01\x00" and len(payload) > 22:
        m = codecs.decode_ico(payload)
        return {
            "mime": "image/x-icon", "width": m["width"],
            "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[:1] == b"\x0a" and len(payload) > 128 and payload[1] == 5:
        m = codecs.decode_pcx(payload)
        return {
            "mime": "image/pcx", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[-18:] == b"TRUEVISION-XFILE.\x00"[-18:]:
        # TGA has no LEADING magic; the v2 footer signature is the
        # published anchor (checked last-ish so prefix magics win)
        m = codecs.decode_tga(payload)
        return {
            "mime": "image/tga", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[:4] == b"qoif":
        m = codecs.decode_qoi(payload)
        return {
            "mime": "image/qoi", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[:2] == b"\xff\xd8":
        # same dispatch as decode_image: gray -> color (which itself routes
        # SOF2 progressive) — sniff_media is the file(1) of the pipeline and
        # must classify every JPEG decode_image can decode, not just the
        # flat grayscale subset the fixtures happen to feed it
        try:
            m = codecs.decode_jpeg_gray(payload)
        except ValueError as exc:
            if "single-component" not in str(exc) and "SOF0" not in str(exc):
                raise
            m = codecs.decode_jpeg_color(payload)
        return {
            "mime": "image/jpeg", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["pixels"]),
        }
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        m = codecs.decode_gif(payload)
        return {
            "mime": "image/gif", "width": m["width"], "height": m["height"],
            "duration_us": None, "detail": sum(m["indices"]),
        }
    if payload[:4] == b"fLaC":
        m = codecs.decode_flac(payload)
        samples = m["samples"] if m["channels"] == 1 else m["samples"][0]
        return {
            "mime": "audio/flac", "width": None, "height": None,
            "duration_us": m["n_samples"] * 1_000_000 // m["sample_rate"],
            "detail": sum(samples),
        }
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and payload[1] & 0xE0 == 0xE0
    ):
        m = codecs.scan_mpeg_frames(payload)
        return {
            "mime": "audio/mpeg", "width": None, "height": None,
            "duration_us": m["duration_us"], "detail": m["audio_bytes"],
        }
    if payload[:4] == b"OggS":
        m = codecs.scan_ogg_opus(payload)
        return {
            "mime": "audio/ogg", "width": None, "height": None,
            "duration_us": m["duration_us"], "detail": m["audio_bytes"],
        }
    raise ValueError(f"unroutable payload (magic {payload[:8]!r})")


def int_gram_partials(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Arrow-batched partial integer Gram over a vector column (q97w's
    kernel, shared with tools/scale_probe.py): each batch emits its
    d x d X'X on milli-quantized lanes plus column sums (j = -1) and
    row count (i = j = -1) — d^2 + d + 1 integer rows per batch, so
    THE VECTOR PAYLOAD NEVER CROSSES AN EXCHANGE and partials sum
    order-free to the exact global Gram (int64 matmul is exact).
    """
    import pandas as pd

    def gram_partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[col].to_numpy())
            xq = np.floor(x.astype(np.float64) * 1000.0).astype(np.int64)
            d = xq.shape[1]
            g = xq.T @ xq
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "i": ii.ravel().astype("int32"),
                            "j": jj.ravel().astype("int32"),
                            "g": g.ravel(),
                        }
                    ),
                    pd.DataFrame(
                        {
                            "i": np.arange(d, dtype="int32"),
                            "j": np.full(d, -1, dtype="int32"),
                            "g": xq.sum(axis=0),
                        }
                    ),
                    pd.DataFrame({"i": [-1], "j": [-1], "g": [len(pdf)]}),
                ]
            )

    return df.select(col).mapInPandas(gram_partial, "i int, j int, g long")
