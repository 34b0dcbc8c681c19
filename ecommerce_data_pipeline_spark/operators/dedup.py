"""Deduplication operators.

Two families:

1. **Kafka-identity dedup (W1)** — the reference's at-least-once cleanup:
   ``row_number() over (partition by topic,partition,offset order by
   kafka_timestamp desc)`` keep rn=1 (silver_orders.py:47-50). Correct for
   broker redelivery, intentionally NOT for producer-side logical duplicates
   (docs/events.md:33) — parity preserved.

2. **Document dedup for training-data pipelines** (engine extension):
   exact, n-gram Jaccard, MinHash+LSH, SimHash. All shingle hashing is
   md5-derived and therefore deterministic/oracle-checkable; shingling and
   hashing are built-in expressions in codegen. The ONE sanctioned Python
   hop is the Arrow-vectorized minhash/band-bucket pandas_udf in
   _profile_buckets — the 128-way affine-min fold is wide-agg-buffer-bound
   as SQL aggregates and interpreted as array lambdas, while numpy does it
   in milliseconds per batch (measured ~1.4x end-to-end query speedup);
   bucket values never leave the query, so no cross-engine parity is owed.

Scale notes (100 TB of documents):
- exact dedup is one hash-partitioned groupBy on a 16-byte digest — the
  canonical shuffle; AQE handles residual skew.
- MinHash: one corpus scan builds the per-doc shingle-hash set
  (_minhash_profile, materialized via lazy localCheckpoint so banding AND
  verification share it instead of re-scanning); LSH banding explodes to
  ``n_bands`` rows per doc (pinned too, so the band kernel runs once per
  doc) and joins on (band, bucket) — shuffle volume is
  bands×docs small fixed-width rows, independent of doc size. Candidate
  verification joins the profile back only for bucket-collision pairs
  (tiny). This is the standard shingle→minhash→band→bucket-join plan.
- n-gram Jaccard is quadratic in colliding shingles; it is the *verifier*
  for candidate pairs, or a direct method only at small corpus sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------------------
# W1: Kafka-identity dedup
# ---------------------------------------------------------------------------

def kafka_identity_dedup(df: DataFrame) -> DataFrame:
    """Keep the newest record per (topic, partition, offset)."""
    w = Window.partitionBy("topic", "partition", "offset").orderBy(
        F.col("kafka_timestamp").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shared text hashing primitives (all built-in expressions)
# ---------------------------------------------------------------------------

def _md5_long(c: Column) -> Column:
    """First 15 hex chars of md5 → non-negative int64. Deterministic across
    engines (DuckDB oracle replicates with the same md5 substring)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    Small test corpora arrive as ONE parquet file → one input partition →
    the CPU-bound shingle/hash map stage runs single-threaded. Fanning out
    first costs one tiny shuffle of (id, text) rows; at production scale
    (thousands of input files) the input is already spread and this is a
    cheap rebalance."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Spark neither codegens higher-order-function lambdas nor eliminates
    common subexpressions inside them, so an expression a lambda captures
    is re-evaluated for every array element. Passing it through a
    one-element ``transform`` binds it to a lambda variable instead."""
    return F.get(F.transform(F.array(value), body), F.lit(0))


def char_shingles(text: Column, k: int = 12) -> Column:
    """Distinct k-character shingles of lower(text) as an array<string>.

    Built with sequence+transform, not a Python UDF. lower(text) is bound
    once per row (``_let``): captured by the per-position ``substr``
    lambda it would lowercase the whole text once per shingle, O(len²)
    per document.
    """

    def shingles(t: Column) -> Column:
        n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n), lambda i: F.substr(t, i, F.lit(k))
        )

    return F.array_distinct(_let(F.lower(text), shingles))


# Universal-hash constants for MinHash permutations: h_i(x) = (a_i*x + b_i) mod P
# with P = 2^31 - 1 (prime). One md5 per shingle, then n cheap affine maps —
# ~100x cheaper than hashing every (permutation, shingle) pair, and products
# stay < 2^62 so int64 arithmetic never overflows (ANSI-mode safe).
MINHASH_PRIME = 2_147_483_647
_A_MULT = 2_654_435_761
_B_MULT = 40_503


def _exploded_shingle_hashes(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, h): one md5-derived int64 per distinct shingle per doc.

    Explode-then-hash guarantees each shingle is hashed exactly ONCE — an
    array-expression formulation that references the hashed array from N
    per-permutation lambdas gets re-inlined by Catalyst and evaluates md5
    N× per shingle (a measured 100× constant-factor blow-up)."""
    return _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(char_shingles(F.col(text_col), k)).alias("shingle"),
    ).select("doc_id", _md5_long(F.col("shingle")).alias("h"))


def minhash_signatures(
    docs: DataFrame,
    k: int = 12,
    n_hashes: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sig array<long>) MinHash signatures.

    Plan: explode shingles → md5 once per (doc, shingle) row → n_hashes
    min-aggregates of cheap affine permutations. The groupBy shuffles ~1
    combined row per doc per input partition (map-side partial min), so
    shuffle volume is docs × n_hashes fixed-width longs — independent of
    document size. This is the scan-side signature step of the standard
    shingle→minhash→band plan.

    Role: the pure-SQL-aggregate VERIFIER TWIN of the Arrow/numpy band
    kernel (_profile_buckets) — same affine maps, so per-doc mins and band
    co-bucketing must match, which tests/test_round10_new.py asserts. The
    hot path uses the numpy kernel (128 wide SQL min-aggregates measured
    ~100x slower); this form is also what you persist when the signature
    ARTIFACT itself is the product (signature_artifact's exact/bucket
    tables cover that for the incremental path).
    """
    hashed = _exploded_shingle_hashes(docs, k, text_col, id_col).select(
        "doc_id", (F.col("h") % MINHASH_PRIME).alias("h")
    )
    aggs = [
        F.min(
            (
                F.lit((i * _A_MULT) % MINHASH_PRIME) * F.col("h")
                + F.lit((i * _B_MULT) % MINHASH_PRIME)
            )
            % MINHASH_PRIME
        ).alias(f"__mh{i}")
        for i in range(1, n_hashes + 1)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[f"__mh{i}" for i in range(1, n_hashes + 1)]).alias("sig"),
        )
    )


def _lsh_buckets(sigs: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """(doc_id, band, bucket): LSH banding of minhash signatures — bucket =
    md5 of the band's signature slice. Shared by the self-join
    (minhash_lsh_pairs) and the incremental new-vs-existing join."""
    rows_per_band = n_hashes // n_bands
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bnd: F.md5(
                    F.concat_ws(
                        ":",
                        F.slice(
                            F.col("sig"), bnd * rows_per_band + 1, rows_per_band
                        ).cast("array<string>"),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def _jaccard_expr(a: str, b: str) -> Column:
    """Exact 4dp-rounded Jaccard of two shingle-SET columns, with one
    array pass instead of two: |A∪B| is derived as |A|+|B|−|A∩B| rather
    than materializing ``array_union`` just to take its size (r17, guide
    §1.2 — the sf1 probe measured verification, not candidate
    generation, as the LSH tier's dominant cost: 1.04 M candidate pairs
    × two multi-hundred-element array builds to confirm 256 real pairs).
    Requires set semantics on both sides — every caller feeds
    ``_minhash_profile``'s ``collect_set`` arrays — which makes the
    identity exact, so the int/int→double division and the 4dp round are
    bit-identical to the union formulation (the DuckDB oracles compute
    intersection/union independently; equality is unchanged). The two
    ``inter`` references collapse to one evaluation via codegen
    subexpression elimination."""
    inter = F.size(F.array_intersect(a, b))
    return F.round(inter / (F.size(a) + F.size(b) - inter), 4)


def _minhash_profile(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, shingles array<long>): per-doc shingle-hash SET from a
    single corpus scan + one groupBy shuffle, materialized once.

    This is the shared substrate for the LSH plan: band buckets AND
    exact-Jaccard verification arrays both derive from this one frame. The
    lazy localCheckpoint makes that sharing real — without it Catalyst's
    column pruning happily re-plans each consumer branch all the way down
    to its own corpus scan, re-running the CPU-bound shingle+md5 stage 2-4x
    per query (measured: that recompute, not the join, dominated the old
    plan).

    Scale note: the checkpoint holds every (doc, shingle-hash) — 8 bytes
    per distinct 12-char shingle, ~2/3 of corpus text volume, spillable
    (MEMORY_AND_DISK). The alternative rescans + reshingles the full corpus
    per branch; one bounded materialization is the better trade at 100 TB,
    and is what MLlib's MinHashLSH effectively does via .cache().
    """
    return (
        _exploded_shingle_hashes(docs, k, text_col, id_col)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("shingles"))
        .localCheckpoint(eager=False)
    )


def _profile_buckets(
    profile: DataFrame, n_hashes: int, n_bands: int
) -> DataFrame:
    """(doc_id, band, bucket): LSH band buckets straight off a
    _minhash_profile's hash arrays via one Arrow-vectorized pandas_udf.

    Why not built-ins: the minhash mins need n_hashes affine-mod folds over
    every shingle hash. As 128 SQL min-aggregates that is ~1.6 s/M docs of
    per-row wide-buffer updates (measured, codegen HashAggregate); as
    array transform() lambdas it is interpreted (higher-order functions
    don't codegen) and slower still. numpy does the same 10^8 multiply-
    add-mod-min ops in milliseconds per Arrow batch, so this is the
    documented extension-layer exception to the zero-UDF discipline.

    The permutations are the SAME affine maps as minhash_signatures
    ((i*A)%P * (h%P) + (i*B)%P, all < 2^62 — no int64 overflow, identical
    LSH recall math). Band buckets are an FNV-style fold of each band's
    mins — bucket values only ever meet an equi-join within the same query,
    so they need determinism, not cross-engine parity. Products wrap mod
    2^64 (numpy uint64), deterministically, on every executor.
    """
    a = np.array(
        [(i * _A_MULT) % MINHASH_PRIME for i in range(1, n_hashes + 1)],
        dtype=np.int64,
    )[:, None]
    b = np.array(
        [(i * _B_MULT) % MINHASH_PRIME for i in range(1, n_hashes + 1)],
        dtype=np.int64,
    )[:, None]
    rows_per_band = n_hashes // n_bands
    fnv = np.uint64(1099511628211)

    @F.pandas_udf("array<bigint>")
    def band_buckets(shingles: pd.Series) -> pd.Series:
        out = []
        for arr in shingles:
            h = np.asarray(arr, dtype=np.int64) % MINHASH_PRIME
            mins = ((a * h[None, :] + b) % MINHASH_PRIME).min(axis=1)
            bands = mins.astype(np.uint64).reshape(n_bands, rows_per_band)
            bucket = bands[:, 0]
            for j in range(1, rows_per_band):
                bucket = bucket * fnv + bands[:, j]
            out.append(bucket.astype(np.int64))
        return pd.Series(out)

    return profile.select(
        "doc_id", F.posexplode(band_buckets("shingles")).alias("band", "bucket")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate removal by content digest: keep min id per md5(text).

    Returns (doc_id, content_hash, dup_count) — one row per distinct content.
    No input repartition (unlike the shingle operators): one md5 per row
    into a map-side-combined groupBy is scan-bound; a pre-shuffle of the
    full corpus text would cost more than the map stage it parallelizes.
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "content_hash", "dup_count")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (explode + self-join)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: str = "lsh",
    n_hashes: int = 128,
    n_bands: int = 32,
) -> DataFrame:
    """(d1 < d2) pairs with char-k-gram Jaccard >= threshold.

    ``candidates`` selects the candidate-generation plan; every candidate is
    then verified with exact set Jaccard, so precision is always exact:

    - ``"lsh"`` (default, the 100 TB plan): MinHash band buckets generate
      candidates — shuffle volume is bands x docs fixed-width rows and the
      quadratic work happens only inside colliding buckets. Recall is the
      LSH S-curve (≈1-1e-14 at j=0.9 for 32x4 bands); on a corpus whose
      similarity distribution is bimodal around the threshold this equals
      the exact answer (tests assert it on the fixture corpus).
    - ``"prefix"``: exact prefix-filtered set-similarity join
      (Vernica/Carey/Li, SIGMOD'10 shape): a pair with Jaccard >= t must
      share a shingle among each doc's ``n - ceil(t*n) + 1`` globally-rarest
      shingles, so only those "prefix" shingles generate candidates (~20x
      fewer than the raw self-join), then exact verify. Guaranteed recall
      1.0, but the rare-shingle self-join still grows super-linearly on
      corpora with heavy cross-document shingle sharing — keep it as the
      oracle/verifier; run "lsh" at scale.

    Output: (doc_id_a, doc_id_b, jaccard) with jaccard rounded to 4dp.
    """
    if candidates == "lsh":
        return minhash_lsh_pairs(
            docs, threshold, k, n_hashes, n_bands, text_col, id_col
        )
    if candidates != "prefix":
        raise ValueError(
            f"candidates must be 'lsh' or 'prefix', got {candidates!r}"
        )
    # One materialized shingle pass shared by the prefix-filter branch and
    # both verification sides (the old plan re-shingled the corpus 3x).
    # |shingle set| rides along as size(shingles) — no count window needed.
    base = _minhash_profile(docs, k, text_col, id_col)
    sh = base.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("sh")
    )
    # Document frequency as a window count over the shingle partition —
    # the groupBy+join-back formulation shuffled the exploded shingle set
    # once more for the join's probe side (same rewrite as
    # duplicate_span_stats).
    w_doc = Window.partitionBy("doc_id").orderBy("df", "sh")
    ranked = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    ).withColumn("rk", F.row_number().over(w_doc))
    prefix = ranked.filter(
        F.col("rk") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("doc_id", "sh", "rk", "n")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # PPJoin positional filter: the intersection is at most 1 (this shared
    # shingle) + the shorter remaining suffix, and J >= t needs
    # |inter| >= t/(1+t) * (na+nb); drop join rows that cannot reach it.
    ub = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk")
    )
    required = F.ceil(F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n")))
    cand_pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ub >= required),
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )
    va = base.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    vb = base.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand_pairs.join(va, "doc_id_a")
        .join(vb, "doc_id_b")
        .withColumn("jaccard", _jaccard_expr("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH candidate generation, exact-verified
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 12,
    n_hashes: int = 128,
    n_bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via shingle→minhash→band→bucket-join, then exact
    Jaccard verification of candidates.

    32 bands × 4 rows: P(candidate | j) = 1-(1-j^4)^32 — ≈1-1e-14 at j=0.9,
    ~0.03 at j=0.2. Verification makes precision exact, so on near-dup
    corpora with a bimodal similarity distribution (true dups >=0.9,
    background <0.3, as in the test corpus) the output equals
    ngram_jaccard_pairs while scaling like LSH: shuffle volume is
    bands x docs fixed-width rows and quadratic work happens only inside
    colliding buckets.
    Output: (doc_id_a, doc_id_b, jaccard).
    """
    profile = _minhash_profile(docs, k, text_col, id_col)
    # Pinned like banded_hamming_pairs' signatures: AQE turns the self-join
    # into a broadcast join, and a broadcast build side cannot reuse the
    # stream side's exchange, so unpinned the numpy band kernel ran twice
    # over every document.
    banded = _profile_buckets(profile, n_hashes, n_bands).localCheckpoint(
        eager=False
    )
    lhs = banded.alias("x")
    rhs = banded.alias("y")
    candidates = (
        lhs.join(
            rhs,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"), F.col("y.doc_id").alias("doc_id_b")
        )
        .distinct()
    )
    # Verify candidates with exact Jaccard over the shingle sets — the same
    # pinned profile the buckets came from, so no rescan.
    sh = profile.select("doc_id", "shingles")
    va = sh.select(
        F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a")
    )
    vb = sh.select(
        F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        candidates.join(va, "doc_id_a")
        .join(vb, "doc_id_b")
        .withColumn("jaccard", _jaccard_expr("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, k: int = 12, bits: int = 64, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash per document: bit b is 1 iff the majority of shingle hashes
    have bit b set. Uses bits-1 (≤63) bit positions to stay in signed int64;
    _md5_long yields 60-bit hashes so positions ≥60 never vote 1.

    Plan: one materialized shingle pass (_minhash_profile), then the bit
    majority votes in an Arrow-vectorized pandas_udf — 63 conditional-sum
    SQL aggregates are wide-agg-buffer-bound exactly like the minhash mins
    (see _profile_buckets), while numpy folds the same votes per batch in
    microseconds. Values are bit-identical to the SQL formulation (same
    md5-derived hashes, same strict-majority `2*votes > n` rule), which the
    DuckDB oracle twin replays.
    Output: (doc_id, simhash long).
    """
    n_bits = bits - 1
    profile = _minhash_profile(docs, k, text_col, id_col)
    shifts = np.arange(n_bits, dtype=np.int64)
    weights = (np.int64(1) << shifts)

    @F.pandas_udf("bigint")
    def sim_udf(shingles: pd.Series) -> pd.Series:
        out = np.empty(len(shingles), dtype=np.int64)
        for i, arr in enumerate(shingles):
            h = np.asarray(arr, dtype=np.int64)
            votes = ((h[:, None] >> shifts) & 1).sum(axis=0)
            out[i] = int(weights[2 * votes > len(h)].sum())
        return pd.Series(out)

    return profile.select("doc_id", sim_udf("shingles").alias("simhash"))


def banded_hamming_pairs(
    sig: DataFrame,
    hash_col: str,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a < id_b) pairs whose 64-bit signatures are within
    ``max_hamming`` — shared candidate machinery for every Hamming-space
    dedup tier (text SimHash, image perceptual hashes).

    Candidate generation by 4-way band blocking: two hashes within Hamming
    <= 3 of each other must agree on >= 1 of the 4 16-bit bands
    (pigeonhole — lossless for max_hamming <= 3; larger thresholds trade
    recall per the band S-curve), then exact popcount verification. The
    shuffle is keyed on (band, bucket) fixed-width ints — never all-pairs.
    Output: (doc_id_a, doc_id_b, hamming int).

    The signature frame is projected to (id, hash) and materialized ONCE
    (lazy localCheckpoint, 16 B/doc) before the self-join: both join
    sides otherwise re-plan — and re-RUN — the full signature subtree,
    which for the perceptual tiers is a mapInPandas codec decode of every
    payload (r16 optimization, guide §1.2 "don't compute things twice" /
    §5 checkpoint-to-cut-lineage; measured 2x decode in the before plans
    of image_phash_dedup / audio_fingerprint_dedup / simhash_pairs).

    Pairs agreeing on several bands are de-duplicated by the
    FIRST-AGREEING-BAND rule — keep the joined row only when its band is
    the smallest band on which the two signatures agree, a pure
    expression over (h_a, h_b) — instead of a ``distinct`` (r16
    optimization, guide §2.4; the same rule interval_overlap_pairs uses
    for shared buckets). On a duplicate-heavy corpus the candidate set
    is quadratic in the duplicate group sizes, and the distinct was a
    full extra shuffle of exactly that set (identical signatures agree
    on ALL 4 bands, so the old plan shuffled every dup pair 4x to keep
    one copy).

    PRECONDITION (load-bearing since the first-agreeing-band rewrite,
    ADVICE r16): ``sig`` must hold exactly ONE row per ``id_col`` value.
    The old ``distinct`` silently collapsed duplicate candidate pairs
    produced by duplicate input rows; the band filter emits one pair per
    duplicate-row combination instead. Every in-repo caller aggregates
    to one signature per doc (simhash majority vote, one phash/
    fingerprint per asset), which is also what makes (id_a, id_b) a
    meaningful pair key downstream.
    """
    sig = sig.select(
        F.col(id_col), F.col(hash_col)
    ).localCheckpoint(eager=False)
    banded = sig.select(
        F.col(id_col).alias("doc_id"),
        F.col(hash_col).alias("__sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )
    x = banded.alias("x")
    y = banded.alias("y")

    def _band(col: str, b: int) -> Column:
        return F.shiftright(F.col(col), b * 16).bitwiseAND(F.lit(0xFFFF))

    first_agree = F.when(_band("h_a", 0) == _band("h_b", 0), 0)
    for b in range(1, 4):
        first_agree = first_agree.when(_band("h_a", b) == _band("h_b", b), b)
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
            F.col("x.__sig").alias("h_a"),
            F.col("y.__sig").alias("h_b"),
            F.col("x.band").alias("band"),
        )
        .filter(F.col("band") == first_agree)
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, k: int = 12, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidate generation by 4-way band blocking (pigeonhole: two hashes
    within Hamming 3 of each other agree on ≥1 of 4 16-bit bands), then
    exact popcount verification — the classic scalable SimHash plan
    (shared scaffold: banded_hamming_pairs).
    Output: (doc_id_a, doc_id_b, hamming).
    """
    sig = simhash(docs, k=k, text_col=text_col, id_col=id_col)
    return banded_hamming_pairs(
        sig, "simhash", max_hamming=max_hamming, id_col=id_col
    )


def word_span_shingles(text: Column, w: int = 8) -> Column:
    """Distinct w-word spans of lower(text) as array<string> — the unit of
    fine-grained SUBSTRING dedup (Lee et al. 2022 'Deduplicating Training
    Data Makes Language Models Better' §4.1 approximated at fixed span
    width: their suffix-array exact-substring pass flags any 50-token
    repeat; fixed-width spans make the same signal expressible as one
    explode + count, no suffix array). Built-in expressions only; the
    word array is bound once per row (``_let``), not re-split for every
    span position.
    """
    return F.array_distinct(
        _let(
            _words(text),
            lambda words: F.transform(
                F.sequence(F.lit(1), _span_count(words, w)),
                lambda i: F.array_join(F.slice(words, i, w), " "),
            ),
        )
    )


def _words(text: Column) -> Column:
    """The non-empty space-separated words of lower(text)."""
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def _span_count(words: Column, w: int) -> Column:
    """Number of w-word span positions: one when the text is shorter than
    w words."""
    return F.greatest(F.size(words) - F.lit(w - 1), F.lit(1))


def duplicate_span_stats(
    docs: DataFrame, w: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document duplicated-span statistics: how much of each doc's
    w-word span set also appears in ANOTHER document. The per-doc
    ``dup_span_ratio`` is the quantitative trim/keep signal fine-grained
    dedup acts on (doc-level near-dup misses partial template overlap).

    Plan: explode per-doc distinct spans (the array_distinct bounds the
    explode at one row per distinct span) HASHED to 64-bit ints before
    they leave the map stage — the shuffles move 8-byte keys, not ~50-byte
    strings (the payload never matters, only identity; xxhash64 collisions
    at corpus scale are ~n²/2⁶⁵ — noise next to the fixed-width-span
    approximation itself). The per-span document count is a window count
    over the span partition: one explode pass and two shuffles (by span,
    then by doc) — the groupBy+join-back formulation shuffled the span set
    three times AND re-ran the explode for the join's probe side. Span
    cardinality ~ corpus word count — the same scale class as the inverted
    index the TF-IDF/BM25 operators already build.
    """
    spans = _spread(docs).select(
        F.col(id_col),
        F.explode(word_span_shingles(F.col(text_col), w)).alias("span"),
    ).select(id_col, F.xxhash64("span").alias("span"))
    counted = spans.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("span"))
    )
    return (
        counted.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4).alias(
                "dup_span_ratio"
            ),
        )
    )


def duplicate_span_runs(
    docs: DataFrame, w: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Longest duplicated-span RUN per document — the trim-planning twin
    of duplicate_span_stats. The ratio says how much of a doc is
    duplicated; the RUN length says whether that duplication is one
    contiguous template block (trim it: Lee et al. 2022 remove the
    duplicated substring itself, §4.1) or scattered phrase reuse (keep).
    A span is duplicated iff its text occurs in at least one OTHER
    document (cross-doc, same definition as duplicate_span_stats);
    consecutive duplicated positions group via gaps-and-islands
    (pos − row_number — pure window algebra, no iteration).

    Plan: two explodes, never three — the span total is a pure expression
    (greatest(n_words − w + 1, 1), no explode at all), the
    document-frequency side explodes the DISTINCT span set (array_distinct
    bounds it, same as duplicate_span_stats), and only the run detection
    explodes POSITIONS (runs need adjacency), left-semi joined against
    the duplicated-span keys. All spans hash to 64-bit ints map-side, so
    shuffles move (span int64, doc, pos) fixed-width triples only. The
    per-doc window sorts positions within a doc — bounded by document
    length, never corpus size. Output: (id, n_spans, max_dup_run,
    max_run_ratio).
    """
    words = _words(F.col(text_col))
    span_hashes = _let(
        words,
        lambda ws: F.transform(
            F.sequence(F.lit(1), _span_count(ws, w)),
            lambda i: F.xxhash64(F.array_join(F.slice(ws, i, w), " ")),
        ),
    )
    n = _span_count(words, w)
    base = _spread(docs)
    dup_spans = (
        base.select(
            F.explode(F.array_distinct(span_hashes)).alias("span")
        )
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("span")
    )
    pos = base.select(
        F.col(id_col), F.posexplode(span_hashes).alias("pos", "span")
    )
    flagged = pos.join(dup_spans, "span", "left_semi")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    run_len = (
        flagged.withColumn("grp", F.col("pos") - F.row_number().over(w_doc))
        .groupBy(id_col, "grp")
        .agg(F.count(F.lit(1)).alias("rl"))
    )
    mx = run_len.groupBy(id_col).agg(F.max("rl").alias("mx"))
    tot = base.select(F.col(id_col), n.cast("long").alias("n_spans"))
    return tot.join(mx, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce(F.col("mx"), F.lit(0)).alias("max_dup_run"),
        F.round(
            F.coalesce(F.col("mx"), F.lit(0)) / F.col("n_spans"), 4
        ).alias("max_run_ratio"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: assign a NEW batch against an EXISTING canonical corpus
# ---------------------------------------------------------------------------

def incremental_dedup(
    existing: DataFrame,
    new: DataFrame,
    threshold: float = 0.5,
    k: int = 12,
    n_hashes: int = 128,
    n_bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The shape a 100 TB corpus actually runs DAILY: dedup an incoming
    batch against the already-deduped corpus without re-pairing the corpus
    with itself. Work is O(|new| x bands) bucket probes + verification of
    colliding pairs — |existing| contributes only its (reusable,
    incrementally maintainable) signature/bucket table, never a quadratic
    term.

    Per new doc, in precedence order:
    - 'exact': content-hash match in ``existing`` (canonical = smallest
      matching existing id, jaccard = 1.0);
    - 'near': best LSH-candidate with exact shingle-Jaccard >= threshold
      (max jaccard, ties to the smallest existing id);
    - 'new': no match — the doc enters the corpus as its own canonical.

    Output: (doc_id, canonical_id, match_kind, jaccard); jaccard is null
    for 'new' rows.
    """
    old_hash, banded_old, prof_old = signature_artifact(
        existing, k=k, n_hashes=n_hashes, n_bands=n_bands,
        text_col=text_col, id_col=id_col,
    )
    return assign_against_artifact(
        new, old_hash, banded_old, prof_old,
        threshold=threshold, k=k, n_hashes=n_hashes, n_bands=n_bands,
        text_col=text_col, id_col=id_col,
    )


def signature_artifact(
    existing: DataFrame,
    k: int = 12,
    n_hashes: int = 128,
    n_bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The persistable dedup state of a corpus, as three tables:

    - exact:    (__h md5-digest, exact_canonical) — one row per distinct
                content hash, canonical = smallest matching id;
    - buckets:  (doc_id, band, bucket) — the LSH probe table;
    - shingles: (doc_id, shingles array<long>) — verification arrays.

    A production pipeline writes these to the lake ONCE, then every
    ingest batch (streaming or daily) probes them via
    ``assign_against_artifact`` and appends the rows for docs assigned
    'new' — corpus text is never re-scanned. Size: O(corpus) fixed-width
    rows (16 B/doc exact, bands x 12 B/doc buckets, ~2/3 text volume
    shingles), all spillable parquet.
    """
    old_hash = (
        existing.select(
            F.md5(F.col(text_col)).alias("__h"), F.col(id_col).alias("doc_id")
        )
        .groupBy("__h")
        .agg(F.min("doc_id").alias("exact_canonical"))
    )
    prof_old = _minhash_profile(existing, k, text_col, id_col)
    banded_old = _profile_buckets(prof_old, n_hashes, n_bands)
    return old_hash, banded_old, prof_old


def assign_against_artifact(
    new: DataFrame,
    old_hash: DataFrame,
    banded_old: DataFrame,
    prof_old: DataFrame,
    threshold: float = 0.5,
    k: int = 12,
    n_hashes: int = 128,
    n_bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign a batch of new docs against a prebuilt signature artifact
    (see ``signature_artifact`` for the three tables). Work is
    O(|new| x bands) bucket probes + verification of colliding pairs —
    the artifact contributes equi-join lookups only."""
    new_ids = new.select(F.col(id_col).alias("doc_id"))
    # Exact tier: one hash join on the 16-byte digest.
    exact = (
        new.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("__h"))
        .join(old_hash, "__h")
        .select("doc_id", "exact_canonical")
    )
    # Near tier: bucket-probe the existing LSH table with the new batch's
    # buckets — an equi-join keyed on (band, bucket), never all-pairs.
    prof_new = _minhash_profile(new, k, text_col, id_col)
    banded_new = _profile_buckets(prof_new, n_hashes, n_bands)
    candidates = (
        banded_new.alias("x")
        .join(
            banded_old.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("cand_id")
        )
        .distinct()
    )
    sh_new = prof_new.select(F.col("doc_id"), F.col("shingles").alias("sh_n"))
    sh_old = prof_old.select(
        F.col("doc_id").alias("cand_id"), F.col("shingles").alias("sh_o")
    )
    verified = (
        candidates.join(sh_new, "doc_id")
        .join(sh_old, "cand_id")
        .withColumn("jaccard", _jaccard_expr("sh_n", "sh_o"))
        .filter(F.col("jaccard") >= threshold)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("cand_id")
    )
    best = (
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", F.col("cand_id").alias("near_canonical"), "jaccard")
    )
    return (
        new_ids.join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_canonical", "near_canonical", "doc_id").alias(
                "canonical_id"
            ),
            F.when(F.col("exact_canonical").isNotNull(), "exact")
            .when(F.col("near_canonical").isNotNull(), "near")
            .otherwise("new")
            .alias("match_kind"),
            F.when(
                F.col("exact_canonical").isNotNull(), F.lit(1.0)
            ).otherwise(F.col("jaccard")).alias("jaccard"),
        )
    )


def cdc_chunk_stats(
    docs: DataFrame,
    window: int = 3,
    modulus: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking + cross-doc chunk dedup — the
    variable-size-chunk substring dedup production corpora run when
    fixed shingles miss long shared spans (boilerplate paragraphs,
    licence blocks, re-crawled sections): chunk boundaries are set by
    CONTENT (a rolling word-window hash hitting 0 mod ``modulus``), so a
    shared span chunks identically in every doc that contains it
    regardless of what surrounds it — the property fixed-width chunking
    lacks.

    Boundary rule (deterministic, engine-portable): word position i
    (1-based, i in [window, n_words-1]) ends a chunk iff
    md5_long(words[i-window+1..i]) % modulus == 0; the final word always
    ends the last chunk. A chunk is "dup" when its md5 appears in >= 2
    DISTINCT docs.

    Scale shape: boundaries, starts/ends, and chunk strings are all
    array expressions (codegen, no shuffle); the corpus-wide part is one
    explode + one groupBy on the fixed-width chunk hash + one join-back —
    the exact-dedup shuffle shape, ~33 B/chunk. Expected chunk length is
    ``modulus`` words, so the exploded row count is ~n_words/modulus.

    Output: (doc_id, n_chunks, n_dup_chunks, dup_chunk_ratio) for every
    input doc (0s for empty/NULL text).
    """
    cleaned = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", "")
    ws = F.filter(F.split(cleaned, " "), lambda w: w != "")
    base = (
        _spread(docs)
        .select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
        .filter(F.size("ws") > 0)
    )
    n = F.size("ws")
    # Interior boundary candidates [window, n-1]; F.sequence generates a
    # DESCENDING range when stop < start, so guard the short-doc case.
    cand = F.when(
        n - 1 >= window, F.sequence(F.lit(window), n - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    bpos = F.filter(
        cand,
        lambda i: _md5_long(
            F.concat_ws(" ", F.slice(F.col("ws"), i - window + 1, window))
        )
        % modulus
        == 0,
    )
    # Let-bind bpos so the per-position md5 scan evaluates ONCE per row —
    # starts/ends/chunks all reference it, and Catalyst re-inlines plain
    # expression references (the same measured blow-up
    # _exploded_shingle_hashes documents).
    chunks = _let(
        bpos,
        lambda bp: F.zip_with(
            F.concat(F.array(F.lit(1)), F.transform(bp, lambda p: p + 1)),
            F.concat(bp, F.array(n)),
            lambda s, e: F.array_join(F.slice("ws", s, e - s + 1), " "),
        ),
    )
    # ch feeds BOTH the frequency build and the join probe; pin it so the
    # chunking map stage runs once (it is the expensive part — one md5 per
    # word position), not once per consumer.
    ch = (
        base.select("doc_id", F.explode(chunks).alias("chunk"))
        .select("doc_id", F.md5("chunk").alias("ch_h"))
        .localCheckpoint(eager=False)
    )
    freq = ch.groupBy("ch_h").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        ch.join(freq, "ch_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum((F.col("nd") >= 2).cast("int")).cast("int").alias(
                "n_dup_chunks"
            ),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.coalesce(
                F.round(
                    F.col("n_dup_chunks")
                    / F.nullif(F.col("n_chunks"), F.lit(0)),
                    4,
                ),
                F.lit(0.0),
            ).alias("dup_chunk_ratio"),
        )
    )
