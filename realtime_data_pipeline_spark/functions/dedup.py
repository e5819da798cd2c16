"""Deduplication operators for LLM-data pipelines (north-star surface).

Four families, all shuffle-partitioned (no driver-side loops):

  exact     — md5(text) hash-groupBy; O(n), one shuffle on the hash.
  MinHash   — k=12 permutations over 3-word shingles, banded LSH with
              r=2 rows per band (6 bands): candidates = docs agreeing
              on BOTH signatures of any band.  The bucket join is
              equi-join on (band, sig-pair) — at 100 TB this is THE
              scalable near-dup pattern: cost is Σ bucket² rather
              than n², and the r=2 band key keeps bucket populations
              from growing with the corpus (see BAND_R).
  SimHash   — 60-bit frequency-weighted signature; near-dups = pairs
              within Hamming distance d (bit_count(xor)), candidates
              via generalized-pigeonhole chunk-pair keys.
  Jaccard   — exact n-gram set similarity on candidate pairs produced
              by a sparse shared-shingle join (never all-pairs).

Hashes derive from md5 (identical across Spark and DuckDB), so every
operator is oracle-checkable — see plans/northstar.py for the mirrored
SQL.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_PERMS = 12  # MinHash permutations

# LSH banding: b bands of r rows; a pair becomes a candidate iff ALL r
# signatures of some band agree, so P(candidate) = 1 - (1 - J^r)^b —
# the classic S-curve (Leskovec/Rajaraman/Ullman, MMDS ch. 3) with
# threshold ≈ (1/b)^(1/r).  r=1 (rounds 1-6) makes the per-band
# collision probability equal RAW Jaccard, so every weakly-similar
# pair — and every pair whose minimum lands on a shingle common
# across the corpus — becomes a candidate: bucket populations grow
# LINEARLY with corpus size and candidate pairs QUADRATICALLY, which
# the 10×-data scale probe measured directly (22.6× time ratio at the
# 500k→5M-doc step; the probe's artifacts are in history/).  r=2,
# b=6 puts the threshold at (1/6)^(1/2) ≈ 0.41 — right under the
# 0.5 est_jaccard edge the dedup clustering uses — and drops a J=0.1
# junk pair's candidate probability from 0.72 to 0.06 while keeping
# planted near-dups (J ≈ 0.8) at 1-(1-0.64)^6 ≈ 0.998 recall.
# Buckets keyed by a signature PAIR only fill when two independent
# permutation minima agree (prob ~J² per unrelated pair), so bucket
# width stays O(true-duplicate cluster size) as the corpus grows.
BAND_R = 2
N_BANDS = N_PERMS // BAND_R

# Affine permutation family over ONE 32-bit base hash per shingle:
#   sig_j = min over shingles of (A[j]·h(s) + B[j]) mod MINHASH_P
# The shingle hash h(s) is itself a polynomial combination of the
# PER-TOKEN md5 hashes (see minhash_signatures) — md5 runs once per
# token, not once per 3-word shingle string, and no shingle strings are
# ever materialized.  A[j] < 2^28 and h < P ≈ 2^32 keep every product
# below 2^63 (no int64 overflow), so Spark and DuckDB produce
# bit-identical signatures.
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
SHINGLE_B = 1_000_003  # polynomial base; (P-1)·B < 2^63

def _perm_const(tag: str, j: int, mod: int) -> int:
    return int(hashlib.md5(f"{tag}{j}".encode()).hexdigest()[:15], 16) % mod

MINHASH_A = tuple(_perm_const("a", j, 1 << 28) | 1 for j in range(N_PERMS))
MINHASH_B = tuple(_perm_const("b", j, MINHASH_P) for j in range(N_PERMS))


TOKENS_EXPR = "split(trim(text), '\\\\s+')"


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: group by content hash; emit canonical id + copy count."""
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def minhash_signatures(docs: DataFrame, n_perms: int = N_PERMS) -> DataFrame:
    """One `sigs` array column (element j = permutation j's minimum) via
    the affine family: sigs[j] = min over shingles of
    (A[j]·h(shingle) + B[j]) mod P.

    Hashing plan (cheapest to most derived):
      1. md5 once PER TOKEN → 32-bit `th` array (short strings, one
         pass — never per shingle, never per permutation);
      2. shingle hash = rolling polynomial over the 3 token hashes,
         ((th[i]·B + th[i+1]) mod P · B + th[i+2]) mod P — pure int64;
      3. ONE aggregate() pass over the shingle hashes carrying an
         n_perms-slot accumulator, each slot the running minimum of one
         permutation's affine transform (r15; guide §1.2 per-task
         work).  The previous shape ran n_perms separate
         array_min(transform(...)) passes — every pass an interpreted
         Catalyst lambda over the whole array PLUS a materialized
         intermediate array per permutation.  The fused fold visits
         each shingle hash once and allocates only the accumulator
         (A/B at sf0.1: 0.507 s → 0.274 s signature stage; 10×-union
         corpus 0.898 → 0.762; an integer numpy mapInArrow kernel was
         also measured and is SLOWER than both — 0.518/0.940 — the
         boundary crossing costs more than interpretation here).
         Values are bit-identical: same int64 arithmetic, min is
         order-insensitive, and the ≥3-token filter guarantees a
         non-empty array so the P-valued init slots can never survive.
    No shingle strings are materialized at all.  Still CPU-heavy, so
    repartition first: test parquet is single-row-group (one scan task),
    and at scale upstream partitioning rarely matches the CPU-bound
    stage's ideal width.  The tiny shuffle buys a fully parallel map
    stage.
    """
    n = docs.sparkSession.sparkContext.defaultParallelism
    out = (
        docs.repartition(n, "doc_id")
        .withColumn("toks", F.expr(TOKENS_EXPR))
        .where(F.size("toks") >= 3)
        .withColumn(
            "th",
            F.expr(
                "transform(toks, t -> "
                "cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint))"
            ),
        )
        .withColumn(
            "shingle_hashes",
            F.expr(
                f"transform(sequence(1, size(th) - 2), i -> "
                f"(((element_at(th, i) * {SHINGLE_B} + element_at(th, i + 1))"
                f" % {MINHASH_P}) * {SHINGLE_B} + element_at(th, i + 2))"
                f" % {MINHASH_P})"
            ),
        )
    )
    init = "array(" + ", ".join(f"{MINHASH_P}L" for _ in range(n_perms)) + ")"
    step = "array(" + ", ".join(
        f"least(acc[{j}], ({MINHASH_A[j]}L * h + {MINHASH_B[j]}L)"
        f" % {MINHASH_P}L)"
        for j in range(n_perms)
    ) + ")"
    out = out.withColumn(
        "sigs",
        F.expr(f"aggregate(shingle_hashes, {init}, (acc, h) -> {step})"),
    )
    return out.drop("toks", "th", "shingle_hashes")


MAX_BUCKET_WIDTH = 128  # LSH buckets wider than this are boilerplate


def lsh_band_rows(sigs: DataFrame, n_perms: int = N_PERMS) -> DataFrame:
    """(doc_id, sigs, band, b1, b2) — one row per doc per band.

    THE banding scheme, shared by the batch candidate generator and
    the incremental streaming filter so the two can never diverge: a
    band's bucket key is the PAIR of its two consecutive permutation
    minima (BAND_R=2 — see the constant's derivation).  The pair is
    kept as two int64 columns rather than a combined hash so the
    DuckDB oracle and the Python model can mirror it with exact tuple
    equality (no re-hash collision surface).  A trailing permutation
    when n_perms is odd contributes to the agreement estimate only,
    never to banding.  Expects `sigs` with (doc_id, sigs:array<bigint>).
    """
    return sigs.select(
        "doc_id",
        "sigs",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.element_at("sigs", BAND_R * j + 1).alias("b1"),
                    F.element_at("sigs", BAND_R * j + 2).alias("b2"),
                )
                for j in range(n_perms // BAND_R)
            ])
        ).alias("b"),
    ).select("doc_id", "sigs", "b.band", "b.b1", "b.b2")


def minhash_candidates(
    docs: DataFrame,
    n_perms: int = N_PERMS,
    limit: int | None = 1000,
    min_est_jaccard: float | None = None,
    max_bucket_width: int | None = MAX_BUCKET_WIDTH,
) -> DataFrame:
    """Banded-LSH candidate pairs (BAND_R=2 rows per band) with the
    signature-agreement Jaccard estimate.  Output capped deterministically when
    `limit` is set; `min_est_jaccard` filters to strong candidates
    (the edge set for dedup clustering).

    Shape: bucket-LOCAL pair generation, not a self-join.  One shuffle
    collects each (band, bucket)'s members (doc_id + signature, sorted
    by doc_id); i<j pairs are then generated inside the group with
    higher-order array functions — no second join side, no broadcast,
    and the signature subtree is evaluated exactly once (rounds 1-2
    self-joined the bucket relation, which needed a persist of the
    signature table plus two probe-side exchanges; this is strictly
    less work and was measured 2-4× faster at sf0.1).

    `max_bucket_width` is the skew guard (PLANS.md's boilerplate
    hazard): a bucket shared by B docs yields B²/2 candidate pairs, so
    one boilerplate string repeated 10⁶ times would emit 5·10¹¹ pairs
    from a single bucket.  In this shape the cap is a free size()
    filter on the collected member list — it also bounds per-group
    memory (≤ cap × n_perms int64s, a few KB at cap=128).  Organic
    near-dup buckets measure ≲22 wide at sf0.1, so 128 only ever
    removes degenerate boilerplate.  Docs in a dropped bucket still
    pair through their other N_BANDS-1 band buckets.  The DuckDB
    oracle mirrors the cap (plans/northstar.py _MINHASH_CTES).
    `max_bucket_width=None` disables the guard AND the bounded-memory
    guarantee — only for small-corpus diagnostics.

    100 TB note: collect_list aggregates partially map-side, so the
    shuffle payload is one row per (band, bucket) member — identical
    bytes to one side of the old self-join, with the second side and
    its exchange gone."""
    sigs = minhash_signatures(docs, n_perms).select("doc_id", "sigs")
    buckets = lsh_band_rows(sigs, n_perms)
    groups = (
        buckets.groupBy("band", "b1", "b2")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "sigs"))).alias(
                "members"
            )
        )
        .where(F.size("members") >= 2)
    )
    if max_bucket_width is not None:
        groups = groups.where(F.size("members") <= max_bucket_width)
    # members sorted ascending by doc_id (struct compare, doc_id first),
    # so slicing strictly after position i yields doc_a < doc_b pairs.
    pair_expr = F.flatten(
        F.expr(
            "transform(members, (m, i) -> "
            "transform(slice(members, i + 2, size(members) - i - 1), "
            "n -> struct(m.doc_id as doc_a, n.doc_id as doc_b, "
            "m.sigs as sa, n.sigs as sb)))"
        )
    )
    agree = F.size(
        F.filter(
            F.zip_with("p.sa", "p.sb", lambda x, y: x == y), lambda m: m
        )
    )
    pairs = (
        groups.select(F.explode(pair_expr).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.round(agree / float(n_perms), 4).alias("est_jaccard"),
        )
        .distinct()
    )
    if min_est_jaccard is not None:
        pairs = pairs.where(F.col("est_jaccard") >= min_est_jaccard)
    if limit is not None:
        pairs = pairs.orderBy(
            F.desc("est_jaccard"), "doc_a", "doc_b"
        ).limit(limit)
    return pairs


# 60-bit fingerprints (15 md5 hex chars — the widest that stays a
# positive ANSI bigint via the same idiom as _perm_const), radius 3:
# the published SimHash dedup operating point (Manku/Jain/Das Sarma,
# WWW'07 §3, used 64-bit fingerprints at hamming ≤ 3 for 8B pages).
# At 32 bits (rounds 1-6) random pairs sat at mean distance 16 with
# σ≈2.8, so radius 8 was only 2.8σ out — loose — and the pigeonhole
# chunks were 3-4 bits wide, making the candidate join effectively
# all-pairs at corpus scale.  At 60 bits random pairs sit at mean 30,
# σ≈3.9: radius 3 is ~7σ — candidates are genuine near-duplicates.
SIMHASH_BITS = 60
SIMHASH_MAX_HAMMING = 3

# Semantic definition (the DuckDB oracle mirrors this form): per-bit
# frequency-weighted majority vote over token hashes —
#   sig = Σ_b [ (Σ_t ((th_t >> b) & 1)·2 − 1) > 0 ] · 2^b
# Rounds 1-7a evaluated it as this nested higher-order aggregate:
#   aggregate(sequence(0, 59), 0L, (acc, b) ->
#       acc + CASE WHEN aggregate(th, 0L,
#                       (a, c) -> a + ((c >> b) & 1) * 2 - 1) > 0
#             THEN 1L << b ELSE 0L END)
# — 60 bits × n tokens of INTERPRETED Catalyst lambda steps per doc
# (higher-order lambdas never enter whole-stage codegen), measured at
# 73 of the query's 77 s on 500k 50-token probe docs.  The vote is now
# an Arrow kernel over the SAME JVM-computed th column: md5 hashing
# stays JVM-side (bit-identical to the oracle), and the kernel is
# integer-only numpy (bit tests, integer sums, comparisons — no
# floats), so the signature is bit-identical to the expression form;
# tests/test_minhash_model.py pins it against a pure-Python twin.


def _simhash_vote_kernel():
    """Arrow pandas_udf: array<bigint> token hashes → bigint SimHash.
    NULL semantics mirror the expression form (and the DuckDB oracle)
    exactly: NULL th → 0, because the per-bit CASE evaluates
    `NULL > 0` to false and contributes the ELSE 0 — NULL-text docs
    all carry signature 0 (and pair with each other at distance 0),
    in BOTH engines; empty th → 0 (no bit wins a majority of zero
    votes).

    Vectorized across the WHOLE Arrow batch (not per document): the
    batch's token-hash lists concatenate into one flat int64 vector,
    each bit-plane's per-document ones-count is a single segmented
    sum (np.add.reduceat over the document offsets), and the majority
    vote is one comparison matrix — so per-batch work is 60 flat
    numpy passes regardless of document count, with O(total_tokens)
    peak memory (one bit-plane temp at a time, never the 60-wide bits
    matrix).  Integer-only throughout (shifts, masks, integer sums,
    comparisons — no floats), so the signature stays bit-identical to
    the nested-aggregate expression form and the pure-Python twin in
    tests/test_minhash_model.py."""
    from pyspark.sql.functions import pandas_udf

    weights = (np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)).astype(
        np.int64
    )

    @pandas_udf("bigint")
    def _sig(th: pd.Series) -> pd.Series:
        n = len(th)
        lens = np.fromiter(
            (0 if row is None else len(row) for row in th),
            dtype=np.int64,
            count=n,
        )
        sigs = np.zeros(n, dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            flat = np.concatenate(
                [np.asarray(row, dtype=np.int64) for row in th[nonempty]]
            )
            ne_lens = lens[nonempty]
            starts = np.zeros(ne_lens.size, dtype=np.int64)
            np.cumsum(ne_lens[:-1], out=starts[1:])
            ones = np.empty((ne_lens.size, SIMHASH_BITS), dtype=np.int64)
            tmp = np.empty(flat.size, dtype=np.int64)
            for b in range(SIMHASH_BITS):
                np.right_shift(flat, b, out=tmp)
                np.bitwise_and(tmp, 1, out=tmp)
                ones[:, b] = np.add.reduceat(tmp, starts)
            # vote_b = 2·ones_b − n > 0  ⇔  2·ones_b > n
            sigs[nonempty] = ((2 * ones) > ne_lens[:, None]) @ weights
        return pd.Series(sigs, dtype="Int64")

    return _sig


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash: per-bit majority vote over token hashes
    (frequency-weighted — repeated tokens vote repeatedly).
    Repartitioned first for the same reason as minhash_signatures."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(n, "doc_id")
        .withColumn(
            "th",
            F.expr(
                f"transform({TOKENS_EXPR}, "
                "t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))"
            ),
        )
        .withColumn("simhash", _simhash_vote_kernel()(F.col("th")))
        .drop("th")
    )


def _bit_chunks(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split `bits` into `n_chunks` contiguous (offset, width) chunks."""
    base, extra = divmod(bits, n_chunks)
    chunks, off = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < extra else 0)
        chunks.append((off, width))
        off += width
    return chunks


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    limit: int = 1000,
) -> DataFrame:
    """Pairs within Hamming distance `max_hamming`, via GENERALIZED
    pigeonhole bucketing: the signature splits into c = max_hamming+2
    bit-chunks; d differing bits can touch at most d chunks, so a pair
    within the radius agrees fully on at least TWO chunks — i.e. on
    some 2-subset of chunks.  Candidates are generated bucket-LOCALLY
    on (chunk-pair index, both chunk values) — the minhash_candidates
    shape: one shuffle collects each bucket's members, i<j pairs
    explode inside the group — RECALL 1.0 by construction, then the
    exact Hamming filter runs only on candidates.  No width cap (a cap
    would break the recall guarantee): 24-bit combo keys keep random
    buckets near-empty, so a wide bucket IS a near-duplicate cluster —
    per-group memory is ∝ the largest dup cluster (16 B per member),
    the same bound the downstream pair list costs anyway.

    Why 2-subset keys and not the single-chunk d+1 pigeonhole (rounds
    1-6): a single chunk is SIMHASH_BITS/(d+1) bits wide (≈7 at 60/8),
    so each bucket holds n/2^7 documents and the self-join is
    effectively all-pairs as the corpus grows — the same quadratic
    hazard class the scale probe measured in the unbanded MinHash LSH.
    The 2-subset key is 2·SIMHASH_BITS/c bits (24 at the d=3 default):
    random-pair collision probability 2^-24 per combo, so candidate
    volume stays ∝ genuine near-dups.  Cost: C(c,2) exploded rows per
    doc (10 at d=3) instead of d+1 — a constant fan-out traded for
    2^17× better key selectivity.  This is the block-permutation idea
    of Manku et al. (WWW'07 §3) expressed as one bucket rollup.

    Degenerate-doc guard: signature-0 docs (NULL text / NULL token
    arrays — see _simhash_vote_kernel) are EXCLUDED from pairing
    before the banding explode.  k such docs would otherwise collide
    on all C(c,2) chunk-pair combos and emit one k-wide group plus
    ~C(c,2)·k²/2 exploded distance-0 pairs — a quadratic hazard for a
    common degenerate class with no content to be "near" anything
    (MinHash's analogue is its <3-token filter).  Content-less dup
    detection stays covered by exact_dedup_groups.  The DuckDB oracle
    mirrors the exclusion (simhash <> 0), so recall semantics stay
    pinned cross-engine."""
    sigs = (
        simhash_signatures(docs)
        .select("doc_id", "simhash")
        .where(F.col("simhash") != 0)
    )
    c = max_hamming + 2
    chunks = _bit_chunks(SIMHASH_BITS, c)

    def _val(i: int) -> str:
        off, width = chunks[i]
        return f"(simhash >> {off}) & {(1 << width) - 1}"

    combos = [(i, j) for i in range(c) for j in range(i + 1, c)]
    buckets = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("combo"),
                    F.expr(_val(i)).alias("v1"),
                    F.expr(_val(j)).alias("v2"),
                )
                for k, (i, j) in enumerate(combos)
            ])
        ).alias("c"),
    ).select("doc_id", "simhash", "c.combo", "c.v1", "c.v2")
    groups = (
        buckets.groupBy("combo", "v1", "v2")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "members"
            )
        )
        .where(F.size("members") >= 2)
    )
    # members sorted ascending by doc_id (struct compare, doc_id
    # first), so slicing strictly after position i yields doc_a <
    # doc_b pairs — the same idiom as minhash_candidates.
    pair_expr = F.flatten(
        F.expr(
            "transform(members, (m, i) -> "
            "transform(slice(members, i + 2, size(members) - i - 1), "
            "n -> struct(m.doc_id as doc_a, n.doc_id as doc_b, "
            "cast(bit_count(m.simhash ^ n.simhash) as int) "
            "as hamming_dist)))"
        )
    )
    return (
        groups.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming_dist")
        .where(F.col("hamming_dist") <= max_hamming)
        .distinct()
        .orderBy("hamming_dist", "doc_a", "doc_b")
        .limit(limit)
    )


SHINGLE_HASHES_EXPR = (
    f"transform(sequence(1, size(th) - 2), i -> "
    f"(((element_at(th, i) * {SHINGLE_B} + element_at(th, i + 1))"
    f" % {MINHASH_P}) * {SHINGLE_B} + element_at(th, i + 2))"
    f" % {MINHASH_P})"
)


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<int64>, n_sh): each document's DISTINCT 3-gram
    shingle hashes — the polynomial token-hash values MinHash uses, so
    the shuffle payload is 8-byte ints, never 3-word strings.

    Repartition first for the same reason as minhash_signatures: the
    per-token md5 map is the CPU-bound stage, and upstream scan
    parallelism (single-row-group test parquet: ONE task) rarely
    matches its ideal width — measured 45 s single-task vs ~3 s wide at
    sf0.1.  The tiny doc_id shuffle buys a fully parallel map stage;
    a downstream filter on doc_id still prunes before the shuffle.

    Persisted before return: both consumers (ngram_jaccard_pairs,
    benchmark_contamination) EXPLODE the shingle arrays, and a live
    Generate over this interpreted higher-order-function projection
    re-evaluates the whole tokenize+md5+shingle expression per output
    ELEMENT (measured: 50 s vs 0.4 s from a materialized source at
    sf0.1 — an exchange between does not help, the optimizer re-hoists
    the projection above it).  Persist is the materialization barrier
    that makes explode read computed arrays.  Lazy consumers ⇒ no
    eager unpersist; repeat callers rely on LRU eviction (bench.py
    clearCache()s between timed runs)."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(n, "doc_id")
        .withColumn("toks", F.expr(TOKENS_EXPR))
        .where(F.size("toks") >= 3)
        .withColumn(
            "th",
            F.expr(
                "transform(toks, t -> "
                "cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint))"
            ),
        )
        .select(
            "doc_id",
            F.array_distinct(F.expr(SHINGLE_HASHES_EXPR)).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .persist()
    )


def lsh_candidate_ids(
    sized: DataFrame,
    n_perms: int = N_PERMS,
    max_bucket_width: int | None = MAX_BUCKET_WIDTH,
) -> DataFrame:
    """(doc_a, doc_b) distinct candidate id pairs from banded MinHash-
    LSH over a precomputed shingle-set relation (`shingle_sets`
    output) — the generation stage `ngram_jaccard_pairs` verifies.

    Signatures are derived FROM the distinct shingle arrays: each
    affine map h -> (A·h + B) mod P is a bijection on Z_P (P prime,
    0 < A < P), so min over the DISTINCT set equals min over the raw
    shingle stream and the signatures are bit-identical to
    `minhash_signatures`' — one tokenize+md5 pass feeds both
    generation and exact verification.  Pair generation is the
    bucket-LOCAL idiom shared with `minhash_candidates` (one shuffle
    collects each (band, b1, b2) bucket's doc ids, i<j pairs explode
    inside the group, `max_bucket_width` bounds per-group memory and
    the boilerplate blowup), but carries ONLY doc ids — the
    agreement-estimate payload is dead weight when the consumer
    recomputes exact Jaccard."""
    sigs = sized.select(
        "doc_id",
        F.array(*[
            F.expr(
                f"array_min(transform(sh, h -> "
                f"({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_P}))"
            )
            for j in range(n_perms)
        ]).alias("sigs"),
    )
    groups = (
        lsh_band_rows(sigs, n_perms)
        .groupBy("band", "b1", "b2")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("members"))
        .where(F.size("members") >= 2)
    )
    if max_bucket_width is not None:
        groups = groups.where(F.size("members") <= max_bucket_width)
    pair_expr = F.flatten(
        F.expr(
            "transform(members, (m, i) -> "
            "transform(slice(members, i + 2, size(members) - i - 1), "
            "n -> struct(m as doc_a, n as doc_b)))"
        )
    )
    return (
        groups.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.02,
    limit: int | None = 1000,
    n_perms: int = N_PERMS,
    max_bucket_width: int | None = MAX_BUCKET_WIDTH,
) -> DataFrame:
    """EXACT 3-gram Jaccard over MinHash-LSH candidate pairs — the
    verify stage of the near-dup pipeline, on the only generation
    shape that measured sublinear on open vocabularies.  Shingles are
    the same polynomial token-hash values MinHash uses (int64 keys,
    never 3-word strings; both engines hash identically, so Jaccard
    over hash sets equals Jaccard over string sets modulo shared
    ~2^-32 collisions).

    Two-phase shape:

      1. CANDIDATES from banded MinHash-LSH (`lsh_candidate_ids`,
         BAND_R=2 rows × 6 bands, bucket-width cap): a pair is a
         candidate iff two independent permutation minima agree on
         some band — probability ≈ 1-(1-J²)⁶, the MMDS S-curve with
         threshold ≈ 0.41 — so candidate mass tracks the corpus's
         TRUE near-duplicate structure, not its vocabulary.  This
         replaces the rounds 3-9 shared-rare-shingle posting join
         (df ≤ 128): on Heaps-law vocabularies the df<128 regime's
         Σ C(df,2) pair mass grows ~quadratically far past 2M docs —
         the r9 open-vocab soak measured 15.75× time on a 4× doc step
         (history/SOAK_r09_ngram4x.json) and exhausted 76 GiB of scratch in
         shuffle spill at the 10× step.  Banding is the fix the
         engine already proved: the same generator holds
         corpus_curation_stats at 1.86× on 10× docs
         (history/SOAK_r09_curation.json).
      2. EXACT Jaccard for every candidate, computed over the FULL
         distinct shingle sets: the pair list joins the COMPACT
         per-doc array relation (one row per doc, never the exploded
         one) twice on doc id, and |A∩B| is a map-side
         size(array_intersect) — cost ∝ candidates × doc length, and
         the emitted jaccard is exact, not the signature estimate.
         Both joins carry MERGE (sort-merge) hints: the planner
         cannot estimate a distinct-over-explode output, and this
         join must never become a broadcast of either side (a
         mis-estimated broadcast of the pair list OOMed the driver at
         the 500k-doc probe step; at 100 TB neither side ever fits).
         MERGE, not SHUFFLE_HASH: a ShuffledHashJoin's per-task hash
         build cannot spill — the 5M-doc soak step threw
         cannotAcquireMemoryToBuildLongHashedRelation under 32
         concurrent tasks on a 12 GiB heap.  Sort-merge spills both
         sides and degrades gracefully.

    RECALL contract (the re-scope, disclosed): a pair is emitted iff
    it shares an LSH band bucket, so weakly-similar pairs are
    deliberately sampled by the S-curve (J=0.1 → ~6% candidate
    probability) while near-dups survive (J=0.8 → ~99.8%).  The old
    semantics ("every pair sharing any rare shingle") were only
    computable by a plan superlinear in corpus size — at 100 TB that
    operator cannot exist; this one is its scalable refinement, and
    the DuckDB oracle mirrors the banding exactly so the contract is
    hash-checked, not aspirational."""
    sized = shingle_sets(docs)
    cand = lsh_candidate_ids(sized, n_perms, max_bucket_width)
    sa = sized.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sa"),
        F.col("n_sh").alias("na"),
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sb"),
        F.col("n_sh").alias("nb"),
    )
    shared = (
        cand.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .withColumn("shared", F.size(F.array_intersect("sa", "sb")))
    )
    jacc = F.round(
        F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")),
        4,
    )
    out = shared.select("doc_a", "doc_b", jacc.alias("jaccard")).where(
        F.col("jaccard") >= min_jaccard
    )
    if limit is not None:
        out = out.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(limit)
    return out


def benchmark_contamination(
    docs: DataFrame,
    bench_pred,
    min_overlap_ratio: float = 0.05,
) -> DataFrame:
    """Decontamination: which corpus documents share 3-gram shingles
    with a benchmark/eval set?  The benchmark's DISTINCT shingle hashes
    are a small set by construction (eval sets are tiny next to a
    training corpus), so the overlap probe is a BROADCAST semi-join on
    the int64 shingle key against the exploded corpus — map-side
    pruning, then ONE shuffle on doc_id to count hits per document.
    Never a corpus×corpus or corpus×benchmark pair join."""
    sh = shingle_sets(docs)
    bench = (
        sh.where(bench_pred)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    corpus = sh.where(~bench_pred)
    hits = (
        corpus.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "n_sh")
        .agg(F.count("*").alias("n_overlap"))
    )
    ratio = F.round(
        F.col("n_overlap").cast("double") / F.col("n_sh"), 4
    )
    return (
        hits.select(
            "doc_id",
            F.col("n_sh").alias("n_shingles"),
            "n_overlap",
            ratio.alias("overlap_ratio"),
        )
        .where(F.col("overlap_ratio") >= min_overlap_ratio)
        .orderBy(F.desc("overlap_ratio"), "doc_id")
    )


FUZZY_PREFIX_LEN = 32
FUZZY_MAX_DIST = 4


def fuzzy_prefix_dups(
    docs: DataFrame,
    prefix_len: int = FUZZY_PREFIX_LEN,
    max_dist: int = FUZZY_MAX_DIST,
    max_bucket_width: int = MAX_BUCKET_WIDTH,
    limit: int | None = 500,
) -> DataFrame:
    """Character-level near-duplicates: bounded edit distance between
    document PREFIXES, the modality that catches small in-place edits
    (typo fixes, date stamps, counter suffixes) which token-shingle
    MinHash can under-weigh and embedding LSH can't see at all.

    Scale shape — same discipline as minhash_candidates: never an n²
    levenshtein.  Docs bucket under TWO families — (lang, token 1) and
    (lang, token 2) — so a small edit anywhere in the prefix still
    leaves at least one bucket key intact: a mid-prefix typo shares
    token 1, a FIRST-token typo ("Teh quick…" vs "The quick…") shares
    token 2.  Pairs are generated bucket-locally per family
    (collect_list + i<j expansion), unioned, deduped, and only THOSE
    pairs pay the O(prefix_len²) edit-distance kernel.  The bucket
    width cap bounds both memory and the per-bucket pair count per
    family; organic widths measure ≤12 at sf0.01.  Distance on a
    fixed-length prefix, not the full text: levenshtein is quadratic
    in string length, so the prefix IS the cost bound (full-text
    confirmation, if needed, runs on the surviving pairs only).
    NULL lang (or a text too short for token 2) is excluded from the
    corresponding family — matching the oracle's equi-join, which
    never pairs NULL keys."""
    toks = F.split(F.trim("text"), r"\s+")
    d = docs.select(
        "doc_id",
        "lang",
        F.substring(F.trim("text"), 1, prefix_len).alias("p"),
        toks[0].alias("t1"),
        # get(), not toks[1]: under ANSI mode an ordinal subscript
        # THROWS on a single-token document instead of yielding the
        # NULL the family filter expects (found by the hypothesis
        # model test — fixtures never contained a 1-token doc)
        F.get(toks, 1).alias("t2"),
    ).where(F.col("lang").isNotNull())

    pair_expr = F.flatten(
        F.expr(
            "transform(members, (m, i) -> "
            "transform(slice(members, i + 2, size(members) - i - 1), "
            "n -> struct(m.doc_id as doc_a, n.doc_id as doc_b, "
            "m.p as pa, n.p as pb)))"
        )
    )

    def _family(tok: str) -> DataFrame:
        groups = (
            d.where(F.col(tok).isNotNull())
            .groupBy("lang", tok)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "p"))
                ).alias("members")
            )
            .where(
                (F.size("members") >= 2)
                & (F.size("members") <= max_bucket_width)
            )
        )
        return groups.select(F.explode(pair_expr).alias("x")).select(
            F.col("x.doc_a").alias("doc_a"),
            F.col("x.doc_b").alias("doc_b"),
            F.col("x.pa").alias("pa"),
            F.col("x.pb").alias("pb"),
        )

    pairs = (
        _family("t1")
        .unionByName(_family("t2"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("edit_distance"),
        )
        .where(F.col("edit_distance") <= max_dist)
        .distinct()
    )
    if limit is not None:
        pairs = pairs.orderBy("edit_distance", "doc_a", "doc_b").limit(limit)
    return pairs
