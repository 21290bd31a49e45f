"""Signatures → LSH bands → candidate pairs, with explicit skew handling.

Analog of the reference's MinHashLSHEnsemble index+query
(/root/reference/dedup/dedup.py:318-359): instead of an in-memory index,
signatures explode into (band_id, band_hash) rows and candidates come
from a band self-join — the distributed formulation of "two docs share
an LSH bucket".

Skew (north-rule requirement, SURVEY.md §4 item 1): boilerplate-heavy
corpora make Zipfian band buckets; a bucket of size m yields m(m-1)/2
pairs, so one mega-bucket can dominate the whole job. Mitigations, in
order:

1. the informative-DF upper cutoff upstream removes boilerplate
   shingles before they reach signatures (primary defence);
2. buckets in (``max_band_bucket``, ``max_salted_bucket``] are
   GRID-SALTED: every pair is still produced, but the m² work is spread
   across g = ⌈m/cap⌉ salt slots so no single task owns a hot bucket
   (one side keeps its hash-salt, the other replicates to all g slots —
   each unordered pair meets in exactly one slot per band);
3. buckets beyond ``max_salted_bucket`` are degenerate boilerplate
   (≥5·10^7 pairs from one bucket); they are excluded and REPORTED
   (skew_report stage) — never silently;
4. AQE skew-join splitting handles residual imbalance at runtime.

The band self-join is an equi-join on (band_id, band_hash[, salt]):
Catalyst plans a shuffle hash/sort-merge join partitioned by the band
key, so pair generation is fully distributed and never collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.udfs import make_signature_udf
from dedup_spark.util import local_frame


def compute_signatures(informative_sets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(conv_id, shingles) → (conv_id, shingles, n_shingles, minhash,
    simhash, bands). Narrow (no shuffle): one Arrow-batched UDF pass."""
    from dedup_spark.util import ensure_parallelism

    udf = make_signature_udf(cfg)
    # CPU-heavy UDF stage: size partitions by a UDF byte budget, not the
    # scan-oriented default (see ensure_parallelism docstring)
    nonempty = ensure_parallelism(
        informative_sets.filter(F.size("shingles") > 0),
        factor=4,
        bytes_per_part=1 << 20,
    )
    return nonempty.withColumn("sig", udf(F.col("shingles"))).select(
        "conv_id",
        "shingles",
        F.size("shingles").alias("n_shingles"),
        F.col("sig.minhash").alias("minhash"),
        F.col("sig.simhash").alias("simhash"),
        F.col("sig.bands").alias("bands"),
    )


def explode_bands(signatures: DataFrame) -> DataFrame:
    """signatures → (conv_id, band_id, band_hash)."""
    return signatures.select(
        "conv_id", F.posexplode("bands").alias("band_id", "band_hash")
    )


def band_bucket_sizes(bands: DataFrame) -> DataFrame:
    return bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )


def skew_report(bucket_sizes: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Buckets DROPPED from pairing (beyond the salted tier) — logged,
    never silent. Buckets in the salted tier are fully processed and
    surface via :func:`salted_report` instead."""
    return bucket_sizes.filter(F.col("bucket_size") > cfg.max_salted_bucket)


def salted_report(bucket_sizes: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Buckets handled by the grid-salted tier (observability)."""
    return bucket_sizes.filter(
        (F.col("bucket_size") > cfg.max_band_bucket)
        & (F.col("bucket_size") <= cfg.max_salted_bucket)
    )


def candidate_pairs(
    bands: DataFrame,
    bucket_sizes: DataFrame,
    cfg: DedupConfig,
    left_convs: DataFrame | None = None,
) -> DataFrame:
    """Band self-join → canonical (conv_a < conv_b) distinct pairs
    (ordering analog of reference dedup.py:373-378, contig.py:201-202),
    three-tier by bucket size:

    * ≤ max_band_bucket — plain self-join on the band key;
    * ≤ max_salted_bucket — grid-salted: the left side keeps one salt
      slot ``pmod(xxhash64(conv_id), g)`` with g = ⌈size/cap⌉, the right
      side replicates into every slot, and the join key gains the salt —
      each unordered pair meets in exactly one slot (the canonical
      filter keeps the a<b orientation), so NO pair is lost while each
      task handles ~size·cap pairs instead of size²;
    * larger — dropped + reported (see skew_report).

    ``left_convs`` (a DF of conv_id) restricts the LEFT join side to
    those conversations' band rows — the incremental-append shape: pair
    volume becomes proportional to the restricted convs' bucket
    membership instead of Σ bucket², while tier decisions still use the
    GLOBAL ``bucket_sizes``. Returned pairs are every qualifying pair
    touching a restricted conv (both orientations meet; canonicalized
    via least/greatest + dedupe). With ``left_convs=None`` the classic
    full self-join (a < b filter) runs unchanged.
    """
    cap = cfg.max_band_bucket
    restricted = left_convs is not None
    ok_buckets = bucket_sizes.filter(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= cap)
    ).select("band_id", "band_hash")
    b = bands.join(ok_buckets, ["band_id", "band_hash"])
    b_left = (
        b.join(left_convs.select("conv_id"), "conv_id", "left_semi")
        if restricted
        else b
    )
    left = b_left.select("band_id", "band_hash", F.col("conv_id").alias("conv_a"))
    right = b.select("band_id", "band_hash", F.col("conv_id").alias("conv_b"))
    normal = left.join(right, ["band_id", "band_hash"])

    hot = bucket_sizes.filter(
        (F.col("bucket_size") > cap) & (F.col("bucket_size") <= cfg.max_salted_bucket)
    ).select(
        "band_id",
        "band_hash",
        F.ceil(F.col("bucket_size") / cap).cast("int").alias("g"),
    )
    hb = bands.join(hot, ["band_id", "band_hash"])
    hb_left = (
        hb.join(left_convs.select("conv_id"), "conv_id", "left_semi")
        if restricted
        else hb
    )
    salt_l = F.pmod(F.xxhash64(F.col("conv_id").cast("string")), F.col("g")).cast("int")
    sleft = hb_left.select(
        "band_id", "band_hash", salt_l.alias("salt"), F.col("conv_id").alias("conv_a")
    )
    sright = hb.select(
        "band_id",
        "band_hash",
        F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("salt"),
        F.col("conv_id").alias("conv_b"),
    )
    salted = sleft.join(sright, ["band_id", "band_hash", "salt"])

    if restricted:
        # one-sided: each pair can meet in either orientation (or both,
        # when both convs are restricted) — canonicalize then dedupe
        out = normal.select("conv_a", "conv_b").union(
            salted.select("conv_a", "conv_b")
        ).filter(F.col("conv_a") != F.col("conv_b"))
        return out.select(
            F.least("conv_a", "conv_b").alias("conv_a"),
            F.greatest("conv_a", "conv_b").alias("conv_b"),
        ).dropDuplicates(["conv_a", "conv_b"])
    normal = normal.filter(F.col("conv_a") < F.col("conv_b")).select(
        "conv_a", "conv_b"
    )
    salted = salted.filter(F.col("conv_a") < F.col("conv_b")).select(
        "conv_a", "conv_b"
    )
    return normal.union(salted).dropDuplicates(["conv_a", "conv_b"])


# ---------------------------------------------------- containment LSH
#
# The reference indexes with MinHashLSHEnsemble(threshold=containment/20,
# num_perm=128) keyed by set SIZE (/root/reference/dedup/dedup.py:333-345)
# — a *containment* index: a small doc contained in a much larger one
# must be recalled even when their Jaccard is tiny. Plain (b, r) banding
# cannot fix this with r: at containment c the pair's Jaccard is
# J = c·n_small/(n_small + n_large − c·n_small) ≤ c, and banding recall
# 1−(1−J^r)^(128/r) at c = 0.2 collapses for every r ≥ 2 (r=2 needs
# J ≥ 0.27 for 99% recall; containment-0.2 pairs never reach it). So —
# like the ensemble itself at threshold 0.01 — candidate generation must
# run at r = 1, and the pruning lever is the COLLISION COUNT: a pair
# colliding on m of the 128 minhash positions has Ĵ ≈ m/128, and the
# smallest Jaccard a containment-c pair can have follows from the two
# docs' SIZES. Stratify sizes geometrically (the ensemble's partitions),
# bound worst-case J per stratum pair, and keep a candidate only when m
# clears the exact-binomial threshold that preserves ``recall`` at that
# bound. Same-stratum boilerplate pairs (J ≈ 0.01–0.03) get m_min ≈ 3
# and are pruned hard; extreme-asymmetry strata degrade m_min to 1 —
# exactly the (unavoidable, reference-shared) recall floor of a
# 128-perm containment index.


def minhash_collision_threshold(j: float, num_perm: int, recall: float) -> int:
    """Largest m_min with P(Binomial(num_perm, j) ≥ m_min) ≥ recall —
    exact CDF walk, driver-side, deterministic."""
    from math import comb

    if j <= 0.0:
        return 1
    acc = 0.0
    best = 1
    for t in range(num_perm + 1):
        acc += comb(num_perm, t) * (j**t) * ((1.0 - j) ** (num_perm - t))
        if 1.0 - acc >= recall:  # P(X >= t+1) still clears the recall bar
            best = t + 1
        else:
            break
    return max(1, best)


def containment_collision_thresholds(
    cfg: DedupConfig,
    recall: float = 0.99,
    max_stratum: int = 63,
    per_octave: int = 1,
) -> list[tuple[int, int, int]]:
    """(stratum_small, stratum_large, m_min) table for all stratum pairs.

    Stratum s holds sizes in [2^(s/q), 2^((s+1)/q)) with q =
    ``per_octave`` subdivisions per size doubling; the worst-case
    Jaccard of a containment-``verify_containment`` pair between strata
    (i, j ≥ i) is at the smallest query size lo_i = 2^(i/q) against the
    largest index size hi_j = 2^((j+1)/q):

        J_ij = c·lo_i / (lo_i + hi_j − c·lo_i)

    Finer strata (q > 1) tighten the worst-case bound toward the pair's
    ACTUAL sizes, raising m_min for near-symmetric pairs (the
    boilerplate flood) without touching the asymmetric-containment
    recall the family exists for — measured as the main candidate-volume
    lever (44% → single digits of all pairs on a shared-vocabulary
    corpus at q=4). Table size is (63q)²/2 rows — broadcastable at any
    sane q."""
    c = cfg.verify_containment
    q = per_octave
    out = []
    for i in range(max_stratum * q):
        for j in range(i, max_stratum * q):
            lo_i = 2.0 ** (i / q)
            hi_j = 2.0 ** ((j + 1) / q)
            jac = c * lo_i / (lo_i + hi_j - c * lo_i)
            out.append((i, j, minhash_collision_threshold(jac, cfg.num_perm, recall)))
    return out


def containment_candidates(
    signatures: DataFrame,
    cfg: DedupConfig,
    recall: float = 0.99,
    per_octave: int = 4,
) -> DataFrame:
    """Size-stratified containment-LSH candidate pairs — the scale-path
    analog of the reference's MinHashLSHEnsemble index+query
    (dedup.py:333-345). Returns (conv_a, conv_b, m) with m = number of
    colliding minhash positions (out of num_perm).

    Plan shape: posexplode the minhash signature into (perm, value)
    rows; self-join on (perm, value) — an equi-shuffle, skew-capped like
    every bucket join in this engine (values held by more than
    ``max_band_bucket`` docs are excluded and reportable via
    :func:`containment_skew_report`); count collisions per pair; join
    doc sizes; keep pairs whose m clears the per-stratum-pair
    exact-binomial threshold (see module comment). Documented recall
    target: ``recall`` (0.99) at the verify containment threshold —
    probabilistic, unlike the r=1 full-band path, but with a candidate
    volume that stays proportional to genuinely-similar pairs instead of
    every boilerplate co-occurrence.

    ``per_octave`` sets the size-stratum granularity (default 4 =
    quarter-octave): finer strata bound worst-case Jaccard closer to the
    pair's actual sizes, which raises m_min for near-symmetric pairs and
    cuts the boilerplate candidate flood several-fold at unchanged
    recall target (see containment_collision_thresholds). NOTE on the
    engine's containment POLICY: this signature-only path is for regimes
    where the token/shingle sets are no longer materialized; whenever
    the sets ARE available (the pipeline and the verified_token_pairs
    family), prefer operators/prefix_filter.candidate_pairs — exact
    recall 1.0 with output-proportional volume.
    """
    spark = signatures.sparkSession
    thr = local_frame(
        spark,
        containment_collision_thresholds(cfg, recall, per_octave=per_octave),
        "s_small int, s_large int, m_min int",
    )
    vals = signatures.select(
        "conv_id",
        F.col("n_shingles").alias("n"),
        F.posexplode("minhash").alias("perm", "v"),
    )
    ok_vals = (
        vals.groupBy("perm", "v")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter((F.col("occ") > 1) & (F.col("occ") <= cfg.max_band_bucket))
        .select("perm", "v")
    )
    b = vals.join(ok_vals, ["perm", "v"])
    left = b.select("perm", "v", F.col("conv_id").alias("conv_a"), F.col("n").alias("n_a"))
    right = b.select("perm", "v", F.col("conv_id").alias("conv_b"), F.col("n").alias("n_b"))
    pairs = (
        left.join(right, ["perm", "v"])
        .filter(F.col("conv_a") < F.col("conv_b"))
        .groupBy("conv_a", "conv_b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    s_small = F.floor(F.lit(per_octave) * F.log2(F.least("n_a", "n_b"))).cast("int")
    s_large = F.floor(F.lit(per_octave) * F.log2(F.greatest("n_a", "n_b"))).cast("int")
    return (
        pairs.withColumn("s_small", s_small)
        .withColumn("s_large", s_large)
        .join(F.broadcast(thr), ["s_small", "s_large"])
        .filter(F.col("m") >= F.col("m_min"))
        .select("conv_a", "conv_b", "m")
    )


def containment_skew_report(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Minhash values excluded from containment pairing by the occurrence
    cap — logged, never silent (same policy as skew_report)."""
    return (
        signatures.select(F.posexplode("minhash").alias("perm", "v"))
        .groupBy("perm", "v")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > cfg.max_band_bucket)
    )
