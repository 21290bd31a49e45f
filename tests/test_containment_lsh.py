"""Containment-LSH (size-stratified, LSHEnsemble analog — reference
dedup.py:333-345): a small doc contained in a much larger one is
recalled despite tiny Jaccard, while same-stratum boilerplate pairs are
pruned by the collision-count threshold — candidate volume well below
plain r=1 banding."""

from __future__ import annotations

import re

import numpy as np
import pytest

from dedup_spark.config import DedupConfig
from dedup_spark.operators import lsh


def _sets_df(spark, sets: dict[str, np.ndarray]):
    rows = [(k, [int(x) for x in v]) for k, v in sorted(sets.items())]
    return spark.createDataFrame(rows, "conv_id string, shingles array<long>")


def _signatures(spark, sets, cfg):
    return lsh.compute_signatures(_sets_df(spark, sets), cfg)


class TestCollisionThreshold:
    def test_exact_binomial_bound(self):
        # the returned m_min must be the LARGEST threshold preserving the
        # recall bound (exact binomial, independently recomputed here)
        from math import comb

        for j, recall in ((0.07, 0.99), (0.111, 0.999), (0.01, 0.99), (0.3, 0.99)):
            m = lsh.minhash_collision_threshold(j, 128, recall)

            def p_ge(t):
                return sum(
                    comb(128, x) * j**x * (1 - j) ** (128 - x) for x in range(t, 129)
                )

            if p_ge(1) < recall:
                # banding itself is below the recall bar (tiny J): the
                # threshold must not prune AT ALL
                assert m == 1
            else:
                assert p_ge(m) >= recall
                if m < 128:
                    assert p_ge(m + 1) < recall

    def test_degenerate(self):
        assert lsh.minhash_collision_threshold(0.0, 128, 0.99) == 1
        # same-stratum threshold at containment 0.2 should prune (m_min ≥ 2)
        cfg = DedupConfig()
        table = {
            (i, j): m for i, j, m in lsh.containment_collision_thresholds(cfg)
        }
        assert table[(7, 7)] >= 2  # near-symmetric strata: real pruning
        assert table[(5, 20)] == 1  # extreme asymmetry: no pruning possible
        assert (62, 62) in table  # full int64 size range covered

    def test_threshold_frame_is_local_relation(self, spark):
        """The threshold table is driver-built: it must plan as a
        LocalRelation, not a Python-RDD scan that starts Python workers
        in the candidate join's jobs."""
        cfg = DedupConfig()
        sets = {"a": np.arange(50), "b": np.arange(25, 75)}
        cands = lsh.containment_candidates(_signatures(spark, sets, cfg), cfg)
        plan = cands._jdf.queryExecution().optimizedPlan().toString()
        assert re.search(r"LocalRelation \[s_small#\d+, s_large#\d+, m_min", plan)
        assert not re.search(r"LogicalRDD \[s_small", plan)


class TestContainmentRecall:
    def test_planted_asymmetric_pair_recovered(self, spark):
        """small ⊂ large with containment 0.45 but J ≈ 0.056 (< 0.1):
        the case plain r=2 banding misses with prob ≈ 0.85."""
        rng = np.random.default_rng(7)
        large = rng.choice(2**62, size=1500, replace=False).astype(np.int64)
        shared = large[:90]
        small = np.concatenate(
            [shared, rng.choice(2**61, size=110, replace=False).astype(np.int64)]
        )
        sets = {"big": large, "tiny": small}
        for i in range(20):  # unrelated background docs
            sets[f"bg{i:02d}"] = rng.choice(2**60, size=300, replace=False).astype(
                np.int64
            )
        n_common = len(np.intersect1d(small, large))
        assert n_common / (len(small) + 1) > 0.2  # passes verify
        jac = n_common / (len(small) + len(large) - n_common)
        assert jac < 0.1

        cfg = DedupConfig()
        cand = lsh.containment_candidates(_signatures(spark, sets, cfg), cfg)
        got = {(r.conv_a, r.conv_b) for r in cand.collect()}
        assert ("big", "tiny") in got

    def test_boilerplate_pruned_below_r1_banding(self, spark):
        """50 docs sharing a small boilerplate block (pairwise J ≈ 0.017,
        far below any containment-0.2 pair): r=1 banding makes ~89% of
        all pairs candidates; the collision-count threshold prunes most
        of them while keeping the one genuinely-contained pair."""
        rng = np.random.default_rng(11)
        boiler = rng.choice(2**62, size=10, replace=False).astype(np.int64)
        sets = {}
        for i in range(50):
            own = rng.choice(2**61, size=290, replace=False).astype(np.int64)
            sets[f"d{i:02d}"] = np.concatenate([boiler, own])
        # one genuine containment pair rides along
        sets["q_small"] = np.concatenate(
            [sets["d00"][:150], rng.choice(2**59, size=50, replace=False).astype(np.int64)]
        )

        cfg = DedupConfig()
        sigs = _signatures(spark, sets, cfg)
        cand = lsh.containment_candidates(sigs, cfg)
        got = {(r.conv_a, r.conv_b) for r in cand.collect()}
        assert ("d00", "q_small") in got  # containment 0.75, recalled

        # r=1 baseline: any shared minhash value → candidate
        from pyspark.sql import functions as F

        vals = sigs.select("conv_id", F.posexplode("minhash").alias("p", "v"))
        lhs = vals.select("p", "v", F.col("conv_id").alias("conv_a"))
        rhs = vals.select("p", "v", F.col("conv_id").alias("conv_b"))
        r1 = (
            lhs.join(rhs, ["p", "v"])
            .filter(F.col("conv_a") < F.col("conv_b"))
            .select("conv_a", "conv_b")
            .dropDuplicates()
            .count()
        )
        n_cont = cand.count()
        assert n_cont < 0.7 * r1, (n_cont, r1)

    def test_capped_values_reported(self, spark):
        """Minhash values over the occurrence cap are excluded but
        surface in the skew report — never silently."""
        rng = np.random.default_rng(3)
        common = rng.choice(2**62, size=5, replace=False).astype(np.int64)
        sets = {
            f"c{i:02d}": np.concatenate(
                [common, rng.choice(2**61, size=20, replace=False).astype(np.int64)]
            )
            for i in range(12)
        }
        cfg = DedupConfig(max_band_bucket=8)
        sigs = _signatures(spark, sets, cfg)
        rep = lsh.containment_skew_report(sigs, cfg)
        assert rep.count() > 0


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
