"""eager_ckpt: lineage-truncating checkpoint at a disk-backed level,
its observed-count variant, and the local frames that plan as
LocalRelation."""

import os

from pyspark.sql import functions as F

from dedup_spark.util import ckpt_observe, eager_ckpt, empty_frame, local_frame


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_eager_ckpt_preserves_rows_and_truncates_lineage(spark):
    df = (
        spark.range(0, 1000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )
    expected = {(r["g"], r["n"], r["s"]) for r in df.collect()}
    ck = eager_ckpt(df)
    # rows identical through the checkpoint
    assert {(r["g"], r["n"], r["s"]) for r in ck.collect()} == expected
    # lineage truncated: the plan is a materialized RDD scan, no agg
    plan = ck._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    # default level is DISK_ONLY — no deserialized heap pinning.
    # (``ck.rdd`` would wrap a NEW uncached RDD; the level lives on the
    # internal checkpointed RDD, visible via the context's storage info)
    levels = {
        str(i.storageLevel())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert any("disk" in lv and "memory" not in lv for lv in levels), levels


def test_eager_ckpt_level_env_override(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_LEVEL", "MEMORY_AND_DISK")
    ck = eager_ckpt(spark.range(10))
    assert ck.count() == 10


def _grouped(spark):
    return (
        spark.range(0, 1000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )


def test_ckpt_observe_equals_count_and_aggregates(spark):
    df = _grouped(spark)
    ck, seen = ckpt_observe(
        df, min_n=F.min("n"), big=F.count_if(F.col("n") > 142)
    )
    rows = df.collect()
    assert seen == {
        "n": df.count(),
        "min_n": min(r["n"] for r in rows),
        "big": sum(r["n"] > 142 for r in rows),
    }
    assert sorted(ck.collect()) == sorted(rows)
    # a plan that is empty at run time, and one that is statically empty
    # (optimized to an empty LocalRelation): both report 0, neither hangs
    ck, seen = ckpt_observe(df.filter("n > 10000"), min_n=F.min("n"))
    assert seen == {"n": 0, "min_n": None}
    # an empty checkpoint plans as an empty LocalRelation, so joins
    # against it are pruned before any job runs
    assert _plan(ck).startswith("LocalRelation <empty>")
    assert _plan(df.join(ck, "g", "left_semi")).startswith("LocalRelation <empty>")
    ck, seen = ckpt_observe(df.limit(0), big=F.count_if(F.col("n") > 0))
    assert seen["n"] == 0 and not seen["big"]
    assert ck.collect() == []


def test_ckpt_observe_adds_no_job(spark, spark_jobs):
    df = _grouped(spark)
    with spark_jobs() as plain:
        eager_ckpt(df)
    with spark_jobs() as observed:
        _, seen = ckpt_observe(df, min_n=F.min("n"))
    assert seen["n"] == 7
    assert plain.n > 0
    assert observed.n == plain.n
    with spark_jobs() as counted:
        eager_ckpt(df).count()
    assert counted.n > plain.n  # what the observation saves


def test_empty_frame_is_local_relation_without_tasks(spark, spark_jobs):
    ddl = "conv_id string, __e int"
    empty = empty_frame(spark, ddl)
    assert empty.schema == spark.createDataFrame([], ddl).schema
    assert _plan(empty).startswith("LocalRelation <empty>")
    # joins against it are pruned at plan time
    assert _plan(
        spark.range(10).withColumnRenamed("id", "__e")
        .join(empty, "__e", "left_semi")
    ).startswith("LocalRelation <empty>")
    with spark_jobs() as jobs:
        assert empty.collect() == []
        eager_ckpt(empty)
    assert jobs.n == 0


def test_local_frame_rows_and_plan(spark):
    rows = [(1, 2, 3), (4, 5, 6)]
    df = local_frame(spark, rows, "s_small int, s_large int, m_min int")
    assert _plan(df).startswith("LocalRelation [s_small")
    assert [tuple(r) for r in df.collect()] == rows
    assert df.schema.simpleString() == "struct<s_small:int,s_large:int,m_min:int>"
    assert _plan(local_frame(spark, [], "conv_id string")).startswith(
        "LocalRelation <empty>"
    )


def test_shared_memo_mtime_guard(tmp_path, monkeypatch):
    """_shared fails loudly when the sf_dir's contents change mid-session
    (stale-checkpoint footgun): memoized subplans are only valid while
    the underlying parquet is immutable."""
    import time

    import pytest

    from dedup_spark import entry_queries as eq

    d = tmp_path / "sf"
    d.mkdir()
    (d / "documents.parquet").write_text("v1")
    calls = []

    class FakeDF:
        pass

    monkeypatch.setattr(
        "dedup_spark.util.eager_ckpt", lambda df: df, raising=True
    )
    fake_spark = object()
    out1 = eq._shared(
        fake_spark, str(d), "k1", lambda: calls.append(1) or FakeDF()
    )
    # same key → memo hit, no rebuild
    out2 = eq._shared(fake_spark, str(d), "k1", lambda: calls.append(2) or FakeDF())
    assert out1 is out2 and calls == [1]
    # mutate the dir (mtime moves) → loud failure, not stale reuse
    time.sleep(0.02)
    (d / "documents.parquet").write_text("v2 — mutated")
    os_utime_target = d / "documents.parquet"
    import os as _os

    _os.utime(os_utime_target)
    with pytest.raises(RuntimeError, match="changed mid-session"):
        eq._shared(fake_spark, str(d), "k1", FakeDF)
