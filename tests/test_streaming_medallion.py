"""Streaming medallion integration: weekly files land → foreachBatch
silver transform → snapshot_week-partitioned output. Asserts
stream==batch parity, incremental arrival handling, and idempotent
re-runs — the reference's FileSensor→bronze→silver DAG chain
(dags/dag.py:110-198) as one checkpointed stream."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mle_proj_datapipeline_spark.plans.medallion import silver_loan_terms, to_bronze
from mle_proj_datapipeline_spark.streaming.weekly import incremental_silver
from tests.fixtures import gen_domain_tables


def _transform(df):
    return silver_loan_terms(to_bronze(df))


@pytest.fixture(scope="module")
def loans(spark):
    from mle_proj_datapipeline_spark.schemas import DOMAIN_TABLES

    return spark.createDataFrame(
        gen_domain_tables()["loan_terms"], schema=DOMAIN_TABLES["loan_terms"]
    )


def _collect(spark, path):
    return {
        tuple(str(v) for v in r)
        for r in spark.read.parquet(path)
        .select("id", "snapshot_week", "grade")
        .collect()
    }


def test_incremental_silver_stream(spark, loans, tmp_path_factory):
    land = str(tmp_path_factory.mktemp("land"))
    out = str(tmp_path_factory.mktemp("silver_out") / "loan_terms")
    ckpt = str(tmp_path_factory.mktemp("ckpt"))

    weeks = sorted(
        r["wk"] for r in loans.select(
            F.date_format(F.date_trunc("week", F.date_add("snapshot_date", 1)), "yyyy-MM-dd").alias("wk")
        ).distinct().collect()
    )
    cut = weeks[len(weeks) // 2]
    early = loans.filter(
        F.date_format(F.date_trunc("week", F.date_add("snapshot_date", 1)), "yyyy-MM-dd") < cut
    )
    late = loans.subtract(early)

    # wave 1: early weeks land
    early.coalesce(1).write.mode("overwrite").parquet(f"{land}/w1")
    q = incremental_silver(spark, f"{land}/*", loans.schema, _transform, out, ckpt)
    q.awaitTermination(120)
    assert _collect(spark, out) == {
        tuple(str(v) for v in r)
        for r in _transform(early).select("id", "snapshot_week", "grade").collect()
    }

    # wave 2: late weeks land; early partitions must survive (dynamic
    # overwrite touches only the arriving weeks)
    late.coalesce(1).write.mode("overwrite").parquet(f"{land}/w2")
    q = incremental_silver(spark, f"{land}/*", loans.schema, _transform, out, ckpt)
    q.awaitTermination(120)
    full_batch = {
        tuple(str(v) for v in r)
        for r in _transform(loans).select("id", "snapshot_week", "grade").collect()
    }
    assert _collect(spark, out) == full_batch

    # re-run with same checkpoint: no reprocessing, output unchanged
    q = incremental_silver(spark, f"{land}/*", loans.schema, _transform, out, ckpt)
    q.awaitTermination(120)
    assert _collect(spark, out) == full_batch


def test_incremental_gold_aligns_sources(spark, tmp_path_factory):
    """Gold weeks materialize only when all four silver tables have the
    week (the FileSensor alignment), deferred weeks self-heal when the
    last source lands, and the final store equals the one-shot batch
    build."""
    from mle_proj_datapipeline_spark.plans.medallion import (
        gold_feature_store,
        silver_credit_history,
        silver_demographic,
        silver_financial,
        top_k_categories,
    )
    from mle_proj_datapipeline_spark.schemas import DOMAIN_TABLES
    from mle_proj_datapipeline_spark.streaming.gold import incremental_gold, partition_weeks

    silver_root = str(tmp_path_factory.mktemp("silver_root"))
    gold_root = str(tmp_path_factory.mktemp("gold_root"))
    ckpt = str(tmp_path_factory.mktemp("gold_ckpt"))

    raw = gen_domain_tables()
    transforms = {
        "credit_history": silver_credit_history,
        "demographic": silver_demographic,
        "financial": silver_financial,
        "loan_terms": silver_loan_terms,
    }
    silvers = {
        t: fn(to_bronze(spark.createDataFrame(raw[t], schema=DOMAIN_TABLES[t])))
        for t, fn in transforms.items()
    }
    weeks = sorted(
        r["snapshot_week"] for r in silvers["loan_terms"].select("snapshot_week").distinct().collect()
    )
    cut = weeks[len(weeks) // 2]
    emp_top = [c.strip().upper() for c in top_k_categories(silvers["demographic"], "emp_title", 10)]

    # wave 1: loan_terms lands in full; the other three only before `cut`
    for t, df in silvers.items():
        part = df if t == "loan_terms" else df.filter(F.col("snapshot_week") < cut)
        part.write.mode("overwrite").partitionBy("snapshot_week").parquet(f"{silver_root}/{t}")
    incremental_gold(spark, silver_root, gold_root, ckpt, emp_top)
    assert partition_weeks(spark, f"{gold_root}/feature_store") == {w for w in weeks if w < cut}

    # wave 2: the stragglers land; deferred weeks must now build
    for t, df in silvers.items():
        if t != "loan_terms":
            df.filter(F.col("snapshot_week") >= cut).write.mode("append").partitionBy(
                "snapshot_week"
            ).parquet(f"{silver_root}/{t}")
    incremental_gold(spark, silver_root, gold_root, ckpt, emp_top)
    assert partition_weeks(spark, f"{gold_root}/feature_store") == set(weeks)

    # parity with the one-shot batch build
    expected = gold_feature_store(
        silvers["credit_history"].drop("snapshot_week"),
        silvers["demographic"].drop("snapshot_week"),
        silvers["financial"].drop("snapshot_week"),
        silvers["loan_terms"],
        emp_title_top=emp_top,
    )
    got = spark.read.parquet(f"{gold_root}/feature_store")
    assert sorted(got.columns) == sorted(expected.columns)
    cols = ["id", "snapshot_week", "grade_ordinal", "loan_amnt", "emp_length_years"]

    def rows(df):
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    assert rows(got) == rows(expected)

    # idempotent re-run: checkpoints mean no new files, nothing rebuilt
    assert incremental_gold(spark, silver_root, gold_root, ckpt, emp_top) == []


def test_maintain_gold_backfills_half_written_week(spark, tmp_path_factory):
    """A crash between the feature_store and label_store writes leaves a
    week with features but no labels; the next maintenance pass must
    rebuild it (the 'have' set is the intersection of BOTH gold tables)."""
    import shutil

    from mle_proj_datapipeline_spark.plans.medallion import (
        silver_credit_history,
        silver_demographic,
        silver_financial,
        top_k_categories,
    )
    from mle_proj_datapipeline_spark.schemas import DOMAIN_TABLES
    from mle_proj_datapipeline_spark.streaming.gold import maintain_gold, partition_weeks

    silver_root = str(tmp_path_factory.mktemp("silver_root2"))
    gold_root = str(tmp_path_factory.mktemp("gold_root2"))

    raw = gen_domain_tables()
    transforms = {
        "credit_history": silver_credit_history,
        "demographic": silver_demographic,
        "financial": silver_financial,
        "loan_terms": silver_loan_terms,
    }
    silvers = {
        t: fn(to_bronze(spark.createDataFrame(raw[t], schema=DOMAIN_TABLES[t])))
        for t, fn in transforms.items()
    }
    for t, df in silvers.items():
        df.write.mode("overwrite").partitionBy("snapshot_week").parquet(f"{silver_root}/{t}")
    emp_top = [c.strip().upper() for c in top_k_categories(silvers["demographic"], "emp_title", 10)]

    built = maintain_gold(spark, silver_root, gold_root, emp_top)
    assert built, "initial build produced no weeks"

    # Simulate the crash: one week's label partition vanishes.
    victim = built[0]
    shutil.rmtree(f"{gold_root}/label_store/snapshot_week={victim}")
    assert victim not in partition_weeks(spark, f"{gold_root}/label_store")

    rebuilt = maintain_gold(spark, silver_root, gold_root, emp_top)
    assert victim in rebuilt
    assert victim in partition_weeks(spark, f"{gold_root}/label_store")


@pytest.fixture(scope="module")
def silver_frames(spark):
    """The four silver tables built from the fixture rows, the pinned
    emp_title dictionary and the sorted snapshot weeks."""
    from mle_proj_datapipeline_spark.plans.medallion import (
        silver_credit_history,
        silver_demographic,
        silver_financial,
        top_k_categories,
    )
    from mle_proj_datapipeline_spark.schemas import DOMAIN_TABLES

    raw = gen_domain_tables()
    transforms = {
        "credit_history": silver_credit_history,
        "demographic": silver_demographic,
        "financial": silver_financial,
        "loan_terms": silver_loan_terms,
    }
    silvers = {
        t: fn(to_bronze(spark.createDataFrame(raw[t], schema=DOMAIN_TABLES[t])))
        for t, fn in transforms.items()
    }
    weeks = sorted(
        r["snapshot_week"] for r in silvers["loan_terms"].select("snapshot_week").distinct().collect()
    )
    emp_top = [c.strip().upper() for c in top_k_categories(silvers["demographic"], "emp_title", 10)]
    return silvers, emp_top, weeks


def _land_silver(silver_root, silvers, cond):
    """Land the rows matching ``cond`` in every silver table (dynamic
    partition overwrite, the way incremental_silver writes)."""
    for t, df in silvers.items():
        df.filter(cond).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("snapshot_week").parquet(f"{silver_root}/{t}")


def _feature_rows(df, week):
    cols = ["id", "snapshot_week", "grade_ordinal", "loan_amnt", "emp_length_years"]
    return sorted(
        tuple(str(v) for v in r)
        for r in df.filter(F.col("snapshot_week").cast("string") == week).select(*cols).collect()
    )


def test_incremental_gold_rebuilds_landed_week_once(spark, silver_frames, tmp_path_factory, monkeypatch):
    """A week landing in all four silver tables is one micro-batch of
    one stream: maintain_gold runs once and the week is rebuilt once
    (not once per source table)."""
    from mle_proj_datapipeline_spark.streaming import gold

    silvers, emp_top, weeks = silver_frames
    silver_root = str(tmp_path_factory.mktemp("silver_once"))
    gold_root = str(tmp_path_factory.mktemp("gold_once"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_once"))
    new = weeks[-1]

    _land_silver(silver_root, silvers, F.col("snapshot_week") < new)
    assert sorted(gold.incremental_gold(spark, silver_root, gold_root, ckpt, emp_top)) == weeks[:-1]

    calls = []
    real = gold.maintain_gold

    def counted(spark, silver_root, gold_root, emp_title_top, touched_weeks=None):
        calls.append(touched_weeks)
        return real(spark, silver_root, gold_root, emp_title_top, touched_weeks)

    monkeypatch.setattr(gold, "maintain_gold", counted)
    _land_silver(silver_root, silvers, F.col("snapshot_week") == new)
    assert gold.incremental_gold(spark, silver_root, gold_root, ckpt, emp_top) == [new]
    assert calls == [{new}]
    assert not spark.streams.active


def test_incremental_gold_replays_batch_after_crash(spark, silver_frames, tmp_path_factory, monkeypatch):
    """The rebuild runs before the micro-batch commits: when
    maintain_gold crashes on a revised week, the next run replays the
    batch and gold ends up matching the revised silver."""
    from pyspark.errors import StreamingQueryException

    from mle_proj_datapipeline_spark.plans.medallion import gold_feature_store
    from mle_proj_datapipeline_spark.streaming import gold

    silvers, emp_top, weeks = silver_frames
    silver_root = str(tmp_path_factory.mktemp("silver_crash"))
    gold_root = str(tmp_path_factory.mktemp("gold_crash"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_crash"))
    _land_silver(silver_root, silvers, F.lit(True))
    gold.incremental_gold(spark, silver_root, gold_root, ckpt, emp_top)

    # Revise one week of loan_terms (every amount corrected upwards).
    victim = weeks[len(weeks) // 2]
    in_victim = F.col("snapshot_week") == victim
    loans = silvers["loan_terms"]
    revised_week = loans.filter(in_victim).withColumn("loan_amnt", F.col("loan_amnt") + 1000)
    _land_silver(silver_root, {"loan_terms": revised_week}, F.lit(True))
    revised = dict(silvers, loan_terms=loans.filter(~in_victim).unionByName(revised_week))

    def expected(tables):
        return _feature_rows(
            gold_feature_store(
                tables["credit_history"].drop("snapshot_week"),
                tables["demographic"].drop("snapshot_week"),
                tables["financial"].drop("snapshot_week"),
                tables["loan_terms"],
                emp_title_top=emp_top,
            ),
            victim,
        )

    feature_path = f"{gold_root}/feature_store"
    stale = _feature_rows(spark.read.parquet(feature_path), victim)
    assert stale == expected(silvers) != expected(revised)

    real = gold.maintain_gold

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(gold, "maintain_gold", real)
        raise RuntimeError("injected crash before the gold write")

    monkeypatch.setattr(gold, "maintain_gold", crash_once)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        gold.incremental_gold(spark, silver_root, gold_root, ckpt, emp_top)
    assert not spark.streams.active
    assert _feature_rows(spark.read.parquet(feature_path), victim) == stale

    assert gold.incremental_gold(spark, silver_root, gold_root, ckpt, emp_top) == [victim]
    assert _feature_rows(spark.read.parquet(feature_path), victim) == expected(revised)


def test_incremental_gold_timeout_stops_query(spark, silver_frames, tmp_path_factory):
    """A stream that does not drain in time is stopped and reported,
    never left running on the checkpoint; the next call resumes it."""
    from mle_proj_datapipeline_spark.streaming.gold import incremental_gold, partition_weeks

    silvers, emp_top, weeks = silver_frames
    silver_root = str(tmp_path_factory.mktemp("silver_timeout"))
    gold_root = str(tmp_path_factory.mktemp("gold_timeout"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_timeout"))
    _land_silver(silver_root, silvers, F.lit(True))

    with pytest.raises(TimeoutError):
        incremental_gold(spark, silver_root, gold_root, ckpt, emp_top, timeout_s=0.001)
    assert not spark.streams.active

    incremental_gold(spark, silver_root, gold_root, ckpt, emp_top)
    assert partition_weeks(spark, f"{gold_root}/feature_store") == set(weeks)
