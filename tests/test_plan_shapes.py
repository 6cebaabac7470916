"""Plan-shape guards for the round-7 curation ops: the three new ops
are all PURE MAPS — their scale contract is zero shuffle (beyond the
optional ensure_min_width round-robin, which is a no-op whenever the
scan is already as wide as the session). A regression that introduces
an Exchange would silently turn a 100-TB map job into a 100-TB
shuffle, so pin the executed plan here."""
import numpy as np
from pyspark.sql import functions as F

from featuretools_spark.ops.classify import classifier_score
from featuretools_spark.ops.split import hash_split, sample_by_hash
from featuretools_spark.ops.textstats import (
    WITNESS_BPE_MERGES,
    bpe_token_count,
)


def _wide_docs(spark):
    """A frame already at session width, so ensure_min_width no-ops
    and any Exchange in the plan is the op's own."""
    n = spark.sparkContext.defaultParallelism
    return (
        spark.range(0, 1000, 1, n)  # born at session width, no Exchange
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("some text body "),
                     F.col("id").cast("string")).alias("text"),
        )
    )


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bpe_token_count_is_shuffle_free(spark):
    plan = _executed(
        bpe_token_count(_wide_docs(spark), "doc_id", "text",
                        WITNESS_BPE_MERGES))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_classifier_witness_mode_is_shuffle_free(spark):
    # r8: the default witness path moved the (exact, order-free)
    # md5-weight fold into ONE Arrow-batched UDF — still zero-shuffle,
    # tokenization and sigmoid/rounding still JVM expressions; the
    # pure-codegen fold remains available behind fast_witness=False
    plan = _executed(
        classifier_score(_wide_docs(spark), "doc_id", "text"))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_classifier_witness_fast_and_expr_paths_agree(spark):
    fast = classifier_score(_wide_docs(spark), "doc_id", "text",
                            bias=0.25)
    slow = classifier_score(_wide_docs(spark), "doc_id", "text",
                            bias=0.25, fast_witness=False)
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    plan = _executed(slow)
    # the expression path stays pure codegen — no Python at all
    assert "EvalPython" not in plan


def test_classifier_weights_mode_is_shuffle_free(spark):
    plan = _executed(
        classifier_score(_wide_docs(spark), "doc_id", "text",
                         weights=np.ones(32)))
    assert "Exchange" not in plan


def test_hash_split_and_sample_are_shuffle_free_codegen(spark):
    df = _wide_docs(spark)
    for out in (
        hash_split(df, "doc_id",
                   [("train", 0.75), ("val", 0.125), ("test", 0.125)]),
        sample_by_hash(df, "doc_id", 0.3),
    ):
        plan = _executed(out)
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


def test_grouped_ewm_is_one_map_in_arrow(spark):
    """A grouped EWM feature is one Arrow-batched scan per key
    partition: exactly one MapInArrow and no per-group pandas loop."""
    import datetime as dt

    import featuretools_spark as fts
    from featuretools_spark.features import (
        GroupByTransformFeature,
        IdentityFeature,
    )
    from featuretools_spark.primitives.transform import (
        ExponentialWeightedSTD,
    )

    rows = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        F.rand(3).alias("val"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"))
    es = fts.EntitySet("ewm_plan")
    es.add_dataframe("rows", rows, index="id", time_index="ts")
    f = GroupByTransformFeature(
        ExponentialWeightedSTD(com=0.5),
        [IdentityFeature(es, "rows", "val")],
        groupby=IdentityFeature(es, "rows", "grp"))
    fm = fts.calculate_feature_matrix(
        [f], es, cutoff_time=dt.datetime(2030, 1, 1))
    plan = _executed(fm)
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
