"""Coverage for the checkpoint confidence histogram and skew helpers."""

from pyspark.sql import functions as F

from chapterbridge_ocr_worker_spark.operators.metrics import checkpoint_rows
from chapterbridge_ocr_worker_spark.operators.skew import (
    repartition_by_cost,
    repartition_spans,
    with_salt,
)


def _lines_df(spark):
    mk = lambda confs: [("t", c, [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]) for c in confs]
    return spark.createDataFrame(
        [("d1", mk([0.05, 0.15, 0.95])), ("d2", mk([0.95, 0.99]))],
        "doc_id string, lines array<struct<text:string,confidence:double,bbox:array<array<double>>>>",
    )


def test_confidence_histogram_buckets(spark):
    ok = _lines_df(spark).withColumn("text", F.lit("t"))
    per_part = [r["metrics"]["conf_hist"] for r in checkpoint_rows(ok, 1.0).collect()]
    hist = {b: n for b, n in enumerate(map(sum, zip(*per_part))) if n}
    assert hist == {0: 1, 1: 1, 9: 3}  # 0.95/0.99 clamp into bucket 9


def test_repartition_helpers_preserve_rows(spark):
    df = spark.createDataFrame(
        [(f"d{i}", i, i * 100) for i in range(50)], ["doc_id", "offset", "byte_size"]
    )
    assert repartition_spans(df, 8).count() == 50
    by_cost = repartition_by_cost(df, 4)
    assert by_cost.count() == 50
    assert by_cost.rdd.getNumPartitions() == 4


def test_with_salt_spreads_only_hot_rows(spark):
    df = spark.createDataFrame(
        [("hot", 100), ("hot", 100), ("cold", 1), ("cold", 1)], ["k", "cost"]
    )
    out = with_salt(df, key="k", buckets=8, threshold_col="cost", threshold=50)
    rows = out.collect()
    assert all(r["salt"] == 0 for r in rows if r["k"] == "cold")
    assert all(0 <= r["salt"] < 8 for r in rows if r["k"] == "hot")
    # two-phase agg over (k, salt) then k reproduces the plain answer
    partial = out.groupBy("k", "salt").agg(F.count("*").alias("n"))
    final = {r["k"]: r["total"] for r in partial.groupBy("k").agg(F.sum("n").alias("total")).collect()}
    assert final == {"hot": 2, "cold": 2}
