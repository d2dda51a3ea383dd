"""Text-analysis unit tests beyond the oracle comparisons."""

from __future__ import annotations

import pyspark.sql.functions as F

from chatdata_spark.functions.text import (
    fingerprint_rolling64,
    text_features,
    token_count_bpe,
)


def _df(spark, rows):
    return spark.createDataFrame([(i, t) for i, t in enumerate(rows)], "id int, text string")


def test_predict_lang_on_clear_text(spark):
    df = _df(
        spark,
        [
            "the cat sat on the mat and looked at the dog",
            "der hund ist nicht mit der katze und das ist gut",
            "le chat est dans la maison et il est pas content",
            "el perro y el gato en la casa por la noche",
            "xyzzy plugh qwerty",
        ],
    )
    got = [r.pred_lang for r in text_features(df).orderBy("id").select("pred_lang").collect()]
    assert got == ["en", "de", "fr", "es", "unknown"]


def test_token_counts(spark):
    df = _df(spark, ["hello world", "a-b c3 d!", ""])
    rows = text_features(df).orderBy("id").select(
        F.col("__nw").alias("ws"), token_count_bpe("text").alias("bpe")
    ).collect()
    assert rows[0].ws == 2 and rows[0].bpe == 2
    # "a-b c3 d!" → a, -, b, c, 3, d, ! = 7 BPE-ish tokens, 3 ws tokens
    assert rows[1].ws == 3 and rows[1].bpe == 7


def test_quality_score_bounds_and_ordering(spark):
    junk = "!!! 123 ??? 456 !!!"
    good = ("the quick brown fox jumps over the lazy dog and runs to the house in the field " * 8)
    df = _df(spark, [junk, good])
    rows = text_features(df).select("id", F.col("quality").alias("q")).collect()
    q = {r.id: r.q for r in rows}
    assert 0.0 <= q[0] <= 1.0 and 0.0 <= q[1] <= 1.0
    assert q[1] > q[0]


def test_fingerprints_normalize_whitespace_and_case(spark):
    df = _df(spark, ["Hello   World", "hello world", "world hello"])
    rows = text_features(df).orderBy("id").select(
        F.col("fp").alias("sha"), fingerprint_rolling64("text").alias("roll")
    ).collect()
    assert rows[0].sha == rows[1].sha  # case/whitespace-insensitive
    assert rows[0].roll == rows[1].roll
    assert rows[1].roll != rows[2].roll  # order-sensitive


def test_rolling_fingerprint_groups_find_planted_copies(spark):
    from tests.conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 20).withColumn("doc_id", F.col("doc_id") + 100000)
    u = d.unionByName(copies).withColumn("fp", fingerprint_rolling64("text"))
    dup_groups = u.groupBy("fp").count().filter(F.col("count") >= 2).count()
    assert dup_groups >= 20
