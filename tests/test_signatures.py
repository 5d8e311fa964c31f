"""The turn-order rule of the signature extractor: a conversation's name and
email are the tokens of the lowest ``turn_idx`` that carries one, whatever
order the turns arrive in and however they are partitioned — for the batch
extractor and for the stream extractor, which share one aggregation."""

import datetime as dt

from pyspark.sql import functions as F

from identity_matching_spark.operators.signatures import extract_signatures, stream_signatures

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
T0 = dt.datetime(2025, 1, 1, 12, 0)


def _turns(spark):
    texts = {
        0: None,  # NULL text
        1: "name:",  # a name line with nothing after it
        2: "name: Ada Lovelace\nmail me at ada@first.org",
        3: "no identity here",
        4: "still nothing",
        5: "name: Ada Byron\nor ada@second.org",
        6: "bye",
    }
    rows = [
        ("repo-c1", i, "user", texts[i], None, T0 + dt.timedelta(minutes=i))
        for i in sorted(texts, reverse=True)
    ]
    # reverse turn order, spread over several partitions
    return spark.createDataFrame(rows, SCHEMA).repartition(4)


def _tokens(df):
    return [(r["repo"], r["name"], r["email"], r["conv_id"]) for r in df.collect()]


WANT = [("repo", "Ada Lovelace", "ada@first.org", "repo-c1")]


def test_batch_takes_the_lowest_turn_with_a_token(spark):
    sig = extract_signatures(_turns(spark))
    assert _tokens(sig) == WANT
    assert sig.columns == ["repo", "name", "email", "hash", "ts", "conv_id"]


def test_stream_takes_the_lowest_turn_with_a_token(spark, tmp_path):
    src = str(tmp_path / "turns")
    _turns(spark).write.parquet(src)
    # a far-future turn of another conversation moves the watermark past
    # the real session, so append mode emits it
    sentinel = spark.createDataFrame(
        [("zzz-sentinel", 0, "user", "name: S\ns@s.org", None, dt.datetime(2030, 1, 1))],
        SCHEMA,
    )
    sentinel.write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = str(tmp_path / "sigs")
    q = (
        stream_signatures(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.columns == ["repo", "name", "email", "hash", "ts", "conv_id"]
    assert _tokens(got.where(F.col("conv_id") != "zzz-sentinel")) == WANT
