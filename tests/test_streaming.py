"""Streaming signature extraction: file-source stream → watermarked
session aggregation produces the same signatures as the batch extractor."""

import time

from pyspark.sql import functions as F

from identity_matching_spark.operators.signatures import extract_signatures
from identity_matching_spark.sources.synth import synth_transcripts
from identity_matching_spark.streaming.incremental import stream_signatures


def test_stream_signatures_match_batch(spark, tmp_path):
    t = synth_transcripts(spark, n_convs=120, n_persons=12, seed=11)
    src = str(tmp_path / "turns")
    # sentinel turn far in the future: the watermark only advances with event
    # time, so without it the newest session never closes in append mode
    sentinel = t.limit(1).select(
        F.lit("zzz-sentinel").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("name: Sentinel\nemail: s@s.org").alias("text"),
        F.lit("").alias("tool"),
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    t.unionByName(sentinel).write.parquet(src)

    stream = spark.readStream.schema(t.schema).parquet(src)
    sigs = stream_signatures(stream, watermark="1 minute", session_gap="10 minutes")
    out_dir = str(tmp_path / "sigs")
    q = (
        sigs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append-mode session windows only emit once the watermark passes; with
    # availableNow the final trigger flushes all closed sessions
    got = (
        spark.read.parquet(out_dir)
        .where(F.col("conv_id") != "zzz-sentinel")
        .select("repo", "name", "email", "conv_id")
    )
    batch = extract_signatures(t).select("repo", "name", "email", "conv_id")
    missing = batch.exceptAll(got).count()
    extra = got.exceptAll(batch).count()
    assert missing == 0 and extra == 0, (missing, extra)


def test_incremental_clustering_stable_across_batches(spark, tmp_path):
    """Multi-batch incremental resolution at ~100k turn rows: cluster
    assignments of already-resolved persons must not churn when later
    micro-batches deliver signatures of NEW persons. Stability is structural
    — hash-derived person ids and component = min member id are pure
    functions of the member set, so an untouched cluster's id cannot move
    when unrelated rows arrive (the incremental contract of
    streaming/incremental.run_incremental_resolution)."""
    import datetime as dt

    from identity_matching_spark.operators.cluster import reduce_people
    from identity_matching_spark.operators.people import build_persons, dedup_signatures
    from identity_matching_spark.operators.signatures import extract_signatures
    from identity_matching_spark.operators.blacklist import Blacklist
    from identity_matching_spark.sources.synth import synth_labels, synth_transcripts

    n_convs, n_persons = 17_000, 200  # ≈ 100k turn rows
    t = synth_transcripts(spark, n_convs=n_convs, n_persons=n_persons, seed=21)
    labels = synth_labels(spark, n_convs, n_persons, seed=21)
    # slice the corpus by latent person: batch 1 = persons 0..99,
    # batch 2 adds persons 100..199 (pure new evidence for new clusters)
    first = labels.where(F.col("person") < 100).select("conv_id")
    t1 = t.join(first, "conv_id")
    src = str(tmp_path / "turns_inc")
    t1.write.mode("overwrite").parquet(src + "/slice=0")

    bronze = str(tmp_path / "bronze")
    memberships = []

    def fold(batch_sigs):
        batch_sigs.write.mode("append").parquet(bronze)
        merged = spark.read.parquet(bronze)
        persons = build_persons(dedup_signatures(merged), Blacklist.default())
        membership = reduce_people(persons, Blacklist.default(), max_identities=20)
        return persons.join(membership, "id").select("repo", "name", "email", "component")

    # micro-batch 1 (drive the foreachBatch body directly: availableNow file
    # streams deliver the same frames; the contract under test is the
    # batch-incremental fold, not the source)
    sigs1 = extract_signatures(spark.read.parquet(src)).select(
        "repo", "name", "email", "hash", "ts"
    )
    m1 = fold(sigs1).localCheckpoint(eager=True)

    # micro-batch 2: remaining persons arrive
    t2 = t.join(labels.where(F.col("person") >= 100).select("conv_id"), "conv_id")
    t2.write.mode("overwrite").parquet(src + "/slice=1")
    sigs2 = extract_signatures(spark.read.parquet(src + "/slice=1")).select(
        "repo", "name", "email", "hash", "ts"
    )
    m2 = fold(sigs2).localCheckpoint(eager=True)

    # every (repo, name, email) alias resolved in batch 1 keeps its exact
    # component id in batch 2 — no churn from unrelated arrivals
    moved = (
        m1.alias("a")
        .join(m2.alias("b"), ["repo", "name", "email"])
        .where(F.col("a.component") != F.col("b.component"))
        .count()
    )
    assert moved == 0
    # and batch 2 genuinely added the new persons' clusters
    assert m2.select("component").distinct().count() > m1.select("component").distinct().count()
