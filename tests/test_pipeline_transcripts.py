"""End-to-end transcripts pipeline: synthetic corpus → clusters, evaluated
against the latent persons (BASELINE gate: pairwise F1 ≥ 0.99), plus the
per-turn text-equality invariant and checkpoint resumability."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.eval import pairwise_prf
from identity_matching_spark.operators.people import normalize_signatures
from identity_matching_spark.operators.signatures import extract_signatures
from identity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from identity_matching_spark.sources.io import CheckpointStore
from identity_matching_spark.sources.synth import synth_labels, synth_transcripts
from reference_impl import per_cluster_prf

N_CONVS, N_PERSONS = 600, 60


@pytest.fixture(scope="module")
def corpus(spark):
    t = synth_transcripts(spark, n_convs=N_CONVS, n_persons=N_PERSONS, seed=42)
    t = t.localCheckpoint(eager=True)
    labels = synth_labels(spark, N_CONVS, N_PERSONS, seed=42)
    return t, labels


def _conv_assignments(transcripts, out):
    sigs = normalize_signatures(extract_signatures(transcripts)).select(
        "conv_id",
        "repo",
        F.col("name_c").alias("name"),
        F.col("email_c").alias("email"),
    )
    # several raw spelling variants collapse onto one cleaned triplet, and
    # the matching person rows all land in one component — distinct is exact
    return (
        sigs.join(
            out["members"].select("repo", "name", "email", "component"),
            ["repo", "name", "email"],
        )
        .select("conv_id", "component")
        .distinct()
    )


def test_exact_pipeline_f1(spark, corpus):
    transcripts, labels = corpus
    cfg = PipelineConfig(reference_time=dt.datetime(2026, 1, 1))
    out = run_pipeline(spark, transcripts, cfg)
    assigned = _conv_assignments(transcripts, out).join(labels, "conv_id")
    assert assigned.count() == N_CONVS
    prf = pairwise_prf(assigned)
    assert prf["f1"] >= 0.99, prf
    assert prf["precision"] == 1.0, prf
    per = per_cluster_prf(assigned.select("component", "person"))
    assert per["f1"] >= 0.99, per


def test_turn_text_invariant_through_checkpoint(spark, corpus, tmp_path):
    """Per-row invariant (BASELINE input_hint): per-turn text byte-equality
    under stable (conv_id, turn_idx) ordering, across a checkpoint."""
    transcripts, _ = corpus
    store = CheckpointStore(spark, str(tmp_path), {"stage": "invariant"})
    rt = store.write("transcripts", transcripts)
    orig = transcripts.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx")
    back = rt.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx")
    assert orig.exceptAll(back).isEmpty() and back.exceptAll(orig).isEmpty()


def test_pipeline_resume_from_checkpoint(spark, corpus, tmp_path):
    transcripts, _ = corpus
    cfg = PipelineConfig(reference_time=dt.datetime(2026, 1, 1))
    store = CheckpointStore(spark, str(tmp_path), cfg.as_dict())
    out1 = run_pipeline(spark, transcripts, cfg, store=store)
    n1 = out1["membership"].count()
    # second run resumes: inputs ignored (empty), results identical from disk
    empty = transcripts.limit(0)
    out2 = run_pipeline(spark, empty, cfg, store=store)
    assert out2["membership"].count() == n1
    a = out1["aliases"].orderBy("id", "email", "name", "repo").collect()
    b = out2["aliases"].orderBy("id", "email", "name", "repo").collect()
    assert a == b


def test_similarity_mode_recovers_typos(spark):
    """With character-level typos, exact blocking loses recall; the
    MinHash-LSH + Jaro-Winkler pass recovers it."""
    n_convs, n_persons = 300, 30
    t = synth_transcripts(spark, n_convs=n_convs, n_persons=n_persons, seed=7, typo_rate=0.25)
    t = t.localCheckpoint(eager=True)
    labels = synth_labels(spark, n_convs, n_persons, seed=7)

    exact_cfg = PipelineConfig(reference_time=dt.datetime(2026, 1, 1))
    # default similarity knobs (sweep-chosen: 2-shingles, 32 bands, JW 0.95)
    sim_cfg = PipelineConfig(reference_time=dt.datetime(2026, 1, 1), similarity_mode=True)
    exact = run_pipeline(spark, t, exact_cfg)
    sim = run_pipeline(spark, t, sim_cfg)

    r_exact = pairwise_prf(_conv_assignments(t, exact).join(labels, "conv_id"))
    r_sim = pairwise_prf(_conv_assignments(t, sim).join(labels, "conv_id"))
    assert r_sim["recall"] > r_exact["recall"], (r_exact, r_sim)
    assert r_sim["precision"] == 1.0, r_sim
    assert r_sim["f1"] >= 0.95, r_sim


def test_similarity_mode_keeps_names_with_other_digits_apart(spark):
    """A fuzzy name match must agree on the name's digits: two names that
    differ only in their digits stay two people, though Jaro-Winkler puts
    them above the threshold, while a typo'd name still merges."""
    from reference_impl import jaro_winkler

    def conv(i, name, email):
        return (f"c{i}-{i:09d}", 0, "user", f"name: {name}\nemail: {email}", "",
                dt.datetime(2025, 1, 1, i))

    t = spark.createDataFrame(
        [
            conv(0, "Orla Brennan1601", "ob1601@x.io"),
            conv(1, "Orla Brennan1602", "ob1602@x.io"),
            conv(2, "Jonathan Whitfield", "jw@x.io"),
            conv(3, "Jonthan Whitfield", "jw2@x.io"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = PipelineConfig(reference_time=dt.datetime(2026, 1, 1), similarity_mode=True)
    assert jaro_winkler("orla brennan1601", "orla brennan1602") >= cfg.jw_threshold
    assert jaro_winkler("jonathan whitfield", "jonthan whitfield") >= cfg.jw_threshold
    out = run_pipeline(spark, t, cfg)
    comp = {r["name"]: r["component"] for r in out["members"].collect()}
    assert len(comp) == 4
    assert comp["orla brennan1601"] != comp["orla brennan1602"]
    assert comp["jonathan whitfield"] == comp["jonthan whitfield"]


def test_cooccurrence_popularity_qualifies_hot_names(spark):
    """A name co-occurring with ≥ threshold distinct emails is computed as
    popular and repo-qualified, so it stops merging across channels
    (research CooccurrenceFiltering semantics, thresholds pipeline.py:272)."""
    import datetime as dt

    rows = []
    # 'deploy bot' posts under 8 distinct emails across channels → popular
    for i in range(8):
        rows.append((f"chan{i % 2}-{i:09d}", 0, "user",
                     f"name: deploy bot\nemail: bot{i}@svc.io", "", dt.datetime(2025, 1, 1, i)))
    # two real persons sharing the bot's channels
    rows.append(("chan0-000000100", 0, "user", "name: Rena Vogel\nemail: rv@x.io", "", dt.datetime(2025, 1, 2)))
    rows.append(("chan1-000000101", 0, "user", "name: Rena Vogel\nemail: rv2@x.io", "", dt.datetime(2025, 1, 3)))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = PipelineConfig(
        reference_time=dt.datetime(2026, 1, 1),
        use_cooccurrence_popularity=True,
    )
    out = run_pipeline(spark, t, cfg)
    persons = out["persons"].collect()
    bots = [p for p in persons if p["name"] == "deploy bot"]
    assert bots and all(p["popular_name"] for p in bots)
    assert all(p["name_key"].startswith("{deploy bot, chan") for p in bots)
    # bot identities stay per-channel-ish (no global mega-merge by name);
    # the human still merges across channels via the shared (non-popular) name
    comp = {r["id"]: r["component"] for r in out["membership"].collect()}
    human_ids = [p["id"] for p in persons if p["name"] == "rena vogel"]
    assert len({comp[i] for i in human_ids}) == 1
    bot_comps = {comp[p["id"]] for p in bots}
    assert len(bot_comps) >= 2  # split by channel, not one global bot entity
