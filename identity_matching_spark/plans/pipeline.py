"""End-to-end staged pipeline (SURVEY §3.4) over transcript tables.

stage 0  ingest + signature extraction + normalization  → ``signatures``
stage 1  frequency stats + co-occurrence popularity     → ``freqs``/``popular``
stage 2  persons + blocking (exact keys; optional MinHash-LSH pass)
stage 3  pairwise scoring (similarity mode only)
stage 4  connected components (checkpointed iterations inside)
stage 5  cluster build + primary values
stage 6  aliases/identities outputs

Each stage is a pure DataFrame function; with a ``CheckpointStore`` the
pipeline resumes from the last completed stage and checkpoint names carry the
config fingerprint (cache invalidation semantics of the reference's
``findSignatures``/SQL-hash, people.go:434-442,581-603). Without a store each
stage output is cut off by ``session.barrier``, the engine's one barrier
policy.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from identity_matching_spark.functions.hashing import lsh_candidate_edges
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import (
    build_aliases,
    build_identities,
    reduce_people,
)
from identity_matching_spark.operators.people import (
    build_persons,
    dedup_signatures,
    normalize_signatures,
)
from identity_matching_spark.operators.scoring import score_pairs
from identity_matching_spark.operators.signatures import extract_signatures
from identity_matching_spark.operators.stats import (
    cooccurrence_popular_keys,
    frequency_stats,
)
from identity_matching_spark.sources.io import CheckpointStore
from identity_matching_spark.session import barrier

# a name is popular once it co-occurs with this many distinct emails
# (research pipeline.py:272)
NAME_POPULARITY_THRESHOLD = 5


@dataclass
class PipelineConfig:
    max_identities: int | None = 20          # --max-identities (main.go:152-155)
    recent_months: int = 12                  # --months (main.go:156-158)
    min_recent_count: int = 5                # --min-count (main.go:159-162)
    reference_time: dt.datetime | None = None  # 'now' for the recent window
    use_cooccurrence_popularity: bool = False
    similarity_mode: bool = False            # MinHash-LSH + Jaro-Winkler pass
    jw_threshold: float = 0.95
    # LSH defaults from the measured sweep (tools/similarity_sweep.py, table
    # in BENCH/BASELINE.md): 2-char shingles + 32 bands recover most of the
    # recall a character edit destroys (band rows = 2 → candidate prob
    # 1-(1-J^2)^32, high even at Jaccard ~0.4) while the JW >= 0.95 verify
    # keeps precision at 1.0; degenerate buckets are capped (max_bucket).
    lsh_bands: int = 32
    lsh_perms: int = 64
    lsh_shingle_k: int = 2
    verify_ids: bool = True                  # assert no 64-bit person-id hash collision

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
    store: CheckpointStore | None = None,
    external_ids: DataFrame | None = None,
    reporter=None,
) -> dict[str, DataFrame]:
    """Run the full resolution pipeline; returns all stage outputs."""
    cfg = config or PipelineConfig()
    bl = Blacklist.default()

    def checkpoint(stage: str, compute):
        if store is None:
            # no durable store: still cut the stage boundary with a barrier
            # so downstream consumers reuse it instead of recomputing the
            # whole upstream DAG per consumer
            return compute().transform(barrier)
        return store.get_or_compute(stage, compute, reporter)

    # stage 0 — signatures (raw-value dedup mirrors the reference's GROUP BY
    # discovery SQL, people.go:428-432)
    signatures = checkpoint(
        "signatures",
        lambda: dedup_signatures(
            extract_signatures(transcripts)
            .where((F.col("name") != "") & (F.col("email") != ""))
            .select("repo", "name", "email", "hash", "ts")
        ),
    )

    # stage 1 — stats + popularity
    ref_time = cfg.reference_time or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    cutoff = ref_time - dt.timedelta(days=30 * cfg.recent_months)
    cleaned = normalize_signatures(signatures)
    name_freqs = checkpoint("name_freqs", lambda: frequency_stats(cleaned, "name_c", cutoff))
    email_freqs = checkpoint("email_freqs", lambda: frequency_stats(cleaned, "email_c", cutoff))

    popular_names = None
    if cfg.use_cooccurrence_popularity:
        popular_names = checkpoint(
            "popular_names",
            lambda: cooccurrence_popular_keys(
                cleaned,
                "name_c",
                "email_c",
                NAME_POPULARITY_THRESHOLD,
                ignored_key=bl.is_ignored_name(F.col("name_c")),
                ignored_value=bl.is_ignored_email(F.col("email_c")),
            ),
        )

    # stage 2 — persons (filter + keys + ids)
    persons = checkpoint(
        "persons",
        lambda: build_persons(
            signatures, bl, popular_names=popular_names, reporter=reporter,
            verify_ids=cfg.verify_ids,
        ),
    )

    # stage 3 — similarity pass (optional): MinHash-LSH over name shingles
    # proposes candidates; batched Jaro-Winkler keeps confident pairs. The
    # shingle source is the identity signature (the ER signal), not the
    # conversation body — body text is boilerplate-heavy and buckets
    # unrelated identities together. Filter, then verify: a candidate pair
    # whose names carry different digits is dropped in the JVM before the
    # JW UDF — digits in a name are identifiers (account numbers, bot ids),
    # so `smith1601` and `smith1602` are two people however close the
    # strings are, just as the reference's exact-name match keeps them apart.
    extra_edges = None
    if cfg.similarity_mode:

        def _score():
            cands = lsh_candidate_edges(
                persons,
                "name",
                n_perm=cfg.lsh_perms,
                n_bands=cfg.lsh_bands,
                shingle_k=cfg.lsh_shingle_k,
                reporter=reporter,
            )
            digits = persons.select("id", F.regexp_replace("name", "[^0-9]", "").alias("d"))
            cands = (
                cands.join(digits.toDF("src", "d_src"), "src")
                .join(digits.toDF("dst", "d_dst"), "dst")
                .where(F.col("d_src") == F.col("d_dst"))
                .select("src", "dst")
            )
            return score_pairs(
                persons, cands, name_col="name", jw_threshold=cfg.jw_threshold
            ).select("src", "dst")

        extra_edges = checkpoint("scored_pairs", _score)

    # stage 4+5 — clustering
    membership = checkpoint(
        "membership",
        lambda: reduce_people(
            persons,
            bl,
            max_identities=cfg.max_identities,
            external_ids=external_ids,
            extra_edges=extra_edges,
            store=store,
            reporter=reporter,
            verify_keys=cfg.verify_ids,
        ),
    )
    members = persons.join(membership, "id")

    # stage 6 — outputs
    aliases = checkpoint("aliases", lambda: build_aliases(members))
    identities = checkpoint(
        "identities",
        lambda: build_identities(
            members, name_freqs, email_freqs, min_recent_count=cfg.min_recent_count
        ),
    )
    return {
        "signatures": signatures,
        "persons": persons,
        "membership": membership,
        "members": members,
        "name_freqs": name_freqs,
        "email_freqs": email_freqs,
        "aliases": aliases,
        "identities": identities,
        "scored_pairs": extra_edges,  # None in exact mode
    }
