"""Transcript → identity-signature extraction (SURVEY §1.4, §7 step 3).

Input is the BASELINE.json input_hint table:
``transcripts(conv_id, turn_idx, role, text, tool, ts)``. The analog of the
reference's distinct-triplet discovery query (people.go:428-432) derives one
identity signature per conversation:

* ``repo``   — provenance channel (prefix of conv_id before '-'): the
  popular-name qualification scope, like the git repository was.
* ``name``   — the name-like token: the ``name: ...`` line of the lowest
  ``turn_idx`` that has one.
* ``email``  — the email-like token: the first email-shaped string of the
  lowest ``turn_idx`` that has one.
* ``hash``   — sample provenance (the conv_id, like the sample commit hash).
* ``ts``     — max turn timestamp (drives the recent/total split).

Batch (:func:`extract_signatures`) and stream (:func:`stream_signatures`)
share one per-turn token projection and one aggregation; they differ only
in the grouping keys. Everything is native expressions — one hash
aggregation per group, no Python. Ordering never relies on partition or
arrival order: each token is ``min_by(token, turn_idx)`` over the turns
whose token is non-empty, so a turn with a NULL text or an empty token
never wins, and the result is the same however the turns are partitioned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NAME_LINE = r"(?m)^name:\s*(.+)$"
EMAIL_TOKEN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def channel_of(conv_id) -> F.Column:
    return F.regexp_extract(conv_id, r"^([^-]+)", 1)


def _signatures(transcripts: DataFrame, *keys: str | Column) -> DataFrame:
    """One signature row per ``keys`` group of turns.

    The token regexes are gated behind ``contains`` probes — a substring
    scan is far cheaper than the regex NFA and CASE WHEN short-circuits in
    codegen, so turns without candidate tokens (most of a conversation)
    never pay the regex.
    """
    name_tok = F.when(
        F.col("text").contains("name:"), F.regexp_extract("text", NAME_LINE, 1)
    ).otherwise(F.lit(""))
    email_tok = F.when(
        F.col("text").contains("@"), F.regexp_extract("text", EMAIL_TOKEN, 0)
    ).otherwise(F.lit(""))
    turns = transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        name_tok.alias("name_tok"),
        email_tok.alias("email_tok"),
    )
    sig = turns.groupBy(*keys).agg(
        F.min_by("name_tok", F.when(F.col("name_tok") != "", F.col("turn_idx"))).alias("name"),
        F.min_by("email_tok", F.when(F.col("email_tok") != "", F.col("turn_idx"))).alias("email"),
        F.max("ts").alias("ts"),
    )
    return sig.select(
        channel_of(F.col("conv_id")).alias("repo"),
        F.coalesce("name", F.lit("")).alias("name"),
        F.coalesce("email", F.lit("")).alias("email"),
        F.col("conv_id").alias("hash"),
        "ts",
        F.col("conv_id"),
    )


def extract_signatures(transcripts: DataFrame) -> DataFrame:
    """One signature row per conversation (see module docstring)."""
    return _signatures(transcripts, "conv_id")


def stream_signatures(
    turn_stream: DataFrame,
    watermark: str = "10 minutes",
    session_gap: str = "30 minutes",
) -> DataFrame:
    """Streaming per-conversation signature aggregation.

    ``turn_stream`` must be a streaming DataFrame with the transcript
    schema. Returns a streaming DataFrame with the batch columns: one
    signature row per (conv_id, session window), updated as turns arrive;
    late turns beyond the watermark are dropped (documented divergence from
    batch, which has no lateness bound).
    """
    return _signatures(
        turn_stream.withWatermark("ts", watermark),
        "conv_id",
        F.session_window("ts", session_gap),
    )
