"""Spans recorded from the benchmark around its calls into the program.

A span is a named interval with a parent. While a span is open, every Spark
job the driver thread starts runs in a job group named after the span, so
the event log can attribute jobs, stages and tasks to it
(``eventlog.span_stats``). Spans stay in memory and are written once, at the
end of the run.

Layer spans wrap the stage functions ``run_pipeline`` calls. Timing only
its returned outputs could not split the layers: ``run_pipeline`` already
runs the persons and clustering stages while it builds them. Each wrapper
materializes the stage's output inside its span (``localCheckpoint``), so
the stage's lazy work runs there and not in whichever later stage first
consumes it. Its row count runs under a separate probe group that no span
owns, so the count costs no job in the layer's figures.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

UNTRACED = "untraced"

# layer name → the names ``plans.pipeline`` imports and calls, in call order
PIPELINE_LAYERS = {
    "signatures": ("dedup_signatures",),
    "stats": ("frequency_stats",),
    "people": ("build_persons",),
    "hashing": ("lsh_candidate_edges",),
    "scoring": ("score_pairs",),
    "cluster": ("reduce_people",),
    "outputs": ("build_aliases", "build_identities"),
}


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec)
        self._sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["id"], parent["name"])
            else:
                self._sc.setJobGroup(UNTRACED, "outside spans")
            self.spans.append(rec)

    def count_rows(self, span: dict, df: DataFrame) -> None:
        """Row count of a materialized output, outside the span's jobs."""
        self._sc.setJobGroup(f"{span['id']}.probe", "row count")
        try:
            self.rows[span["id"]] = self.rows.get(span["id"], 0) + df.count()
        finally:
            self._sc.setJobGroup(span["id"], span["name"])

    def layer(self, name: str, fn):
        """``fn`` wrapped in a span whose DataFrame result is materialized
        inside the span."""

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
                    self.count_rows(rec, out)
                return out

        return wrapped

    @contextmanager
    def patch_pipeline(self):
        """Route ``run_pipeline``'s stage calls through layer spans."""
        from identity_matching_spark.plans import pipeline

        saved = {}
        for layer, names in PIPELINE_LAYERS.items():
            for fn_name in names:
                saved[fn_name] = getattr(pipeline, fn_name)
                setattr(pipeline, fn_name, self.layer(layer, saved[fn_name]))
        try:
            yield
        finally:
            for fn_name, fn in saved.items():
                setattr(pipeline, fn_name, fn)

    def write(self, path: str) -> None:
        spans = sorted(self.spans, key=lambda s: s["start"])
        for s in spans:
            s["rows_out"] = self.rows.get(s["id"])
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(spans, fh, indent=1)
