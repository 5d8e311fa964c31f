"""The benchmark's workloads, their inputs and their output checks.

Every workload drives the package through its public functions only. Inputs
come from ``sources.synth`` with the run's seed. Generated corpora, the
bootstrapped fold store and the fold's from-scratch reference are cached
under the work directory, because making them is harness work, not program
work. ``run.py`` builds missing caches in a process of their own, so every
timed operation runs in a fresh JVM. Each cache key holds a hash of the
sources that built it, so a change to the program rebuilds what it made.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.eval import pairwise_prf
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.operators.people import build_persons, dedup_signatures, normalize_signatures
from identity_matching_spark.operators.signatures import extract_signatures
from identity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from identity_matching_spark.reporter import Reporter
from identity_matching_spark.sources.synth import synth_labels, synth_transcripts
from identity_matching_spark.streaming.incremental import IncrementalState, fold_batch

# fixed so the recent/total frequency split is the same on every run
REFERENCE_TIME = dt.datetime(2026, 1, 1)
MAX_IDENTITIES = PipelineConfig().max_identities
# a corpus is synthesized with seed ``--seed mod CORPUS_VARIANTS`` and
# cached: generating one in every run would cost more than the benchmark's
# time budget allows
CORPUS_VARIANTS = 2
PACKAGE = os.path.dirname(os.path.abspath(__import__("identity_matching_spark").__file__))
# per-fold counters of a traced fold: fold_batch's own (collect_metrics=True)
# and the store directory's
FOLD_COUNTERS = ("buckets_read", "scope_rows", "merge_rows", "hops",
                 "files_written", "bytes_written", "state_mb")


def source_hash(path: str) -> str:
    """Short hash of a source file, or of every file under a directory."""
    h = hashlib.sha256()
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        if "__pycache__" not in d
        for f in names
        if not f.endswith(".pyc")
    )
    for f in files:
        h.update(os.path.relpath(f, path).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


@dataclass(frozen=True)
class Corpus:
    n_convs: int
    n_persons: int
    typo_rate: float

    def key(self, seed: int) -> str:
        synth = source_hash(os.path.join(PACKAGE, "sources", "synth.py"))
        return f"c{self.n_convs}-p{self.n_persons}-t{self.typo_rate}-s{seed}-{synth}"

    def path(self, work: str, seed: int) -> str:
        return os.path.join(work, "corpora", self.key(seed))


def _cached_dir(path: str, build) -> None:
    """Make ``path`` exist: if it does not, ``build(tmp)`` then rename it
    into place."""
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)


def build_corpus(spark, work: str, corpus: Corpus, seed: int) -> None:
    _cached_dir(
        corpus.path(work, seed),
        lambda tmp: synth_transcripts(
            spark, corpus.n_convs, corpus.n_persons, seed=seed, typo_rate=corpus.typo_rate
        ).write.parquet(tmp),
    )


def _open_cached(spark, path: str) -> DataFrame:
    if not os.path.isdir(path):
        raise RuntimeError(f"cache {path} is missing; run.py builds it before a run")
    return spark.read.parquet(path)


def _conv_assignments(transcripts: DataFrame, members: DataFrame) -> DataFrame:
    """conv_id → predicted component, through the cleaned signature each
    conversation carries (several raw spellings share one cleaned triplet,
    and the matching person rows share one component, so distinct is
    exact)."""
    sigs = normalize_signatures(extract_signatures(transcripts)).select(
        "conv_id", "repo", F.col("name_c").alias("name"), F.col("email_c").alias("email")
    )
    return (
        sigs.join(members.select("repo", "name", "email", "component"), ["repo", "name", "email"])
        .select("conv_id", "component")
        .distinct()
    )


def pairwise_f1(spark, transcripts, members, corpus: Corpus, seed: int) -> dict:
    """Pairwise precision/recall/F1 of the predicted components against
    ``synth_labels`` over the conversations of ``transcripts``. The caller
    fails its check if ``assigned`` (conversations with a component) falls
    short of them."""
    labels = synth_labels(spark, corpus.n_convs, corpus.n_persons, seed=seed)
    assigned = _conv_assignments(transcripts, members).join(labels, "conv_id")
    assigned = assigned.localCheckpoint(eager=True)
    prf = pairwise_prf(assigned)
    prf["assigned"] = assigned.count()
    return prf


def _cid(conv_id):
    return F.substring_index(conv_id, "-", -1).cast("long")


class Resolve:
    """Batch resolution: one operation is one ``run_pipeline`` call with
    membership, aliases and identities all materialized. Exact mode must
    score pairwise F1 = 1.0; similarity mode reports its F1 unchecked.
    """

    root_span = "pipeline"

    def __init__(self, name: str, corpus: Corpus, similarity: bool):
        self.name = name
        self.corpus = corpus
        self.similarity = similarity

    def caches_missing(self, work: str) -> bool:
        return any(not os.path.isdir(self.corpus.path(work, v)) for v in range(CORPUS_VARIANTS))

    def build_caches(self, spark, work: str) -> None:
        for v in range(CORPUS_VARIANTS):
            build_corpus(spark, work, self.corpus, v)

    def prepare(self, spark, work: str, seed: int) -> None:
        """Open the inputs."""
        self.spark, self.seed = spark, seed % CORPUS_VARIANTS
        self.transcripts = _open_cached(spark, self.corpus.path(work, self.seed))
        self.config = PipelineConfig(reference_time=REFERENCE_TIME, similarity_mode=self.similarity)
        self.last = None

    def op(self, index: int, tracer=None) -> None:
        reporter = Reporter(self.spark) if tracer is not None else None
        out = run_pipeline(self.spark, self.transcripts, self.config, reporter=reporter)
        for table in ("membership", "aliases", "identities"):
            out[table].count()
        self.last = (out, reporter)

    def layer_extras(self) -> dict:
        # the Reporter counts the email pass's star edges and the name
        # pass's edges apart ("graph edges" is the name pass alone)
        _, reporter = self.last
        counts = reporter.report()
        edges = counts.get("graph edges by email (J1)", 0) + counts.get("graph edges", 0)
        return {"cluster.edges": float(edges)}

    def check(self) -> tuple[list[str], dict]:
        """Failed checks and quality figures of the last operation."""
        out, _ = self.last
        failures = []
        membership = out["membership"]
        if membership.count() != membership.select("id").distinct().count():
            failures.append("membership holds a person id twice")
        prf = pairwise_f1(self.spark, self.transcripts, out["members"], self.corpus, self.seed)
        if prf["assigned"] != self.corpus.n_convs:
            failures.append(f"{self.corpus.n_convs - prf['assigned']} conversations lost a component")
        if not self.similarity and prf["f1"] != 1.0:
            failures.append(f"pairwise F1 {prf['f1']} != 1.0 in exact mode")
        return failures, prf


class Fold:
    """The write path: an ``IncrementalState`` (default 64 buckets)
    bootstrapped with ``fold_batch`` from the first ``boot_share`` of the
    corpus; one operation builds the persons of one held-out slice and
    folds them with ``fold_batch``.

    The corpus variant is ``--seed mod CORPUS_VARIANTS``. Per variant the
    bootstrapped store is made once and cached with the bootstrap persons;
    every run folds into a byte-identical copy of it, the held-out slices
    in order from the first. The from-scratch reference the check compares
    against is cached per variant and number of folded slices, with its
    pairwise F1 against ``synth_labels``.
    """

    root_span = "streaming"

    def __init__(self, name: str, corpus: Corpus, boot_share: float, slice_convs: int):
        self.name = name
        self.corpus = corpus
        self.n_boot = int(corpus.n_convs * boot_share)
        self.slice_convs = slice_convs
        self.n_slices = (corpus.n_convs - self.n_boot) // slice_convs
        self.blacklist = Blacklist.default()

    def _persons(self, transcripts, where) -> DataFrame:
        sigs = extract_signatures(transcripts.where(where))
        return build_persons(
            dedup_signatures(
                sigs.where((F.col("name") != "") & (F.col("email") != "")).select(
                    "repo", "name", "email", "hash", "ts"
                )
            ),
            self.blacklist,
        )

    def _boot_dir(self, work: str, variant: int) -> str:
        # the store and the reference are the package's own output
        return os.path.join(
            work, "states", f"{self.corpus.key(variant)}-b{self.n_boot}-{source_hash(PACKAGE)}"
        )

    def _upto(self, n_folded: int):
        """The bootstrap conversations and the first ``n_folded`` slices."""
        return _cid(F.col("conv_id")) < self.n_boot + n_folded * self.slice_convs

    def _slice(self, k: int):
        lo = self.n_boot + k * self.slice_convs
        cid = _cid(F.col("conv_id"))
        return (cid >= lo) & (cid < lo + self.slice_convs)

    def caches_missing(self, work: str) -> bool:
        return any(
            not os.path.isdir(os.path.join(self._boot_dir(work, v), "ref1"))
            for v in range(CORPUS_VARIANTS)
        )

    def build_caches(self, spark, work: str) -> None:
        """Per variant: the corpus, the bootstrapped store with its
        persons, and the reference after one folded slice."""
        for v in range(CORPUS_VARIANTS):
            build_corpus(spark, work, self.corpus, v)
            transcripts = _open_cached(spark, self.corpus.path(work, v))

            def bootstrap(tmp):
                persons = os.path.join(tmp, "persons")
                self._persons(transcripts, self._upto(0)).write.parquet(persons)
                state = IncrementalState(spark, os.path.join(tmp, "store"))
                fold_batch(state, spark.read.parquet(persons), self.blacklist,
                           max_identities=MAX_IDENTITIES, batch_id=0)

            boot = self._boot_dir(work, v)
            _cached_dir(boot, bootstrap)
            self._reference(spark, transcripts, boot, v, 1)

    def _reference(self, spark, transcripts, boot: str, variant: int, n_folded: int) -> str:
        """A from-scratch ``reduce_people`` over the bootstrap persons plus
        the first ``n_folded`` slices, cap included, and its pairwise F1."""

        def build(tmp):
            persons = spark.read.parquet(os.path.join(boot, "persons"))
            for k in range(n_folded):
                persons = persons.unionByName(self._persons(transcripts, self._slice(k)))
            persons = persons.dropDuplicates(["id"]).localCheckpoint(eager=True)
            want = reduce_people(persons, self.blacklist, max_identities=MAX_IDENTITIES)
            want.select("id", "component").write.parquet(os.path.join(tmp, "membership"))
            members = persons.join(spark.read.parquet(os.path.join(tmp, "membership")), "id")
            prf = pairwise_f1(spark, transcripts.where(self._upto(n_folded)), members,
                              self.corpus, variant)
            prf["expected"] = self.n_boot + n_folded * self.slice_convs
            with open(os.path.join(tmp, "quality.json"), "w", encoding="utf-8") as fh:
                json.dump(prf, fh)

        path = os.path.join(boot, f"ref{n_folded}")
        _cached_dir(path, build)
        return path

    def prepare(self, spark, work: str, seed: int) -> None:
        """Open the corpus and a fresh copy of the bootstrapped store."""
        self.spark = spark
        self.seed = seed % CORPUS_VARIANTS
        self.transcripts = _open_cached(spark, self.corpus.path(work, self.seed))
        self.boot = self._boot_dir(work, self.seed)
        self.root = os.path.join(work, "runs", "fold-state")
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(os.path.join(self.boot, "store"), self.root)
        self.state = IncrementalState(spark, self.root)
        self.folded = 0
        self.fold_metrics: list[dict] = []

    def op(self, index: int, tracer=None) -> None:
        k = self.folded
        if k >= self.n_slices:
            raise RuntimeError("the run has folded every held-out slice")
        batch_id = k + 1
        if tracer is None:
            fold_batch(self.state, self._persons(self.transcripts, self._slice(k)), self.blacklist,
                       max_identities=MAX_IDENTITIES, batch_id=batch_id)
        else:
            with tracer.span("people") as rec:
                delta = self._persons(self.transcripts, self._slice(k)).localCheckpoint(eager=True)
                tracer.count_rows(rec, delta)
            before = _files(self.root)
            with tracer.span("incremental"):
                metrics = fold_batch(self.state, delta, self.blacklist,
                                     max_identities=MAX_IDENTITIES, batch_id=batch_id,
                                     collect_metrics=True)
            after = _files(self.root)
            new = set(after.items()) - set(before.items())
            metrics["files_written"] = len(new)
            metrics["bytes_written"] = sum(size for _, size in new)
            metrics["state_mb"] = sum(after.values()) / 1e6
            self.fold_metrics.append(metrics)
        self.folded += 1

    def layer_extras(self) -> dict:
        n = max(len(self.fold_metrics), 1)
        return {
            f"incremental.{k}": sum(float(m.get(k) or 0) for m in self.fold_metrics) / n
            for k in FOLD_COUNTERS
        }

    def check(self) -> tuple[list[str], dict]:
        """The maintained membership must equal the from-scratch reference,
        and the reference (so the folded membership too) must score
        pairwise F1 = 1.0 over every conversation folded so far."""
        ref = self._reference(self.spark, self.transcripts, self.boot, self.seed, self.folded)
        want_rows = {(r["id"], r["component"])
                     for r in self.spark.read.parquet(os.path.join(ref, "membership")).collect()}
        got_rows = {(r["id"], r["component"]) for r in self.state.read("membership").collect()}
        with open(os.path.join(ref, "quality.json"), encoding="utf-8") as fh:
            prf = json.load(fh)
        failures = []
        if got_rows != want_rows:
            failures.append(
                f"folded membership differs from scratch: {len(got_rows - want_rows)} rows "
                f"extra, {len(want_rows - got_rows)} missing"
            )
        if prf["assigned"] != prf["expected"]:
            failures.append(f"{prf['expected'] - prf['assigned']} conversations lost a component")
        if prf["f1"] != 1.0:
            failures.append(f"pairwise F1 {prf['f1']} != 1.0 in exact mode")
        return failures, {**prf, "membership_rows": len(got_rows)}


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


WORKLOADS = {
    w.name: w
    for w in (
        Resolve("resolve_exact", Corpus(10_000, 500, 0.0), similarity=False),
        Resolve("resolve_sim", Corpus(6_000, 5_000, 0.05), similarity=True),
        Fold("fold_micro", Corpus(10_000, 500, 0.0), boot_share=0.9, slice_convs=100),
    )
}
