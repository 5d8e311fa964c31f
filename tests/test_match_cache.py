"""The external-match cache file contract (reference: external/cache.go
DumpOnDisk :153-259, which never destroys entries): last-row-wins reads,
read-merge-rewrite, an explicit ``seq`` column on dump with seq-based
last-wins across part files, loud rejection of seq-less multi-file caches,
and a crash-safe rename-aside rewrite that both the next read and the next
write recover."""

import os
import shutil

import pytest

from identity_matching_spark.sources.io import (
    external_ids_from_cache,
    read_match_cache,
    write_match_cache,
)


def _write_csv(path, rows, header="email,user,match"):
    with open(path, "w") as fh:
        fh.write(header + "\n")
        for r in rows:
            fh.write(",".join(str(c) for c in r) + "\n")


def test_seqless_multifile_cache_rejected(spark, tmp_path):
    """A foreign cache split across files has no recoverable row order —
    Spark packs splits by size, not file order — so the read refuses it
    instead of resolving duplicates by listing order (ADVICE r3 medium)."""
    d = tmp_path / "cache.csv"
    d.mkdir()
    _write_csv(str(d / "part-0.csv"), [("a@x", "u1", "1")])
    _write_csv(str(d / "part-1.csv"), [("a@x", "u2", "0")])
    with pytest.raises(ValueError, match="no .*seq"):
        read_match_cache(spark, str(d))


def test_seq_cache_last_wins_across_parts(spark, tmp_path):
    """With the explicit seq column, last-wins is exact no matter how the
    rows are spread across part files or how Spark splits them."""
    d = tmp_path / "cache.csv"
    d.mkdir()
    _write_csv(
        str(d / "part-0.csv"),
        [("a@x", "u-old", "0", 1), ("b@x", "ub", "1", 4)],
        header="email,user,match,seq",
    )
    _write_csv(
        str(d / "part-1.csv"),
        [("a@x", "u-new", "1", 7)],
        header="email,user,match,seq",
    )
    got = {r["email"]: (r["user"], r["matched"]) for r in read_match_cache(spark, str(d)).collect()}
    assert got == {"a@x": ("u-new", True), "b@x": ("ub", True)}


def test_written_cache_carries_seq_and_rereads(spark, tmp_path):
    p = str(tmp_path / "cache.csv")
    updates = spark.createDataFrame(
        [("a@x", "ua", True), ("b@x", "ub", False)],
        "email string, user string, matched boolean",
    )
    write_match_cache(spark, p, updates)
    files = [f for f in os.listdir(p) if not f.startswith((".", "_"))]
    assert files, "cache dir has data files"
    with open(os.path.join(p, sorted(files)[0])) as fh:
        assert fh.readline().strip() == "email,user,match,seq"
    # merge a correction on top: seq-based last-wins must pick the update
    write_match_cache(
        spark,
        p,
        spark.createDataFrame([("a@x", "ua2", True)], "email string, user string, matched boolean"),
    )
    got = {r["email"]: (r["user"], r["matched"]) for r in read_match_cache(spark, p).collect()}
    assert got == {"a@x": ("ua2", True), "b@x": ("ub", False)}


def test_crash_between_rename_aside_and_swap_recovers(spark, tmp_path):
    """Simulated crash in the swap window: the previous cache sits at
    ``__old`` and nothing at ``path`` — the next read restores it."""
    p = str(tmp_path / "cache.csv")
    write_match_cache(
        spark,
        p,
        spark.createDataFrame([("a@x", "ua", True)], "email string, user string, matched boolean"),
    )
    os.rename(p, p + "__old")  # crash happened right after the rename-aside
    got = {r["email"]: r["user"] for r in read_match_cache(spark, p).collect()}
    assert got == {"a@x": "ua"}
    assert os.path.exists(p) and not os.path.exists(p + "__old")


def test_write_clears_stale_old_aside(spark, tmp_path):
    """A leftover ``__old`` from a crash mid-delete must not block or
    corrupt the next rewrite."""
    p = str(tmp_path / "cache.csv")
    df = spark.createDataFrame([("a@x", "ua", True)], "email string, user string, matched boolean")
    write_match_cache(spark, p, df)
    shutil.copytree(p, p + "__old")  # stale aside
    write_match_cache(
        spark,
        p,
        spark.createDataFrame([("b@x", "ub", True)], "email string, user string, matched boolean"),
    )
    got = {r["email"] for r in read_match_cache(spark, p).collect()}
    assert got == {"a@x", "b@x"}
    assert not os.path.exists(p + "__old")


def test_match_cache_last_row_wins_on_read(spark, tmp_path):
    """The reference loader maps email → last CSV occurrence
    (cache.go:178-198): appended corrections override earlier rows."""
    p = str(tmp_path / "cache.csv")
    _write_csv(p, [("a@x", "ua", "1"), ("b@x", "ub", "0"), ("a@x", "ua2", "1")])
    got = {r["email"]: (r["user"], r["matched"]) for r in read_match_cache(spark, p).collect()}
    assert got == {"a@x": ("ua2", True), "b@x": ("ub", False)}


def test_match_cache_read_merge_rewrite(spark, tmp_path):
    """DumpOnDisk semantics: identical entries are kept once, changed
    entries are overridden by the update, untouched entries survive, new
    entries appear (cache.go:204-259)."""
    p = str(tmp_path / "cache.csv")
    _write_csv(p, [("a@x", "ua", "1"), ("b@x", "ub", "0"), ("d@x", "ud", "1")])
    updates = spark.createDataFrame(
        [("a@x", "ua", True), ("b@x", "ub", True), ("c@x", "uc", True)],
        "email string, user string, matched boolean",
    )
    write_match_cache(spark, p, updates)
    back = {r["email"]: (r["user"], r["matched"]) for r in read_match_cache(spark, p).collect()}
    assert back == {
        "a@x": ("ua", True),   # identical — kept
        "b@x": ("ub", True),   # changed — update wins
        "c@x": ("uc", True),   # new
        "d@x": ("ud", True),   # untouched — survives
    }
    # resumed-run contract: positive entries feed J4's static lookup
    ext = external_ids_from_cache(read_match_cache(spark, p))
    assert {r["email"] for r in ext.collect()} == {"a@x", "b@x", "c@x", "d@x"}


class TestMatchCacheWriteRecovery:
    def test_write_after_interrupted_swap_keeps_prior_entries(self, spark, tmp_path):
        """A crash that left only <path>__old must be recovered by the NEXT
        WRITE too (ADVICE r4): without recovery the merge starts empty and
        the aside cleanup destroys the sole surviving copy."""
        import os

        from identity_matching_spark.sources.io import (
            read_match_cache,
            write_match_cache,
        )

        path = str(tmp_path / "cache.csv")
        first = spark.createDataFrame(
            [("a@x.com", "ua", True), ("b@x.com", "ub", False)],
            "email string, user string, matched boolean",
        )
        write_match_cache(spark, path, first)
        # simulate the crash window: cache renamed aside, new cache missing
        os.rename(path, path + "__old")
        second = spark.createDataFrame(
            [("c@x.com", "uc", True)], "email string, user string, matched boolean"
        )
        write_match_cache(spark, path, second)
        got = {
            r["email"]: (r["user"], r["matched"])
            for r in read_match_cache(spark, path).collect()
        }
        assert got == {
            "a@x.com": ("ua", True),
            "b@x.com": ("ub", False),
            "c@x.com": ("uc", True),
        }
