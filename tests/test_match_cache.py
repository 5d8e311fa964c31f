"""The external-match cache merge relation (reference: external/cache.go
DumpOnDisk :153-259, which never destroys entries): identical entries are
kept once, changed entries are overridden by the update, new entries
appear, untouched entries survive, and duplicate update emails collapse to
one row."""

from identity_matching_spark.sources.io import merge_match_cache

SCHEMA = "email string, user string, matched boolean"


def test_merge_match_cache(spark):
    existing = spark.createDataFrame(
        [("a@x", "ua", True), ("b@x", "ub", False), ("d@x", "ud", True)], SCHEMA
    )
    updates = spark.createDataFrame(
        [
            ("a@x", "ua", True),
            ("b@x", "ub", True),
            ("c@x", "uc", True),
            ("e@x", "ue", False),
            ("e@x", "ue", False),
        ],
        SCHEMA,
    )
    rows = merge_match_cache(existing, updates).collect()
    assert len(rows) == 5, rows  # one row per email
    assert {r["email"]: (r["user"], r["matched"]) for r in rows} == {
        "a@x": ("ua", True),   # identical — kept once
        "b@x": ("ub", True),   # changed — update wins
        "c@x": ("uc", True),   # new
        "d@x": ("ud", True),   # untouched — survives
        "e@x": ("ue", False),  # duplicate update — one row
    }
