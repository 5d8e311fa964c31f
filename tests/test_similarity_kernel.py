"""Property tests for the vectorized Jaro-Winkler kernel: the numpy batch
implementation must agree with the scalar reference spec on every input, and
with DuckDB's independent C++ implementation on ASCII input (the pinned
oracle semantics: integer half-transpositions, 0.7 boost threshold)."""

import random

import duckdb
import pandas as pd
import pytest

from identity_matching_spark.functions.similarity import jaro_winkler_batch
from identity_matching_spark.operators.scoring import score_pairs
from reference_impl import jaro_winkler

CURATED = [
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("jellyfish", "smellyfish"),
    ("dwayne", "duane"),
    ("abc", "abc"),
    ("", "abc"),
    ("", ""),
    ("a", "b"),
    ("ab", "ba"),
    ("abXXXX", "abYYYY"),  # prefix + jaro below the 0.7 boost threshold
    ("aaaaaaab", "baaaaaaa"),
]


def test_vectorized_matches_scalar_curated():
    a = pd.Series([p[0] for p in CURATED])
    b = pd.Series([p[1] for p in CURATED])
    got = jaro_winkler_batch(a, b).tolist()
    want = [jaro_winkler(x, y) for x, y in CURATED]
    assert got == pytest.approx(want, abs=1e-12)


def test_vectorized_matches_scalar_random_unicode():
    rng = random.Random(11)
    alph = "abcdef 123éüß"
    pairs = [
        (
            "".join(rng.choice(alph) for _ in range(rng.randint(0, 24))),
            "".join(rng.choice(alph) for _ in range(rng.randint(0, 24))),
        )
        for _ in range(4000)
    ]
    pairs += [(None, "x"), ("x", None), (None, None)]
    got = jaro_winkler_batch(
        pd.Series([p[0] for p in pairs]), pd.Series([p[1] for p in pairs])
    ).tolist()
    want = [
        0.0 if x is None or y is None else jaro_winkler(x, y) for x, y in pairs
    ]
    assert got == pytest.approx(want, abs=1e-12)


def test_matches_duckdb_on_ascii():
    """DuckDB's jaro_winkler_similarity is the independent oracle (it works
    on utf-8 bytes, so the equivalence claim is ASCII-only)."""
    rng = random.Random(7)
    alph = "abcdef 123"
    con = duckdb.connect()
    for _ in range(1500):
        x = "".join(rng.choice(alph) for _ in range(rng.randint(1, 16)))
        y = "".join(rng.choice(alph) for _ in range(rng.randint(1, 16)))
        d = con.execute("SELECT jaro_winkler_similarity(?, ?)", [x, y]).fetchone()[0]
        assert jaro_winkler(x, y) == pytest.approx(d, abs=1e-9), (x, y)


def test_empty_and_identity_semantics():
    assert jaro_winkler("", "") == 0.0  # pinned: DuckDB/classic C behavior
    assert jaro_winkler("", "x") == 0.0
    assert jaro_winkler("same", "same") == 1.0


# --- distinct-pair scoring ---------------------------------------------------


def _persons(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


def _cands(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


class TestDistinctPairScoring:
    """score_pairs must be edge-for-edge identical to the naive per-edge
    scorer — the distinct-pair dedupe and equal-name short-circuit are pure
    plan optimizations."""

    def test_matches_scalar_kernel_per_edge(self, spark):
        rows = [
            (1, "alice smith"),
            (2, "alice smith"),   # duplicate name -> shares a scored pair
            (3, "alcie smith"),   # typo
            (4, "bob jones"),
            (5, ""),              # empty name
            (6, None),            # null name
        ]
        persons = _persons(spark, rows)
        pairs = [
            (1, 2),  # equal non-empty -> trivial 1.0
            (1, 3),  # unequal -> UDF
            (2, 3),  # same name pair as (1,3) -> must reuse, same value
            (3, 4),
            (5, 5),  # empty==empty -> pinned 0.0 (NOT trivial)
            (1, 6),  # null side -> jw 0.0, lev null
            (6, 6),  # null==null
        ]
        out = {
            (r.src, r.dst): (r.jw, r.lev)
            for r in score_pairs(persons, _cands(spark, pairs), jw_threshold=0.0).collect()
        }
        names = dict(rows)
        for s, d in pairs:
            a, b = names[s], names[d]
            exp_jw = jaro_winkler("" if a is None else a, "" if b is None else b)
            if (s, d) == (1, 6) or (s, d) == (6, 6):
                # lev on null input is null -> cond(jw>=0.0) still keeps row
                assert out[(s, d)][0] == pytest.approx(exp_jw)
                assert out[(s, d)][1] is None
                continue
            assert out[(s, d)][0] == pytest.approx(exp_jw), (s, d)
        assert out[(1, 2)] == (1.0, 1.0)
        assert out[(5, 5)][0] == 0.0 and out[(5, 5)][1] == 1.0
        assert out[(1, 3)] == out[(2, 3)]

    def test_threshold_filter_unchanged(self, spark):
        persons = _persons(spark, [(1, "alice"), (2, "alice"), (3, "zzzz")])
        cands = _cands(spark, [(1, 2), (1, 3)])
        kept = score_pairs(persons, cands, jw_threshold=0.9).select("src", "dst").collect()
        assert [(r.src, r.dst) for r in kept] == [(1, 2)]

    def test_udf_sees_only_distinct_unequal_pairs(self, spark):
        """The physical plan's ArrowEvalPython must sit above the dedup, so
        equal-name edges never reach Python."""
        persons = _persons(spark, [(1, "alice"), (2, "alice"), (3, "alcie")])
        cands = _cands(spark, [(1, 2), (1, 3), (2, 3)])
        plan = score_pairs(persons, cands, jw_threshold=0.0)._jdf.queryExecution().optimizedPlan().toString()
        # the pandas UDF is evaluated on the deduplicated pair relation:
        # optimizer puts ArrowEvalPython after an Aggregate/Deduplicate node
        assert "ArrowEvalPython" in plan or "arrowevalpython" in plan.lower()
        assert "Deduplicate" in plan or "Aggregate" in plan
