"""Normalization unit tests.

Cases ported from the reference's test suite: people_test.go:253-280
(TestCleanName, TestNormalizeSpaces) and the diacritics behavior of
strings.go:41-47.
"""

from pyspark.sql import functions as F

from identity_matching_spark.functions.normalize import (
    clean_email,
    clean_name,
    name_key,
    normalize_spaces,
    strip_accents_py,
)


def _apply(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r[0] for r in df.select(fn(F.col("s")).alias("out")).collect()]


def test_clean_name(spark):
    cases = {
        "name surname": "name surname",
        " name surname ": "name surname",
        "name  surname": "name surname",
        "name\tsurname": "name surname",
        "name　surname": "name surname",  # ideographic space
        "  Name   SURNAME  ": "name surname",
        "Máximo Cuadros": "maximo cuadros",
        # Ł has no combining mark, so NFD-strip keeps it (same as the Go ref)
        "Łukasz Żółć": "łukasz zołc",
    }
    outs = _apply(spark, clean_name, list(cases))
    for (inp, want), got in zip(cases.items(), outs):
        assert got == want, f"{inp!r}: {got!r} != {want!r}"


def test_strip_accents_matches_reference_python():
    # Ł is a standalone letter (no Mn mark) — the reference keeps it as-is.
    assert strip_accents_py("Máximo") == "Maximo"
    assert strip_accents_py("Żółć") == "Zołc"
    assert strip_accents_py("Łukasz") == "Łukasz"
    assert strip_accents_py("noël über") == "noel uber"


def test_clean_email(spark):
    assert _apply(spark, clean_email, ["  Bob@Google.COM "]) == ["bob@google.com"]


def test_normalize_spaces(spark):
    cases = {
        "a  b": "a b",
        " a b ": "a b",
        "a　b\tc": "a b c",
        "   ": "",
    }
    outs = _apply(spark, normalize_spaces, list(cases))
    assert outs == list(cases.values())


def test_name_key_repo_qualification(spark):
    df = spark.createDataFrame(
        [("bob", "repo1", True), ("carol", "repo1", False)],
        "name string, repo string, popular boolean",
    )
    out = df.select(
        name_key(F.col("name"), F.col("repo"), F.col("popular")).alias("k")
    ).collect()
    assert [r["k"] for r in out] == ["{bob, repo1}", "carol"]
