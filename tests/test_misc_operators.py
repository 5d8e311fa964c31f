"""Small-operator parity tests: reporter counters, the salted distinct count,
and the property test pinning the JVM diacritics strip to the reference
Python implementation."""

import random

from pyspark.sql import functions as F

from identity_matching_spark.functions.normalize import strip_accents_col, strip_accents_py
from identity_matching_spark.reporter import Reporter
from reference_impl import strip_accents_udf


def test_strip_accents_jvm_matches_python_reference(spark):
    """Property test: the generated translate-map + \\p{Mn} JVM path must be
    byte-identical to the reference unicodedata implementation."""
    pools = [
        "Máximo Cuadros", "Łukasz Żółć", "noël über", "ĝis ŝi", "Ñandú",
        "Видимир", "Βίκτωρ", "ế ệ ỗ ừ", "éclair",  # decomposed é
        "ascii only", "ǅungla Ǣther", "ḷ ḹ ṝ", "ﬁ ligature", "한국어 조합",
    ]
    rng = random.Random(1)
    rand = [
        "".join(chr(rng.choice([rng.randrange(0x20, 0x250), rng.randrange(0x1E00, 0x1F00)]))
                for _ in range(12))
        for _ in range(60)
    ]
    values = pools + rand
    df = spark.createDataFrame([(v,) for v in values], "s string")
    out = df.select(
        strip_accents_col(F.col("s")).alias("jvm"), strip_accents_udf(F.col("s")).alias("py")
    ).collect()
    for v, r in zip(values, out):
        assert r["jvm"] == r["py"] == strip_accents_py(v), repr(v)


def test_reporter_counters(spark):
    rep = Reporter(spark)
    rep.commit("people after reduce", 42)
    report = rep.report()
    assert report["people after reduce"] == 42


def test_salted_count_distinct_exact(spark):
    """The salted two-level count is exact, and the popular keys it yields
    match a Python ground truth on a hot key (5k pairs, ~500 values) next to
    cold keys just under and at the threshold."""
    from identity_matching_spark.operators.stats import (
        cooccurrence_popular_keys,
        salted_count_distinct,
    )

    rng = random.Random(7)
    rows = [("hot", f"v{rng.randrange(500)}") for _ in range(5000)]
    rows += [(f"k{i}", f"v{j}") for i in range(300) for j in range(i % 10 + 1)]
    df = spark.createDataFrame(rows, "key string, value string")
    got = {r["key"]: r["n_values"] for r in salted_count_distinct(df, "key", "value").collect()}
    truth = {}
    for k, v in rows:
        truth.setdefault(k, set()).add(v)
    assert got == {k: len(vs) for k, vs in truth.items()}

    popular = {r["key"] for r in cooccurrence_popular_keys(df, "key", "value", 9).collect()}
    assert popular == {k for k, vs in truth.items() if len(vs) >= 9}
    assert "hot" in popular and "k8" in popular and "k7" not in popular
