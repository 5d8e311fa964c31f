"""Blacklist predicate tests, ported from the reference's blacklist_test.go:51-132,
and pins that the predicates built from cached literals equal the plain
``Column.isin`` form."""

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.operators.blacklist import Blacklist


def _raw(spark, pred_builder, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["out"] for r in df.select(pred_builder(F.col("s")).alias("out")).collect()]


def _eval(spark, pred_builder, values):
    return [bool(v) for v in _raw(spark, pred_builder, values)]


def test_default_blacklist_contents():
    b = Blacklist.default()
    assert "users.noreply.github.com" in b.domains
    assert "localdomain" in b.top_level_domains
    assert "your name" in b.names
    assert "badges@fossa.io" in b.emails
    assert "a@a.a" in b.popular_emails
    assert "alex" in b.popular_names
    assert "bob" in b.popular_names and "alice" in b.popular_names


def test_is_multiple_email(spark):
    b = Blacklist.testing()
    assert _eval(
        spark,
        b.is_multiple_email,
        ["first@mail.com second@mail.com", "first@mail.com;second@mail.com", "first@mail.com"],
    ) == [True, True, False]


def test_is_blacklisted_email(spark):
    b = Blacklist.testing()
    assert _eval(spark, b.is_blacklisted_email, ["nobody@android.com", "somebody@android.com"]) == [
        True,
        False,
    ]


def test_is_ignored_domain(spark):
    b = Blacklist.testing()
    trues = [
        "1@localhost.localdomain",
        "admin@example.com",
        "max@example.com",
        "localhost.localdomain",
        "example.com",
    ]
    falses = ["somebody@android.com", "android.com"]
    assert _eval(spark, b.is_ignored_domain, trues) == [True] * len(trues)
    assert _eval(spark, b.is_ignored_domain, falses) == [False] * len(falses)


def test_is_ignored_tld(spark):
    b = Blacklist.testing()
    falses = ["not_ignored", "full.domain.not_ignored", "email@full.domain.not_ignored"]
    trues = ["ignored_tld", "full.domain.ignored_tld", "email@full.domain.ignored_tld"]
    assert _eval(spark, b.is_ignored_tld, falses) == [False] * len(falses)
    assert _eval(spark, b.is_ignored_tld, trues) == [True] * len(trues)


def test_is_ip_domain(spark):
    b = Blacklist.testing()
    trues = [
        "0.0.0.0",
        "192.168.0.1",
        "88.35.10.128",
        "2001:db8:85a3::8a2e:370:7334",
        "2001:db8:85a3:0:0:8a2e:370:7334",
        "0:0:0:0:0:0:0:1",
        "blockchaindev34.172.20.180.160",
    ]
    falses = ["notip.com", "notip", "88.131.110"]
    assert _eval(spark, b.is_ip_domain, trues) == [True] * len(trues)
    assert _eval(spark, b.is_ip_domain, falses) == [False] * len(falses)


def test_is_single_label_domain(spark):
    b = Blacklist.testing()
    assert _eval(spark, b.is_single_label_domain, ["singlelabel", "", "not.singlelabel", "."]) == [
        True,
        True,
        False,
        False,
    ]


def test_is_ignored_name(spark):
    b = Blacklist.testing()
    assert _eval(spark, b.is_ignored_name, ["unknown", "known"]) == [True, False]


def test_is_ignored_email(spark):
    b = Blacklist.testing()
    trues = [
        "bad@email",
        "root@0.0.0.0",
        "admin@2001:db8:85a3::8a2e:370:7334",
        "no-domain-mail@",
        "admin1@google.com admin2@google.com",
        "bad-domain@example.com",
        "nobody@android.com",
        "not a mail",
    ]
    falses = [
        "good-email@google.com",
        "dot.in.name@is.ok.com",
        "dash-in-name@is.ok.com",
        "max@google.com",
        "admin-vadim@google.com",
        "also+ok-mail@inbox.org",
    ]
    assert _eval(spark, b.is_ignored_email, trues) == [True] * len(trues)
    assert _eval(spark, b.is_ignored_email, falses) == [False] * len(falses)


# --- literal reuse: the predicates keep the plain ``isin`` semantics ---------

# predicate → (set it reads, the column it compares), as in the reference
_PLAIN = {
    "is_blacklisted_email": ("emails", lambda c: c),
    "is_ignored_domain": ("domains", lambda c: F.element_at(F.split(c, "@", -1), -1)),
    "is_ignored_tld": (
        "top_level_domains",
        lambda c: F.element_at(F.split(F.element_at(F.split(c, "@", -1), -1), r"\.", -1), -1),
    ),
    "is_ignored_name": ("names", F.lower),
    "is_popular_name": ("popular_names", lambda c: c),
    "is_popular_email": ("popular_emails", lambda c: c),
}
_HOSTILE = [None, "", "o'brien", 'say "hi"', "back\\slash", "josé garcía", "ÜNÏCØDÉ", "ünïcødé",
            "a@b.c", "@", "x@@y", "  ", "\t"]


@pytest.mark.parametrize("which", ["testing", "default"])
def test_predicates_equal_plain_isin(spark, which):
    """Every set predicate returns the same values (NULL included) as the
    plain ``Column.isin(*set)`` form, also when built a second time from the
    instance's cached literals."""
    b = getattr(Blacklist, which)()
    for pred, (name, transform) in _PLAIN.items():
        entries = getattr(b, name)
        some = min(entries)
        values = _HOSTILE + [some, some.upper(), some.title(), f"x@{some}", f"x@y.{some}"]

        def plain(c):
            return transform(c).isin(*entries) if entries else F.lit(False)

        want = _raw(spark, plain, values)
        assert True in want, pred  # the set's own entry is a hit
        for _ in range(2):
            assert _raw(spark, getattr(b, pred), values) == want, pred


def test_empty_sets_give_literal_false(spark):
    b = Blacklist(frozenset(), frozenset(), frozenset(), frozenset(), frozenset(), frozenset())
    for pred in _PLAIN:
        # lit(False) is False on NULL input too, where an ``isin`` is NULL
        assert _raw(spark, getattr(b, pred), [None, "", "x@y.z"]) == [False] * 3, pred


def _count_commands(monkeypatch):
    """Wrap ``GatewayClient.send_command``; return the list whose one item
    counts the py4j commands sent since (reset it by assigning 0)."""
    from py4j.java_gateway import GatewayClient

    sent = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    return sent


def test_second_build_reuses_literals(spark, monkeypatch):
    """A predicate built on the same instance over another column sends
    its literals' Columns as they are: fewer than half the py4j commands of
    the first build, which creates one literal per entry."""
    b = Blacklist.default()
    cols = [F.col("s"), F.col("t")]  # created before counting starts
    sent = _count_commands(monkeypatch)
    counts = []
    for col in cols:
        sent[0] = 0
        b.is_popular_name(col)
        counts.append(sent[0])
    assert counts[0] > len(b.popular_names)
    assert counts[1] < counts[0] / 2, counts


def test_repeat_predicate_is_built_once(spark, monkeypatch):
    """The same predicate over the same column, built again, costs the one
    command that reads the column's text, and is the same ``In``."""
    b = Blacklist.default()
    cols = [F.col("name_key"), F.col("name_key")]  # created before counting starts
    first = b.is_popular_name(cols[0])
    sent = _count_commands(monkeypatch)
    again = b.is_popular_name(cols[1])
    assert sent[0] <= 5, sent
    assert str(again) == str(first)
    assert str(first).startswith("Column<'in(name_key, ")
