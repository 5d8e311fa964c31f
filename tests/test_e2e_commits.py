"""End-to-end golden: the reference's docker e2e fixture
(/root/reference/tests/test_commits.sql → tests/test_aliases.txt,
tests/test_identities.txt) run through the full Spark pipeline with the
production blacklist.

Expected (ids differ — the reference numbers persons by input order, we
hash the identity triplet — cluster contents are the contract):
  bob:   email bob@google.com, names {bob,repo1},{bob,repo2} (popular → repo-qualified)
  alice: email alice@google.com, name {alice,repo1}
  dropped: bad-email@domen (single-label domain), admin (ignored name)
"""

import datetime as dt

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import (
    build_aliases,
    build_identities,
    reduce_people,
)
from identity_matching_spark.operators.people import (
    build_persons,
    dedup_signatures,
    normalize_signatures,
)
from identity_matching_spark.operators.stats import frequency_stats

ROWS = [
    ("repo1", "bob", "bob@google.com", "aaa", dt.datetime(2019, 1, 1, 0, 0)),
    ("repo2", "bob", "bob@google.com", "bbb", dt.datetime(2019, 2, 1, 2, 0)),
    ("repo1", "alice", "alice@google.com", "ccc", dt.datetime(2019, 4, 20, 10, 6, 2)),
    ("repo1", "bob", "bob@google.com", "ddd", dt.datetime(2019, 4, 1, 17, 0)),
    ("repo1", "bob", "bad-email@domen", "eee", dt.datetime(2019, 3, 1, 20, 5)),
    ("repo1", "admin", "someone@google.com", "fff", dt.datetime(2019, 2, 20, 13, 39)),
]
SCHEMA = "repo string, name string, email string, hash string, ts timestamp"


def test_commits_e2e_golden(spark):
    raw = spark.createDataFrame(ROWS, SCHEMA)
    blacklist = Blacklist.default()

    signatures = dedup_signatures(raw)
    assert signatures.count() == 5  # GROUP BY repo,name,email

    persons = build_persons(signatures, blacklist)
    assert persons.count() == 3  # admin + bad-email dropped

    result = reduce_people(persons, blacklist, max_identities=20)
    members = persons.join(result.select("id", "component", "external_id"), "id")

    aliases = build_aliases(members)
    got = {
        (r["email"], r["name"], r["repo"])
        for r in aliases.collect()
    }
    assert got == {
        ("bob@google.com", "", ""),
        ("", "bob", "repo1"),
        ("", "bob", "repo2"),
        ("alice@google.com", "", ""),
        ("", "alice", "repo1"),
    }
    assert aliases.count() == 5

    # frequencies over ALL signatures (pre-filter), recent window empty
    cleaned = normalize_signatures(raw)
    cutoff = dt.datetime(2020, 1, 1)
    name_freqs = frequency_stats(cleaned, "name_c", cutoff)
    email_freqs = frequency_stats(cleaned, "email_c", cutoff)
    identities = build_identities(members, name_freqs, email_freqs, min_recent_count=5)
    got_ids = {
        (r["primary_name"], r["primary_email"], r["external_id_provider"], r["external_id"])
        for r in identities.collect()
    }
    assert got_ids == {
        ("bob", "bob@google.com", "", ""),
        ("alice", "alice@google.com", "", ""),
    }


def test_frequency_stats(spark):
    raw = spark.createDataFrame(ROWS, SCHEMA)
    cleaned = normalize_signatures(raw)
    cutoff = dt.datetime(2019, 3, 1)
    freqs = {
        r["value"]: (r["recent"], r["total"])
        for r in frequency_stats(cleaned, "name_c", cutoff).collect()
    }
    assert freqs == {"bob": (2, 4), "alice": (1, 1), "admin": (0, 1)}
