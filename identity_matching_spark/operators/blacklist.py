"""Blacklist precision filters (SURVEY §2.3 F1–F10).

Semantics match /root/reference/blacklist.go:73-132 and the research twin
/root/reference/research/idmatching/filtering.py:22-88:

* ``is_ignored_email``: no ``@`` ∨ blacklisted ∨ multiple ``@`` ∨ ignored
  domain ∨ ignored TLD ∨ single-label domain ∨ IP-literal domain.
* ``is_ignored_name``: lowercased name ∈ Names set.
* ``is_popular_email`` / ``is_popular_name``: membership flags — they never
  drop rows; popular emails are excluded from email blocking
  (/root/reference/matching.go:128-131) and popular names are repo-qualified
  (/root/reference/people.go:140-145).

The six sets are small (≤ ~1000 entries), so membership is expressed with
``Column.isin`` literals: Catalyst compiles these to an in-set predicate that
stays inside whole-stage codegen and can be pushed into the scan — cheaper
than a broadcast join for lists this size. Computed (co-occurrence) popular
keys of arbitrary size instead flow through broadcast joins in
``operators/stats.py``.

Each set's literal Columns are built once per ``Blacklist`` instance, on
first use, in sorted order: a literal costs several py4j round trips to
create, and a pipeline or fold builds the same predicate several times (the
popular-name one six times per fold), so rebuilding them dominated plan
construction. The sorted ``In`` list no longer follows the Python hash seed.
``Column.isin`` still sends one py4j command per literal to build the JVM
list, so the built predicate is kept too, keyed by the set and the column's
text (``str(col)``, one command): a repeat build of the same predicate costs
that one command. The text of a DataFrame-bound column (``df["x"]``) equals
that of ``F.col("x")``, so the package passes name-based columns only; a
bound one cached first would fail analysis on another frame, loudly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column
from pyspark.sql import functions as F

from identity_matching_spark.functions.normalize import strip_accents_py

_DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "blacklists")

# IPv4/IPv6 literal detection, regexes taken verbatim from the reference
# (/root/reference/blacklist.go:123-124); Java and Go RE2 syntax agree here.
IP4_REGEX = r"\d+\.\d+\.\d+\.\d+$"
IP6_REGEX = (
    r"(([0-9a-fA-F]{1,4}:){7,7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,7}:|([0-9a-fA-F]{1,4}:)"
    r"{1,6}:[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,5}(:[0-9a-fA-F]{1,4}){1,2}|([0-9a-fA-F]{1,4}:)"
    r"{1,4}(:[0-9a-fA-F]{1,4}){1,3}|([0-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){1,4}|"
    r"([0-9a-fA-F]{1,4}:){1,2}(:[0-9a-fA-F]{1,4}){1,5}|[0-9a-fA-F]{1,4}:((:[0-9a-fA-F]{1,4})"
    r"{1,6})|:((:[0-9a-fA-F]{1,4}){1,7}|:)|fe80:(:[0-9a-fA-F]{0,4}){0,4}%[0-9a-zA-Z]{1,}|"
    r"::(ffff(:0{1,4}){0,1}:){0,1}((25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9])\.){3,3}(25[0-5]|"
    r"(2[0-4]|1{0,1}[0-9]){0,1}[0-9])|([0-9a-fA-F]{1,4}:){1,4}:((25[0-5]|(2[0-4]|1{0,1}[0-9])"
    r"{0,1}[0-9])\.){3,3}(25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9]))"
)


def _normalize_entry(line: str) -> str:
    """Same normalization the reference applies on load (blacklist.go:61-68)."""
    return " ".join(strip_accents_py(line).split()).strip().lower()


def _load_list(name: str) -> frozenset[str]:
    path = os.path.join(_DATA_DIR, f"{name}.csv")
    with open(path, encoding="utf-8") as fh:
        return frozenset(_normalize_entry(line) for line in fh if line.strip())


@dataclass(frozen=True)
class Blacklist:
    """Six normalized string sets driving the precision filters."""

    domains: frozenset[str]
    top_level_domains: frozenset[str]
    names: frozenset[str]
    emails: frozenset[str]
    popular_emails: frozenset[str]
    popular_names: frozenset[str] = field(default_factory=frozenset)

    @staticmethod
    def default() -> "Blacklist":
        """Production lists vendored from the reference's embedded data."""
        return Blacklist(
            domains=_load_list("domains"),
            top_level_domains=_load_list("top_level_domains"),
            names=_load_list("names"),
            emails=_load_list("emails"),
            popular_emails=_load_list("popular_emails"),
            popular_names=_load_list("popular_names"),
        )

    @staticmethod
    def testing() -> "Blacklist":
        """The reference's in-test fixture (blacklist_test.go:9-37)."""
        return Blacklist(
            domains=frozenset({"localhost.localdomain", "example.com", "test.com", "domain.com"}),
            top_level_domains=frozenset({"ignored_tld"}),
            names=frozenset({"unknown", "ubuntu", "admin"}),
            emails=frozenset({"nobody@android.com", "badger@gitter.im"}),
            popular_emails=frozenset({"popular@email.com"}),
            popular_names=frozenset({"popular"}),
        )

    # --- set membership, literals built once (see the module note) --------

    @cached_property
    def _literals(self) -> dict[str, tuple[Column, ...]]:
        """Set name → its entries' literal Columns, filled on first use."""
        return {}

    @cached_property
    def _predicates(self) -> dict[tuple[str, str], Column]:
        """(set name, column text) → the built membership predicate."""
        return {}

    def _isin(self, col: Column, name: str) -> Column:
        key = (name, str(col))
        pred = self._predicates.get(key)
        if pred is None:
            lits = self._literals.get(name)
            if lits is None:
                lits = self._literals[name] = tuple(F.lit(e) for e in sorted(getattr(self, name)))
            pred = self._predicates[key] = col.isin(*lits) if lits else F.lit(False)
        return pred

    # --- predicates over a (already cleaned) email column -----------------

    def is_multiple_email(self, email: Column) -> Column:
        return F.size(F.split(email, "@", -1)) > 2

    def is_blacklisted_email(self, email: Column) -> Column:
        return self._isin(email, "emails")

    def _domain(self, email: Column) -> Column:
        # parts[1], exactly like blacklist.go:77-78 (multiple-@ already true'd);
        # try_ variant: ANSI mode would throw on @-less strings that the Go
        # code short-circuits before this point.
        return F.try_element_at(F.split(email, "@", -1), F.lit(2))

    def is_ignored_domain(self, domain: Column) -> Column:
        d = F.element_at(F.split(domain, "@", -1), -1)
        return self._isin(d, "domains")

    def is_ignored_tld(self, domain: Column) -> Column:
        tld = F.element_at(F.split(F.element_at(F.split(domain, "@", -1), -1), r"\.", -1), -1)
        return self._isin(tld, "top_level_domains")

    @staticmethod
    def is_single_label_domain(domain: Column) -> Column:
        return ~domain.contains(".")

    @staticmethod
    def is_ip_domain(domain: Column) -> Column:
        return domain.rlike(IP4_REGEX) | domain.rlike(IP6_REGEX)

    def is_ignored_email(self, email: Column) -> Column:
        domain = self._domain(email)
        return (
            ~email.contains("@")
            | self.is_blacklisted_email(email)
            | self.is_multiple_email(email)
            | self.is_ignored_domain(domain)
            | self.is_ignored_tld(domain)
            | self.is_single_label_domain(domain)
            | self.is_ip_domain(domain)
        )

    # --- predicates over a (already cleaned) name column ------------------

    def is_ignored_name(self, name: Column) -> Column:
        low = F.lower(name)
        return self._isin(low, "names")

    def is_popular_name(self, name: Column) -> Column:
        return self._isin(name, "popular_names")

    def is_popular_email(self, email: Column) -> Column:
        return self._isin(email, "popular_emails")
