"""Normalization expressions (SURVEY §2.2 P1–P9).

Semantics match the reference exactly:

* ``cleanName``/``cleanEmail`` (/root/reference/people.go:605-627): strip
  diacritics → lowercase → collapse whitespace → trim.
* ``removeDiacritical`` (/root/reference/strings.go:41-47): NFD → drop Unicode
  Mn marks → NFC; identical to ``strip_accents``
  (/root/reference/research/idmatching/__init__.py:4-7).
* ``normalizeSpaces`` (/root/reference/people.go:635-637): split on any
  unicode whitespace, join with single spaces.
* repo-qualified name rendering ``{name, repo}``
  (/root/reference/people.go:100-105).

Everything runs in the JVM, the diacritics strip included: Spark has no
built-in for it, so it is a ``translate`` map generated from unicodedata
plus a ``regexp_replace`` of the remaining combining marks
(:func:`strip_accents_col`).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex with the UNICODE_CHARACTER_CLASS flag so \s covers U+3000 and
# friends, mirroring Go strings.Fields / Python str.split().
_UNICODE_WS = r"(?U)\s+"


def strip_accents_py(s: str) -> str:
    """Reference-identical accent strip: NFD → drop Mn marks → NFC."""
    s = "".join(c for c in unicodedata.normalize("NFD", s) if unicodedata.category(c) != "Mn")
    return unicodedata.normalize("NFC", s)


def _build_translate_map() -> tuple[str, str]:
    """char→char map for precomposed characters whose NFD strip is a single
    character (é→e, Ż→Z, …), generated from unicodedata at import so it is
    bit-identical to ``strip_accents_py`` on those characters."""
    src, dst = [], []
    for cp in range(0x80, 0x10000):
        ch = chr(cp)
        de = unicodedata.normalize("NFD", ch)
        if len(de) > 1:
            stripped = unicodedata.normalize(
                "NFC", "".join(c for c in de if unicodedata.category(c) != "Mn")
            )
            if len(stripped) == 1 and stripped != ch:
                src.append(ch)
                dst.append(stripped)
    return "".join(src), "".join(dst)


_TRANSLATE_SRC, _TRANSLATE_DST = _build_translate_map()


def strip_accents_col(col: Column) -> Column:
    """Diacritics strip, entirely JVM-side (no Python in the hot path):

    * ``translate`` maps every precomposed accented character to its base
      (map generated from unicodedata, so it matches the reference's
      NFD→drop-Mn→NFC exactly for single-char strips);
    * ``regexp_replace(\\p{Mn})`` then removes freestanding combining marks
      (already-decomposed input).

    A property test pins it to ``strip_accents_py``.
    """
    return F.regexp_replace(
        F.translate(col, _TRANSLATE_SRC, _TRANSLATE_DST), r"\p{Mn}", ""
    )


def normalize_spaces(col: Column) -> Column:
    """Collapse any unicode whitespace runs to single spaces and trim."""
    return F.trim(F.regexp_replace(col, _UNICODE_WS, " "))


def _clean(col: Column) -> Column:
    return normalize_spaces(F.lower(strip_accents_col(col)))


def clean_name(col: Column) -> Column:
    return _clean(col)


def clean_email(col: Column) -> Column:
    return _clean(col)


def name_key(name: Column, repo: Column, is_popular: Column) -> Column:
    """Blocking key for a name: popular names are repo-qualified.

    Popular (hot) names would otherwise form huge blocks; qualifying them by
    repo is the reference's skew-breaking trick
    (/root/reference/people.go:140-145, research pipeline.py:168-171). The
    rendered form matches ``NameWithRepo.String()``: ``{name, repo}``.
    """
    return F.when(is_popular, F.format_string("{%s, %s}", name, repo)).otherwise(name)

