"""Phonetic street-key encoder (SURVEY.md N12).

A simplified metaphone in the spirit of the reference's
internal/normalize/phonetics.go:42-139 (digraph substitutions,
vowel drop after the first character, consecutive-dedupe, short code)
— re-derived, not copied; the exact code values only need to agree
between the two sides of the join, since the code is used as a
BLOCKING KEY and as the phonetic-hits feature (F8).

Implemented as chained vectorized pandas .str.replace calls so the
whole batch is processed without per-row Python.
"""

from __future__ import annotations

import pandas as pd

_DIGRAPHS = [
    ("PH", "F"), ("GH", "F"), ("KN", "N"), ("GN", "N"), ("WR", "R"),
    ("WH", "W"), ("QU", "KW"), ("CK", "K"), ("SH", "X"), ("CH", "X"),
    ("TH", "T"), ("DG", "J"), ("MB", "M"),
]
# note: no X->KS rule — SH/CH map to X and must stay terminal
_SINGLES = [("C", "K"), ("Q", "K"), ("Z", "S"),
            ("D", "T"), ("V", "F"), ("B", "P")]
CODE_LEN = 6


def phonetic_series(words: pd.Series) -> pd.Series:
    """Vectorized phonetic code for a Series of single words/streets."""
    s = words.fillna("").astype(str).str.upper()
    s = s.str.replace(r"[^A-Z]", "", regex=True)
    for a, b in _DIGRAPHS:
        s = s.str.replace(a, b, regex=False)
    for a, b in _SINGLES:
        s = s.str.replace(a, b, regex=False)
    # keep first char; drop vowels + Y afterwards
    first = s.str.slice(0, 1)
    rest = s.str.slice(1).str.replace(r"[AEIOUY]", "", regex=True)
    s = first + rest
    s = s.str.replace(r"(.)\1+", r"\1", regex=True)  # dedupe runs
    return s.str.slice(0, CODE_LEN)

