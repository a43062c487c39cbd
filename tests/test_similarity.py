"""Batch similarity kernels vs known values + naive scalar oracles."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ehdc_llpg_address_matching_spark.functions.similarity import (
    jaro_sim_batch, levenshtein_sim_batch, trigram_sim_batch,
    _trigram_set)
from ehdc_llpg_address_matching_spark.functions.symspell import (
    SymSpell, damerau_levenshtein)
from ehdc_llpg_address_matching_spark.functions.phonetic import phonetic_series


def _naive_lev(a, b):
    la, lb = len(a), len(b)
    d = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, d[0] = d[0], i
        for j in range(1, lb + 1):
            cur = min(d[j] + 1, d[j - 1] + 1,
                      prev + (a[i - 1] != b[j - 1]))
            prev, d[j] = d[j], cur
    return d[lb]


KNOWN_JARO = [
    ("MARTHA", "MARHTA", 0.9444),
    ("DIXON", "DICKSONX", 0.7667),
    ("JELLYFISH", "SMELLYFISH", 0.8963),
    ("SAME", "SAME", 1.0),
    ("", "X", 0.0),
]


@pytest.mark.parametrize("a,b,want", KNOWN_JARO)
def test_jaro_known_values(a, b, want):
    got = jaro_sim_batch(pd.Series([a]), pd.Series([b]))[0]
    assert abs(got - want) < 5e-4


@given(st.lists(st.tuples(
    st.text(alphabet="ABCDE 123", max_size=20),
    st.text(alphabet="ABCDE 123", max_size=20)), min_size=1, max_size=30))
@settings(max_examples=25, deadline=None)
def test_levenshtein_matches_naive(pairs):
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    got = levenshtein_sim_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        mx = max(len(x), len(y), 1)
        want = max(0.0, 1 - _naive_lev(x, y) / mx)
        assert abs(got[i] - want) < 1e-9


def test_trigram_identical_and_disjoint():
    s = trigram_sim_batch(pd.Series(["HIGH STREET", "HIGH STREET", ""]),
                          pd.Series(["HIGH STREET", "QQQQ ZZZZ", "X"]))
    assert s[0] == 1.0
    assert s[1] == 0.0
    assert s[2] == 0.0


def test_trigram_set_pg_style_padding():
    g = _trigram_set("AB")
    assert "  A" in g and " AB" in g and "AB " in g


def test_trigram_symmetry():
    a = pd.Series(["12 HIGH STREET ALTON"])
    b = pd.Series(["12 HIGH ST ALTON"])
    assert trigram_sim_batch(a, b)[0] == trigram_sim_batch(b, a)[0] > 0.5


def test_damerau_transposition():
    assert damerau_levenshtein("PETERSFIELD", "PETERSFEILD") == 1
    assert damerau_levenshtein("ABC", "CBA") == 2


def test_symspell_corrects_typo():
    sym = SymSpell()
    for w, f in [("PETERSFIELD", 50), ("ALTON", 80), ("CHURCH", 30),
                 ("STREET", 100)]:
        sym.add(w, f)
    assert sym.lookup("PETERSFEILD") == "PETERSFIELD"
    assert sym.lookup("ALTQN") == "ALTON"
    assert sym.lookup("ZZZZZZ") is None
    out = sym.correct_tokens_series(pd.Series(["12 CHRUCH STREET PETERSFEILD"]))
    assert out.iloc[0] == "12 CHURCH STREET PETERSFIELD"


def test_phonetic_stability():
    code = phonetic_series(pd.Series(
        ["CHURCH", "CHURCH", "church", "", "PHILIP", "FILIP"])).tolist()
    # same word -> same code, case-insensitive
    assert code[0] == code[1] == code[2]
    assert code[3] == ""
    # digraph folding
    assert code[4] == code[5]


def test_jaro_winkler_known_values():
    """Winkler 1990 canonical pairs + boundary behavior."""
    import numpy as np
    import pandas as pd
    from ehdc_llpg_address_matching_spark.functions.similarity import \
        jaro_winkler_sim_batch
    a = pd.Series(["MARTHA", "DIXON", "IDENTICAL", "", "ABCD"])
    b = pd.Series(["MARHTA", "DICKSONX", "IDENTICAL", "X", "ZYXW"])
    out = jaro_winkler_sim_batch(a, b)
    assert abs(out[0] - 0.9611) < 1e-3   # MARTHA/MARHTA
    assert abs(out[1] - 0.8133) < 1e-3   # DIXON/DICKSONX
    assert out[2] == 1.0
    assert out[3] == 0.0
    assert out[4] == 0.0
    # prefix boost only raises, never lowers, and caps at 4 chars
    from ehdc_llpg_address_matching_spark.functions.similarity import \
        jaro_sim_batch
    j = jaro_sim_batch(a, b)
    assert (out >= j - 1e-12).all()
