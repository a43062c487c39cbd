"""SymSpell spelling correction against the gazetteer vocabulary
(SURVEY.md N11; reference: internal/symspell/symspell.go:35-257 +
dictionary.go:30-149 — re-implemented from the published SymSpell
algorithm, not translated).

Scale shape: the dictionary is built ONCE from the gazetteer token
frequencies (a groupBy-count collected to the driver — the gazetteer
vocabulary is tiny relative to the corpus), then BROADCAST; correction
runs inside the canonicalize Arrow UDF with a per-batch memo on unique
tokens, so cost is per unique misspelling, not per row.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd

MAX_EDIT = 2
PREFIX_LEN = 7
MIN_TERM_LEN = 4


def _deletes(word: str, max_edit: int) -> set[str]:
    out = {word}
    frontier = {word}
    for _ in range(max_edit):
        nxt = set()
        for w in frontier:
            for i in range(len(w)):
                d = w[:i] + w[i + 1:]
                if d not in out:
                    nxt.add(d)
        out |= nxt
        frontier = nxt
    return out


def damerau_levenshtein(a: str, b: str, cap: int = MAX_EDIT + 1) -> int:
    """Small-string Damerau-Levenshtein with an early-exit cap
    (verification step only — runs on candidate dictionary hits)."""
    la, lb = len(a), len(b)
    if abs(la - lb) >= cap:
        return cap
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
            best = min(best, cur[j])
        if best >= cap:
            return cap
        prev2, prev = prev, cur
    return prev[lb]


class SymSpell:
    """Symmetric-delete dictionary: key = deleted-prefix variant,
    value = candidate dictionary words."""

    def __init__(self, max_edit: int = MAX_EDIT, prefix_len: int = PREFIX_LEN):
        self.max_edit = max_edit
        self.prefix_len = prefix_len
        self.words: dict[str, int] = {}
        self.index: dict[str, list[str]] = defaultdict(list)

    def add(self, word: str, freq: int = 1) -> None:
        if len(word) < 2 or not word.isalpha():
            return
        if word in self.words:
            self.words[word] += freq
            return
        self.words[word] = freq
        for d in _deletes(word[: self.prefix_len], self.max_edit):
            self.index[d].append(word)

    def build_from_counts(self, counts) -> "SymSpell":
        for word, freq in counts:
            self.add(str(word).upper(), int(freq))
        return self

    def lookup(self, term: str) -> str | None:
        """Best correction (closest edit, then most frequent), or None."""
        term = term.upper()
        if term in self.words:
            return term
        if len(term) < MIN_TERM_LEN:
            return None
        seen: set[str] = set()
        best, best_d, best_f = None, self.max_edit + 1, -1
        for d in _deletes(term[: self.prefix_len], self.max_edit):
            for cand in self.index.get(d, ()):
                if cand in seen:
                    continue
                seen.add(cand)
                dist = damerau_levenshtein(term, cand, cap=best_d + 1)
                f = self.words[cand]
                if dist < best_d or (dist == best_d and f > best_f):
                    if dist <= self.max_edit:
                        best, best_d, best_f = cand, dist, f
        return best

    def correct_tokens_series(self, addr: pd.Series,
                              skip: set[str] | None = None) -> pd.Series:
        """Correct each alpha token of each address; numbers and
        already-known words pass through. Memoized on unique tokens."""
        skip = skip if skip is not None else set()
        memo: dict[str, str] = {}

        def fix(tok: str) -> str:
            if tok in self.words or not tok.isalpha() or len(tok) < MIN_TERM_LEN \
                    or tok in skip:
                return tok
            r = memo.get(tok)
            if r is None:
                r = self.lookup(tok) or tok
                memo[tok] = r
            return r

        return addr.fillna("").map(
            lambda s: " ".join(fix(t) for t in s.split()))


def build_dictionary_from_gazetteer(gaz_df, addr_col: str = "addr_can",
                                    min_freq: int = 1) -> SymSpell:
    """Token-frequency dictionary via Spark agg, collected to the driver
    (reference analog: internal/symspell/dictionary.go:62-149 builds
    from dim_address; ours is explode(tokens).groupBy.count)."""
    from pyspark.sql import functions as F
    counts = (gaz_df
              .select(F.explode(F.split(F.col(addr_col), " ")).alias("tok"))
              .filter((F.length("tok") >= 2) & F.col("tok").rlike("^[A-Z]+$"))
              .groupBy("tok").count()
              .filter(F.col("count") >= min_freq)
              .collect())
    return SymSpell().build_from_counts((r["tok"], r["count"]) for r in counts)
