"""Batch-vectorized string-similarity kernels (SURVEY.md §2.4, F1-F5).

The reference computes these per row in Go (internal/match/features.go:
149-489, internal/engine/fuzzy.go:566-591) or delegates to pg_trgm.
Here every kernel operates on a whole NumPy batch at once — these are
the bodies of Arrow pandas UDFs, the engine's only hot-path Python.
No rapidfuzz dependency: Levenshtein uses a min-plus-scan DP that is
O(maxlen) Python iterations per *batch* (not per pair), Jaro uses a
(batch, L, L) boolean match tensor with a greedy vectorized sweep,
trigram similarity mirrors pg_trgm's word-padded 3-gram Jaccard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MAXLEN = 64  # addresses are clipped to this many chars for the DP kernels


def _char_matrix(strings: pd.Series, maxlen: int = MAXLEN):
    """(uint8 matrix (n, maxlen), lengths (n,)) for a string batch.

    Non-ASCII input is encoded utf-8 (multi-byte chars become byte
    pairs) rather than crashing the whole Arrow batch — canonicalize
    strips non-ASCII upstream, so this path only sees it when callers
    feed raw strings directly."""
    s = strings.fillna("").astype(str).str.slice(0, maxlen)
    b = s.str.encode("utf-8", errors="replace").str.slice(0, maxlen)
    lens = b.str.len().to_numpy(dtype=np.int32)
    arr = np.array(b.to_list(), dtype=f"S{maxlen}")
    if arr.size == 0:
        return np.zeros((0, maxlen), np.uint8), lens
    mat = arr.view(np.uint8).reshape(len(s), maxlen)
    return mat, lens


def levenshtein_sim_batch(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Normalized Levenshtein similarity 1 - d/max(len)
    (reference semantics: internal/match/features.go:163-181,429-468).

    Row DP vectorized across the batch; the insertion chain's
    left-to-right dependency is resolved with a min-plus prefix scan:
    cur[j] = min_k<=j (t[k] + (j-k)) = minimum.accumulate(t - j)[j] + j.
    """
    A, la = _char_matrix(a)
    B, lb = _char_matrix(b)
    n = len(la)
    if n == 0:
        return np.zeros(0)
    Lb = int(lb.max()) if n else 0
    La = int(la.max()) if n else 0
    jidx = np.arange(Lb + 1)
    prev = np.broadcast_to(jidx, (n, Lb + 1)).astype(np.int32).copy()
    # positions beyond lb are irrelevant; keep them monotone
    for i in range(1, La + 1):
        active = (i <= la)
        if not active.any():
            break
        cost = (A[:, i - 1:i] != B[:, :Lb]).astype(np.int32)  # (n, Lb)
        t = np.empty((n, Lb + 1), np.int32)
        t[:, 0] = i
        t[:, 1:] = np.minimum(prev[:, :-1] + cost, prev[:, 1:] + 1)
        scan = np.minimum.accumulate(t - jidx, axis=1) + jidx
        prev = np.where(active[:, None], scan, prev)
    d = prev[np.arange(n), np.minimum(lb, Lb)]
    mx = np.maximum(np.maximum(la, lb), 1)
    return np.maximum(0.0, 1.0 - d / mx)


def jaro_sim_batch(a: pd.Series, b: pd.Series,
                   n_buckets: int = 4) -> np.ndarray:
    """Full match-window Jaro (no Winkler prefix boost), as in the
    reference's feature set (internal/match/features.go:365-426).

    2D sweep: one vectorized greedy-matching pass per character
    position of A (no (n, L, L) tensor — memory traffic is the cost
    driver at 10k-row Arrow batches).

    Round-6: rows are processed in length-sorted buckets so each
    bucket's sweep runs only to ITS max length instead of the whole
    batch's (the batch max made every short pair pay 64-column passes;
    measured 1.7-1.9x on mixed-length address batches). Per-row values
    are independent, so the bucketing is bit-identical to the single-
    pass kernel — gated by test_similarity's kernel tests and the
    pinned-corpus oracle entries."""
    A, la = _char_matrix(a)
    B, lb = _char_matrix(b)
    n = len(la)
    if n == 0:
        return np.zeros(0)
    ml = np.maximum(la, lb)
    order = np.argsort(ml, kind="stable")
    out = np.empty(n)
    bounds = [n * k // n_buckets for k in range(n_buckets + 1)]
    for s, e in zip(bounds, bounds[1:]):
        if s == e:
            continue
        idx = order[s:e]
        out[idx] = _jaro_core(A[idx], B[idx], la[idx], lb[idx])
    return out


def _jaro_core(A: np.ndarray, B: np.ndarray,
               la: np.ndarray, lb: np.ndarray) -> np.ndarray:
    """The Jaro sweep over one (already materialized) char-matrix
    group; see jaro_sim_batch."""
    n = len(la)
    L = int(max(la.max(initial=0), lb.max(initial=0)))
    if L == 0:
        return np.zeros(n)
    A = A[:, :L]
    B = B[:, :L]
    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)  # match window per row
    ii = np.arange(L)
    valid_b = ii[None, :] < lb[:, None]
    used = np.zeros((n, L), bool)
    match_j = np.full((n, L), -1, np.int32)
    for i in range(L):
        active = i < la
        if not active.any():
            break
        avail = (B == A[:, i:i + 1]) & valid_b & ~used
        avail &= (ii[None, :] >= (i - w)[:, None]) & \
                 (ii[None, :] <= (i + w)[:, None])
        avail &= active[:, None]
        has = avail.any(axis=1)
        j = np.argmax(avail, axis=1)
        match_j[has, i] = j[has]
        used[has, j[has]] = True
    matched = match_j >= 0
    m = matched.sum(axis=1)
    # s1 matched chars in i order
    order_a = np.argsort(~matched, axis=1, kind="stable")
    s1c = np.take_along_axis(A, order_a, axis=1)
    # s2 matched chars in j order
    js = np.where(matched, match_j, L + 1)
    js_sorted = np.sort(js, axis=1)
    s2c = np.take_along_axis(B, np.minimum(js_sorted, L - 1), axis=1)
    k = np.arange(L)[None, :]
    in_m = k < m[:, None]
    t = ((s1c != s2c) & in_m).sum(axis=1) / 2.0
    m_safe = np.maximum(m, 1)
    sim = (m / np.maximum(la, 1) + m / np.maximum(lb, 1)
           + (m - t) / m_safe) / 3.0
    return np.where(m > 0, sim, 0.0)


def jaro_winkler_sim_batch(a: pd.Series, b: pd.Series,
                           p: float = 0.1, max_prefix: int = 4,
                           boost_threshold: float = 0.7) -> np.ndarray:
    """Jaro-Winkler: Jaro plus the standard common-prefix boost
    jw = j + l*p*(1-j), l = shared prefix length capped at 4, p=0.1,
    boost applied only when j > 0.7 (Winkler 1990 constants; verified
    bit-identical to DuckDB's jaro_winkler_similarity). The
    reference's north-star feature set names Jaro-Winkler but its
    shipped helper is a character-overlap stand-in ("Simplified
    implementation", internal/normalize/enhanced.go:400-418; the
    engine's own comment says "For production, use a proper
    Jaro-Winkler", fuzzy.go:575) — this is the proper one, vectorized
    on top of the batch Jaro kernel."""
    base = jaro_sim_batch(a, b)
    n = len(base)
    if n == 0:
        return base
    A, la = _char_matrix(a)
    B, lb = _char_matrix(b)
    L = min(max_prefix, A.shape[1], B.shape[1])
    if L == 0:
        return base
    ii = np.arange(L)[None, :]
    eq = (A[:, :L] == B[:, :L]) & (ii < la[:, None]) & (ii < lb[:, None])
    prefix = np.cumprod(eq, axis=1).sum(axis=1)
    return np.where(base > boost_threshold,
                    base + prefix * p * (1.0 - base), base)


def _trigram_set(s: str) -> frozenset:
    """pg_trgm-compatible gram set: per word, pad '  w ' then slide 3.
    (pg_trgm semantics re-derived from its public docs, not reference
    code — the reference calls similarity() server-side,
    internal/engine/fuzzy.go:182-188.)"""
    grams = set()
    for w in s.split():
        p = "  " + w + " "
        for i in range(len(p) - 2):
            grams.add(p[i:i + 3])
    return frozenset(grams)


def trigram_sim_batch(a: pd.Series, b: pd.Series) -> np.ndarray:
    """3-gram Jaccard |∩|/|∪| with pg_trgm word padding. Gram sets are
    computed once per *unique* string in the batch (candidate pairs
    repeat both sides heavily), then intersected per pair."""
    a = a.fillna("").astype(str)
    b = b.fillna("").astype(str)
    cache: dict[str, frozenset] = {}

    def gs(s: str) -> frozenset:
        g = cache.get(s)
        if g is None:
            g = _trigram_set(s)
            cache[s] = g
        return g

    out = np.zeros(len(a))
    av = a.to_numpy()
    bv = b.to_numpy()
    for i in range(len(av)):
        ga, gb = gs(av[i]), gs(bv[i])
        if not ga or not gb:
            continue
        inter = len(ga & gb)
        out[i] = inter / (len(ga) + len(gb) - inter)
    return out


def trigram_grams_expr(col):
    """JVM mirror of _trigram_set: array<long> of the DISTINCT
    xxhash64'd pg_trgm 3-grams of a string column — per word, pad
    '  w ' and slide 3. Hashing is injective in practice: 64-bit space
    vs ~10^2 grams per address.

    Compute it once per SIDE row (address, gazetteer row or distinct
    core) and let the arrays ride or re-attach by equi-join; never per
    pair. Its nested higher-order functions are CodegenFallback
    (interpreted, ~10-100x codegen's cost): per pair it was the J7 rule
    matcher's dominant cost (round 6: 55 s over 57K pairs of the
    20K-doc bench corpus, against ~1 s per side). trigram_sim_expr on
    two arrays is then codegen set algebra (operators/dedup.
    shingle_jaccard_verify_jvm does the same for 5-token shingles)."""
    from pyspark.sql import functions as F
    words = F.filter(F.split(F.coalesce(col, F.lit("")), " "),
                     lambda w: w != "")

    def word_grams(w):
        p = F.concat(F.lit("  "), w, F.lit(" "))
        return F.transform(F.sequence(F.lit(1), F.length(p) - 2),
                           lambda i: p.substr(i, F.lit(3)))

    grams = F.flatten(F.transform(words, word_grams))
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))


def trigram_sim_expr(ga, gb):
    """3-gram Jaccard |∩|/|∪| over two trigram_grams_expr columns —
    identical values to trigram_sim_batch (both are set Jaccard over
    the same gram sets), computed inside whole-stage codegen."""
    from pyspark.sql import functions as F
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(ga) + F.size(gb) - inter
    return F.when((F.size(ga) == 0) | (F.size(gb) == 0), F.lit(0.0)) \
            .otherwise(inter / F.greatest(union, F.lit(1)))


def token_cosine_batch(a_tokens, b_tokens) -> np.ndarray:
    """F4 token-frequency (bag-of-words) cosine, the reference's
    cosineBagOfWords (internal/match/features.go:184-228): tf vectors
    over the union vocabulary of each pair; repeated tokens count.
    Both-empty => 1.0, one-empty => 0.0 (reference edge cases)."""
    from collections import Counter
    cache: dict[tuple, tuple] = {}  # tf map + norm per UNIQUE token list
    # candidate batches repeat both sides heavily (one doc vs many
    # gazetteer rows); building the Counter once per unique list makes
    # the per-pair work a small dict dot-product

    def tf(toks):
        key = tuple(toks) if toks is not None else ()
        v = cache.get(key)
        if v is None:
            c = Counter(key)
            v = (c, sum(x * x for x in c.values()) ** 0.5)
            cache[key] = v
        return v

    out = np.zeros(len(a_tokens))
    for i, (ta, tb) in enumerate(zip(a_tokens, b_tokens)):
        ca, na = tf(ta)
        cb, nb = tf(tb)
        if not ca and not cb:
            out[i] = 1.0
            continue
        if not ca or not cb:
            continue
        if len(cb) < len(ca):
            ca, cb = cb, ca
        dot = sum(v * cb.get(t, 0) for t, v in ca.items())
        out[i] = dot / (na * nb)
    return out


def token_overlap_batch(a_tokens, b_tokens) -> np.ndarray:
    """Overlap count / size of the smaller set (reference:
    internal/engine/fuzzy.go:527-543)."""
    out = np.zeros(len(a_tokens))
    for i, (ta, tb) in enumerate(zip(a_tokens, b_tokens)):
        if ta is None or tb is None:
            continue
        sa, sb = set(ta), set(tb)
        if not sa or not sb:
            continue
        out[i] = len(sa & sb) / min(len(sa), len(sb))
    return out

