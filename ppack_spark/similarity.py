"""String-similarity functions for comparators.

The reference relies on DuckDB's builtin ``jaro_winkler_similarity``
(comparators.R:9-11). Spark has no JW builtin, so this module provides
one Jaro-Winkler: an Arrow-vectorized pandas UDF implementing the
standard measure (Winkler 1990) with DuckDB's constants — prefix scale
0.1, max prefix 4, boost threshold 0.7 — and DuckDB's byte semantics,
verified against its output in tests/test_similarity.py.

Inside each Arrow batch, NULL/empty/equal rows are resolved up front
and the residual pairs are scored by a numpy kernel over padded byte
matrices (``_numpy_jw_batch``) that replays the pure-Python reference
``jaro_winkler_py`` bit for bit; pairs longer than 64 bytes go to that
reference directly.

UDF placement policy (SURVEY §7 risk register): similarity UDFs run
strictly *post-blocking* over the candidate pairs — never inside a
join predicate, where they would break whole-stage codegen and force a
nested-loop join. Levenshtein and soundex comparators use Spark
builtins (JVM-side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

__all__ = [
    "jaro_winkler",
    "jaro_winkler_py",
    "jw_similarity",
    "jw_comparator",
    "levenshtein_similarity",
]


def jaro_winkler_py(s1: str | None, s2: str | None) -> float | None:
    """Pure-Python Jaro-Winkler, DuckDB-compatible (prefix scale 0.1,
    boost threshold 0.7, prefix cap 4). None-propagating."""
    if s1 is None or s2 is None:
        return None
    # DuckDB computes JW over UTF-8 bytes, not codepoints — match that.
    b1 = s1.encode("utf-8") if isinstance(s1, str) else s1
    b2 = s2.encode("utf-8") if isinstance(s2, str) else s2
    len1, len2 = len(b1), len(b2)
    if len1 == 0 or len2 == 0:
        return 0.0  # DuckDB: empty input → 0, even for '' vs ''
    if b1 == b2:
        return 1.0
    s1, s2 = b1, b2
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c1:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transposition count over matched characters in order
    t = 0
    k = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0
    if jaro > 0.7:  # Winkler boost
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 == c2:
                prefix += 1
            else:
                break
        jaro += prefix * 0.1 * (1.0 - jaro)
    return jaro


# Pairs whose max byte length exceeds this go to the pure-Python loop
# instead of the vectorized kernel: kernel work grows with the padded
# width, and comparator columns (names, codes, postcodes) are short.
_NUMPY_JW_MAXLEN = 64


def _numpy_jw_kernel(L, R, len1, len2) -> np.ndarray:
    """Vectorized Jaro-Winkler over padded byte matrices.

    ``L``/``R`` are (n, m) int16 matrices padded with -1 / -2 (distinct
    pad values so a pad never equals a real byte or the other side's
    pad). All arithmetic replays ``jaro_winkler_py`` in float64 with the
    same expression order, so results are bit-identical.

    The greedy match scan is sequential per pair but vectorizes across
    the batch: the (i, j) position loops run at most
    m1 × (2·max_window+1) numpy passes over the whole batch — for
    10-byte names that is ~100 vectorized ops per batch instead of
    ~n×100 interpreted steps.
    """
    n, m1 = L.shape
    m2 = R.shape[1]
    window = np.maximum(np.maximum(len1, len2) // 2 - 1, 0)
    wmax = int(window.max()) if n else 0
    # uniform-length bucket (e.g. fixed-width codes, same-length names):
    # the window bounds are scalars, saving two masks per (i, j) pass
    uniform = n > 0 and window[0] == wmax and int(window.min()) == wmax \
        and int(len2.min()) == int(len2.max())
    flags1 = np.zeros((n, m1), dtype=bool)
    flags2 = np.zeros((n, m2), dtype=bool)
    for i in range(m1):
        li = L[:, i]
        if uniform:
            jlo, jhi = max(0, i - wmax), min(int(len2[0]), i + wmax + 1)
            lo = hi = None
        else:
            lo = np.maximum(0, i - window)
            hi = np.minimum(len2, i + window + 1)
            jlo, jhi = max(0, i - wmax), min(m2, i + wmax + 1)
        found = np.zeros(n, dtype=bool)
        for j in range(jlo, jhi):
            cand = R[:, j] == li
            cand &= ~flags2[:, j]
            cand &= ~found
            if not uniform:
                cand &= j >= lo
                cand &= j < hi
            if not cand.any():
                continue
            flags1[cand, i] = True
            flags2[cand, j] = True
            found |= cand
    matches = flags1.sum(axis=1)
    # transpositions: scatter matched chars by match rank, compare ranks
    max_m = int(matches.max()) if n else 0
    A = np.full((n, max_m), -1, dtype=np.int16)
    B = np.full((n, max_m), -3, dtype=np.int16)
    rows1, cols1 = np.nonzero(flags1)
    A[rows1, (np.cumsum(flags1, axis=1) - 1)[rows1, cols1]] = L[rows1, cols1]
    rows2, cols2 = np.nonzero(flags2)
    B[rows2, (np.cumsum(flags2, axis=1) - 1)[rows2, cols2]] = R[rows2, cols2]
    t = (((A != B) & (A != -1)).sum(axis=1) // 2).astype(np.float64)
    m = matches.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / len1 + m / len2 + (m - t) / m) / 3.0
    jaro = np.where(matches == 0, 0.0, jaro)
    # Winkler boost above 0.7: common prefix capped at 4 (pads mismatch
    # automatically beyond each string's length)
    prefix = np.zeros(n, dtype=np.float64)
    still = np.ones(n, dtype=bool)
    for k in range(min(4, m1, m2)):
        still = still & (L[:, k] == R[:, k])
        prefix += still
    return np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


def _numpy_jw_batch(sub_l: list, sub_r: list) -> list:
    """Vectorized batch JW (bytes pairs → list[float]). Pairs are
    bucketed by max byte length (≤8/16/32/64) to bound padding waste;
    longer pairs fall back to ``jaro_winkler_py``. Pairs of two empty
    strings fall in no bucket and keep 0.0 (DuckDB: empty → 0)."""
    n = len(sub_l)
    if n == 0:
        return []
    out = np.zeros(n, dtype=np.float64)
    len1 = np.fromiter(map(len, sub_l), dtype=np.int64, count=n)
    len2 = np.fromiter(map(len, sub_r), dtype=np.int64, count=n)
    mx = np.maximum(len1, len2)
    big = np.nonzero(mx > _NUMPY_JW_MAXLEN)[0]
    for i in big:
        out[i] = jaro_winkler_py(sub_l[i], sub_r[i])
    prev_cap = 0
    for cap in (8, 16, 32, _NUMPY_JW_MAXLEN):
        sel = np.nonzero((mx > prev_cap) & (mx <= cap))[0]
        prev_cap = cap
        if sel.size == 0:
            continue
        whole = sel.size == n
        l1, l2 = len1[sel], len2[sel]
        m1, m2 = int(l1.max()), int(l2.max())
        lbytes = sub_l if whole else [sub_l[i] for i in sel.tolist()]
        rbytes = sub_r if whole else [sub_r[i] for i in sel.tolist()]
        # row-major boolean fill: flattened bytes land exactly at the
        # valid (row, col) positions of the padded matrix
        L = np.full((sel.size, m1), -1, dtype=np.int16)
        L[np.arange(m1) < l1[:, None]] = np.frombuffer(
            b"".join(lbytes), dtype=np.uint8
        )
        R = np.full((sel.size, m2), -2, dtype=np.int16)
        R[np.arange(m2) < l2[:, None]] = np.frombuffer(
            b"".join(rbytes), dtype=np.uint8
        )
        scores = _numpy_jw_kernel(L, R, l1.astype(np.float64), l2.astype(np.float64))
        if whole:
            return scores.tolist()
        out[sel] = scores
    return out.tolist()


def _jw_batch(l_arr, r_arr) -> np.ndarray:
    """Elementwise JW over two object arrays of str/None. NULL/empty/
    equal rows are resolved in Python (DuckDB edge semantics: empty →
    0.0 even for ''=='', equal → 1.0); the residual pairs go to the
    numpy kernel."""
    n = len(l_arr)
    out = np.empty(n, dtype=object)
    sub_l: list = []
    sub_r: list = []
    sub_idx: list = []
    for i in range(n):
        l, r = l_arr[i], r_arr[i]
        if not isinstance(l, str) or not isinstance(r, str):
            out[i] = None
            continue
        bl, br = l.encode("utf-8"), r.encode("utf-8")
        if len(bl) == 0 or len(br) == 0:
            out[i] = 0.0
        elif bl == br:
            out[i] = 1.0
        else:
            sub_idx.append(i)
            sub_l.append(bl)
            sub_r.append(br)
    if sub_idx:
        scores = _numpy_jw_batch(sub_l, sub_r)
        for k, i in enumerate(sub_idx):
            out[i] = float(scores[k])
    return out


@pandas_udf(T.DoubleType())
def jw_similarity(left: pd.Series, right: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler over two string columns."""
    out = _jw_batch(left.to_numpy(dtype=object), right.to_numpy(dtype=object))
    return pd.Series(out, dtype="float64")


def jaro_winkler(left: Column | str, right: Column | str) -> Column:
    """Column-level JW similarity (usable inside comparator factories)."""
    l = F.col(left) if isinstance(left, str) else left
    r = F.col(right) if isinstance(right, str) else right
    return jw_similarity(l, r)


def jw_comparator(
    var: str,
    left: Column | str | None = None,
    right: Column | str | None = None,
) -> Column:
    """``build_jw_comparator_expressions`` (reference comparators.R:4-14):
    Jaro-Winkler similarity bucketed first-match-wins at
    ``== 1`` / ``> 0.9`` / ``> 0.85`` / else into the four JW_LEVELS.

    A NULL input yields NULL similarity, which fails every condition
    and lands on the default level — the dbplyr ``case_when`` → SQL
    ``CASE ... ELSE`` rendering the reference relies on.
    """
    from .exprs import bucket_comparator, suffixed
    from .spec import JW_LEVELS

    l = F.col(suffixed(var, "_left")) if left is None else (
        F.col(left) if isinstance(left, str) else left
    )
    r = F.col(suffixed(var, "_right")) if right is None else (
        F.col(right) if isinstance(right, str) else right
    )
    sim = jw_similarity(l, r)
    full, strong, weak, none = JW_LEVELS
    return bucket_comparator(
        sim,
        [(sim == 1.0, full), (sim > 0.9, strong), (sim > 0.85, weak)],
        none,
    )


def levenshtein_similarity(left: Column | str, right: Column | str) -> Column:
    """Normalized Levenshtein similarity 1 − d/max(len) using the Spark
    *builtin* edit distance — JVM-side, codegen-friendly, the preferred
    fuzzy comparator at scale."""
    l = F.col(left) if isinstance(left, str) else left
    r = F.col(right) if isinstance(right, str) else right
    maxlen = F.greatest(F.length(l), F.length(r))
    return F.when(maxlen == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(l, r) / maxlen.cast("double")
    )
