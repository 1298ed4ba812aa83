"""Seeded input generators for the three benchmark workloads.

Every generator takes the workload seed and builds its inputs in this
one process with numpy; the same seed gives identical frames. Each
returns the program-facing pandas frame(s) plus the planted truth as a
separate object; the truth never reaches ``ppack_spark``.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

import numpy as np
import pandas as pd

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_CONS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w", "z",
         "br", "ch", "st", "th", "sh", "tr", "gr", "kl"]
_VOW = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "y"]

# The name, city and word vocabularies are fixed (vocabulary seed 0) so
# every workload seed draws from the same skewed population; the seed
# decides which records, entities, copies and edits are drawn.
_VOCAB_SEED = 0

# ---- shape of the generated inputs ---------------------------------------
DUP_SHARE = 0.5          # persons: share of entities that get noisy copies
MAX_COPIES = 3           # persons: 1..MAX_COPIES copies per such entity
REQUEST_BATCH = 25       # link_requests: records per request
COPY_SHARE = 0.6         # link_requests: request records that copy a reference entity
NEAR_COPY_SHARE = 0.2    # corpus: documents that are near-copies of an original
EXACT_COPY_SHARE = 0.05  # corpus: documents that are exact copies of an original
REPLACE_SHARE = 0.05     # corpus: share of a near-copy's words replaced
DOC_WORDS = (200, 300)   # corpus: words per document, inclusive range
LINE_WORDS = 10          # corpus: words per line


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` distinct pronounceable words of ``lo``..``hi`` syllables."""
    out: dict[str, None] = {}
    while len(out) < n:
        m = n - len(out)
        k = rng.integers(lo, hi + 1, size=m)
        c = rng.integers(0, len(_CONS), size=(m, hi))
        v = rng.integers(0, len(_VOW), size=(m, hi))
        coda = np.where(rng.random(m) < 0.5, rng.integers(0, 17, size=m), -1)
        for j in range(m):
            w = "".join(_CONS[c[j, i]] + _VOW[v[j, i]] for i in range(k[j]))
            out[w + (_CONS[coda[j]] if coda[j] >= 0 else "")] = None
    return list(out)[:n]


def _zipf_p(n: int, s: float, offset: float) -> np.ndarray:
    p = 1.0 / (np.arange(n) + offset) ** s
    return p / p.sum()


# --------------------------------------------------------------------------
# persons: dedup_batch and link_requests
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class PersonVocab:
    first: np.ndarray
    last: np.ndarray
    cities: np.ndarray
    postcodes: np.ndarray  # (n_cities, per_city)
    p_first: np.ndarray
    p_last: np.ndarray
    p_city: np.ndarray


def person_vocab() -> PersonVocab:
    rng = np.random.default_rng(_VOCAB_SEED)
    first = np.array([w.capitalize() for w in _words(rng, 1500, 1, 3)])
    last = np.array([w.capitalize() for w in _words(rng, 8000, 2, 3)])
    cities = np.array([w.capitalize() for w in _words(rng, 300, 2, 3)])
    per_city = 40
    codes = rng.integers(0, 36, size=(len(cities) * per_city, 6))
    alphabet = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    postcodes = np.array(["".join(alphabet[c]) for c in codes]).reshape(len(cities), per_city)
    return PersonVocab(
        first=first,
        last=last,
        cities=cities,
        postcodes=postcodes,
        p_first=_zipf_p(len(first), 1.1, 8.0),
        p_last=_zipf_p(len(last), 1.0, 20.0),
        p_city=_zipf_p(len(cities), 1.0, 3.0),
    )


_DOB_LO = _dt.date(1940, 1, 1).toordinal()
_DOB_HI = _dt.date(2005, 12, 31).toordinal()


def _typo(rng: np.random.Generator, s: str) -> str:
    """One substitution, deletion, insertion or adjacent transposition."""
    if len(s) < 3:
        return s + str(rng.choice(_LETTERS))
    i = int(rng.integers(1, len(s) - 1))
    op = int(rng.integers(0, 4))
    c = str(rng.choice(_LETTERS))
    if op == 0:
        return s[:i] + c + s[i + 1:]
    if op == 1:
        return s[:i] + s[i + 1:]
    if op == 2:
        return s[:i] + c + s[i:]
    return s[:i - 1] + s[i] + s[i - 1] + s[i + 1:]


def _edit_dob(rng: np.random.Generator, dob: str) -> str:
    y, m, d = dob.split("-")
    if int(d) <= 12 and d != m and rng.random() < 0.5:
        return f"{y}-{d}-{m}"  # day/month swap
    i = int(rng.integers(0, 3))
    if i == 0:
        y = str(int(y) + int(rng.choice([-1, 1])))
    elif i == 1:
        m = f"{int(rng.integers(1, 13)):02d}"
    else:
        d = f"{int(rng.integers(1, 29)):02d}"
    return f"{y}-{m}-{d}"


def _edit_postcode(rng: np.random.Generator, pc: str) -> str:
    i = int(rng.integers(0, len(pc)))
    c = str(rng.choice(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ")))
    return pc[:i] + c + pc[i + 1:]


def _noisy_copy(rng: np.random.Generator, rec: tuple, vocab: PersonVocab) -> tuple:
    first, last, dob, city, pc = rec
    for op in rng.choice(5, size=int(rng.integers(1, 3)), replace=False):
        if op == 0:
            first = _typo(rng, first)
        elif op == 1:
            last = _typo(rng, last)
        elif op == 2:
            dob = _edit_dob(rng, dob)
        elif op == 3:
            pc = _edit_postcode(rng, pc)
        else:  # moved: new city and a postcode there
            ci = int(rng.choice(len(vocab.cities), p=vocab.p_city))
            city = str(vocab.cities[ci])
            pc = str(vocab.postcodes[ci, int(rng.integers(0, vocab.postcodes.shape[1]))])
    return first, last, dob, city, pc


def _entities(rng: np.random.Generator, n: int, vocab: PersonVocab) -> list[tuple]:
    first = rng.choice(vocab.first, size=n, p=vocab.p_first)
    last = rng.choice(vocab.last, size=n, p=vocab.p_last)
    dob = [
        _dt.date.fromordinal(int(o)).isoformat()
        for o in rng.integers(_DOB_LO, _DOB_HI + 1, size=n)
    ]
    ci = rng.choice(len(vocab.cities), size=n, p=vocab.p_city)
    pc = vocab.postcodes[ci, rng.integers(0, vocab.postcodes.shape[1], size=n)]
    return [
        (str(first[i]), str(last[i]), dob[i], str(vocab.cities[ci[i]]), str(pc[i]))
        for i in range(n)
    ]


PERSON_COLS = ["first", "last", "dob", "city", "postcode"]


def _frame(ids: np.ndarray, recs: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(recs, columns=PERSON_COLS)
    df.insert(0, "id", ids.astype("int64"))
    return df


def persons(seed: int, n_entities: int):
    """Person-like records for a self-link dedup job.

    ``DUP_SHARE`` of the entities get 1..``MAX_COPIES`` noisy copies.
    Returns ``(records, entity)`` where ``records`` has columns
    ``id, first, last, dob, city, postcode`` and ``entity`` is the
    planted entity of each record, aligned with ``records.id``.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = person_vocab()
    base = _entities(rng, n_entities, vocab)
    recs, ent = list(base), list(range(n_entities))
    dup = np.flatnonzero(rng.random(n_entities) < DUP_SHARE)
    for e in dup:
        for _ in range(int(rng.integers(1, MAX_COPIES + 1))):
            recs.append(_noisy_copy(rng, base[e], vocab))
            ent.append(int(e))
    order = rng.permutation(len(recs))
    recs = [recs[i] for i in order]
    ids = np.arange(len(recs), dtype=np.int64)
    entity = pd.Series(np.asarray(ent)[order], index=ids, name="entity")
    return _frame(ids, recs), entity


@dataclass(frozen=True)
class LinkInputs:
    reference: pd.DataFrame       # resident reference records
    requests: list[pd.DataFrame]  # request batches, ids disjoint from reference
    truth: set                    # planted (request id, reference id) matches


def link_requests(seed: int, n_reference: int, n_requests: int) -> LinkInputs:
    """A resident reference of distinct entities plus ``n_requests``
    batches of ``REQUEST_BATCH`` records.

    ``COPY_SHARE`` of request records are noisy copies of reference
    entities; the rest are entities the reference does not hold.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = person_vocab()
    ref = _entities(rng, n_reference, vocab)
    reference = _frame(np.arange(n_reference, dtype=np.int64), ref)
    n_req = n_requests * REQUEST_BATCH
    unseen = _entities(rng, n_req, vocab)
    recs, truth = [], set()
    next_id = 10_000_000
    for i in range(n_req):
        if rng.random() < COPY_SHARE:
            e = int(rng.integers(0, n_reference))
            recs.append(_noisy_copy(rng, ref[e], vocab))
            truth.add((next_id + i, e))
        else:
            recs.append(unseen[i])
    ids = np.arange(next_id, next_id + n_req, dtype=np.int64)
    all_req = _frame(ids, recs)
    requests = [
        all_req.iloc[k * REQUEST_BATCH:(k + 1) * REQUEST_BATCH].reset_index(drop=True)
        for k in range(n_requests)
    ]
    return LinkInputs(reference, requests, truth)


# --------------------------------------------------------------------------
# documents: corpus_dedup
# --------------------------------------------------------------------------


def corpus(seed: int, n_docs: int):
    """Documents of ``DOC_WORDS`` words from a skewed vocabulary,
    ``LINE_WORDS`` words to a line. ``NEAR_COPY_SHARE`` of the documents
    are near-copies of an original with ``REPLACE_SHARE`` of their words
    replaced; ``EXACT_COPY_SHARE`` are exact copies.

    Returns ``(docs, planted_drop)``: ``docs`` has ``doc_id, text``;
    ``planted_drop`` holds, for every original and its copies (near
    and exact), every member but the smallest id: what a dedup that
    keeps the min id of each group would drop.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_words(np.random.default_rng(_VOCAB_SEED + 1), 20000, 1, 3))
    p = _zipf_p(len(vocab), 1.0, 30.0)
    n_copies = int(round(n_docs * NEAR_COPY_SHARE))
    n_exact = int(round(n_docs * EXACT_COPY_SHARE))
    n_orig = n_docs - n_copies - n_exact
    cdf = np.cumsum(p)

    def draw(size: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(size)), len(vocab) - 1)

    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n_orig)
    toks = np.split(draw(int(lengths.sum())), np.cumsum(lengths)[:-1])
    src = rng.integers(0, n_orig, size=n_copies)
    for s in src:
        t = toks[int(s)].copy()
        k = max(1, int(round(len(t) * REPLACE_SHARE)))
        t[rng.choice(len(t), size=k, replace=False)] = draw(k)
        toks.append(t)
    exact_src = rng.integers(0, n_orig, size=n_exact)
    toks.extend(toks[int(s)] for s in exact_src)
    group = np.concatenate([np.arange(n_orig), src, exact_src])
    order = rng.permutation(n_docs)
    texts, members = [], {}
    for doc_id, j in enumerate(order):
        w = vocab[toks[j]]
        lines = [" ".join(w[i:i + LINE_WORDS]) for i in range(0, len(w), LINE_WORDS)]
        texts.append("\n".join(lines))
        members.setdefault(int(group[j]), []).append(doc_id)
    planted_drop = {d for ids in members.values() for d in sorted(ids)[1:]}
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    return docs, planted_drop
