"""DuckDB replays of the program's outputs, and the checks against them.

The replays follow the oracle patterns of ``ppack_spark/plans``: the
Jaro-Winkler buckets use DuckDB's ``jaro_winkler_similarity`` (as the
linkage gates in ``plans/registry.py`` do) and the corpus chain mirrors
the quality → line dedup → exact dedup CTEs and the MinHash-LSH
near-dedup oracle (``_near_dedup_corpus_sql``) of
``plans/registry_data.py``. A check returns a list of error strings;
an empty list means the output is correct.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from ppack_spark.em import run_em

GAMMAS = ["first", "last", "dob", "city", "postcode"]

# The blocking passes, in DuckDB over the aliases l (left) and r (right);
# the Spark spec in workloads.py states the same three conditions.
BLOCKING_SQL = [
    "l.dob = r.dob",
    "l.postcode = r.postcode and substr(l.first, 1, 1) = substr(r.first, 1, 1)",
    "l.last = r.last and substr(l.first, 1, 2) = substr(r.first, 1, 2)",
]


def _jw(col: str) -> str:
    s = f"jaro_winkler_similarity(l.{col}, r.{col})"
    return (f"case when {s} = 1 then 'full agreement' "
            f"when {s} > 0.9 then 'strong partial agreement' "
            f"when {s} > 0.85 then 'weak partial agreement' "
            f"else 'no agreement' end")


def _lev(col: str) -> str:
    s = (f"(case when greatest(length(l.{col}), length(r.{col})) = 0 then 1.0 "
         f"else 1.0 - levenshtein(l.{col}, r.{col}) / "
         f"cast(greatest(length(l.{col}), length(r.{col})) as double) end)")
    return (f"case when {s} = 1.0 then 'full agreement' "
            f"when {s} > 0.9 then 'strong partial agreement' "
            f"when {s} > 0.85 then 'weak partial agreement' "
            f"else 'no agreement' end")


def _exact(col: str) -> str:
    return f"case when l.{col} = r.{col} then 'agree' else 'disagree' end"


GAMMA_SQL = {
    "first": _jw("first"),
    "last": _jw("last"),
    "dob": _exact("dob"),
    "city": _exact("city"),
    "postcode": _lev("postcode"),
}


def replay_comparisons(left: pd.DataFrame, right: pd.DataFrame | None) -> pd.DataFrame:
    """Candidate pairs and their comparison vectors ``(id_left,
    id_right, <gammas>)``. ``right=None`` is a self-link, which keeps
    each unordered pair once (``id_left < id_right``)."""
    con = duckdb.connect()
    try:
        con.register("a", left)
        con.register("b", left if right is None else right)
        order = " and l.id < r.id" if right is None else ""
        cand = " union ".join(
            f"select l.id as id_left, r.id as id_right from a l join b r on {c}{order}"
            for c in BLOCKING_SQL
        )
        gam = ", ".join(f"{GAMMA_SQL[g]} as {g}" for g in GAMMAS)
        return con.execute(f"""
            with cand as ({cand})
            select c.id_left, c.id_right, {gam}
            from cand c join a l on l.id = c.id_left join b r on r.id = c.id_right
        """).df()
    finally:
        con.close()


def pattern_table(cmp: pd.DataFrame) -> pd.DataFrame:
    return cmp.groupby(GAMMAS, dropna=False).size().rename("n").reset_index()


def weights(cmp: pd.DataFrame, params) -> np.ndarray:
    """Summed match weight per replayed pair under fitted ``params``."""
    w = np.zeros(len(cmp))
    for g in GAMMAS:
        lut = {lvl: math.log(params.m_probabilities[g][lvl]) - math.log(params.u_probabilities[g][lvl])
               for lvl in params.m_probabilities[g]}
        w += cmp[g].map(lut).to_numpy(dtype=float)
    return w


def _close(a: float, b: float, rtol: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rtol, abs_tol=1e-300)


def check_fit(program_counts: pd.DataFrame, replay_counts: pd.DataFrame, params,
              u_input: dict, total_pairs: float, maxiter: int, levels: dict,
              lambda_init: float) -> list[str]:
    """Pattern counts equal the replay's, and the fitted parameters
    equal ``run_em`` on the replay's counts."""
    errors = []
    prog = program_counts[GAMMAS + ["n"]].copy()
    merged = prog.merge(replay_counts, on=GAMMAS, how="outer", suffixes=("_prog", "_replay"))
    merged = merged.fillna({"n_prog": 0, "n_replay": 0})
    bad = merged[merged["n_prog"] != merged["n_replay"]]
    if len(bad):
        errors.append(f"pattern counts differ from the replay on {len(bad)} of {len(merged)} patterns")
        return errors
    # run_em on the replay's counts, rows in the program's order so the
    # float sums run in the same order
    ordered = prog[GAMMAS].merge(replay_counts, on=GAMMAS, how="left")
    ref = run_em(ordered, total_pairs=total_pairs, u_probabilities=u_input,
                 maxiter=maxiter, levels=levels, lambda_init=lambda_init)
    if not _close(ref.lam, params.lam):
        errors.append(f"fitted lambda {params.lam!r} != replay {ref.lam!r}")
    for g in GAMMAS:
        for lvl, v in ref.m_probabilities[g].items():
            if not _close(v, params.m_probabilities[g][lvl]):
                errors.append(f"m[{g}][{lvl}] {params.m_probabilities[g][lvl]!r} != replay {v!r}")
            if not _close(ref.u_probabilities[g][lvl], params.u_probabilities[g][lvl]):
                errors.append(f"u[{g}][{lvl}] differs from the replay")
    return errors


def components(edges: pd.DataFrame, ids: np.ndarray) -> dict:
    """Min-id connected component of every id (singletons map to
    themselves), by union-find over ``(id_left, id_right)`` edges."""
    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["id_left"].to_numpy(), edges["id_right"].to_numpy()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def check_clusters(program: pd.DataFrame, expected: dict) -> list[str]:
    """Program clusters ``(id, cluster_id)`` partition the records the
    same way as the replayed components (labels may differ)."""
    if len(program) != len(expected) or program["id"].nunique() != len(expected):
        return [f"cluster output has {len(program)} rows for {len(expected)} records"]
    exp = program["id"].map(expected)
    # same partition iff the label maps are a bijection
    pairs = pd.DataFrame({"p": program["cluster_id"].to_numpy(), "e": exp.to_numpy()}).drop_duplicates()
    if pairs["p"].is_unique and pairs["e"].is_unique:
        return []
    return ["clusters differ from the replayed connected components"]


def check_links(response: set, expected: set, request_no: int) -> list[str]:
    if response == expected:
        return []
    return [f"request {request_no}: {len(response - expected)} unexpected and "
            f"{len(expected - response)} missing links"]


# --------------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------------


_PREPARE_SQL = r"""
    with q as (
        select doc_id, text as t from (
            select doc_id, text, string_split_regex(trim(text), '\s+') as words
            from documents)
        where len(words) >= 5
          and list_aggregate(list_transform(words, w -> length(w)), 'sum')
              / cast(greatest(len(words), 1) as double) between 3.0 and 10.0
          and (length(text) - length(replace(replace(text, '#', ''), '…', '')))
              / cast(greatest(length(text), 1) as double) <= 0.1
          and not contains(lower(text), 'lorem ipsum')
          and not contains(text, '{')
    ),
    lines as (
        select doc_id, line, pos, md5(line) as h from (
            select doc_id,
                   unnest(string_split(t, chr(10))) as line,
                   unnest(generate_series(1, len(string_split(t, chr(10))))) as pos
            from q)
    ),
    dup as (select h from lines group by 1 having count(*) > 1),
    kept as (
        select doc_id, line, pos from lines
        where length(line) < 1 or h not in (select h from dup)
    ),
    rebuilt as (
        select q.doc_id,
               coalesce(string_agg(k.line, chr(10) order by k.pos), '') as t2
        from q left join kept k using (doc_id)
        group by q.doc_id
    ),
    nonempty as (select doc_id, t2 from rebuilt where length(trim(t2)) > 0),
    fp as (
        select doc_id, t2,
               md5(regexp_replace(lower(trim(t2)), '\s+', ' ', 'g')) as h
        from nonempty
    ),
    win as (select h, min(doc_id) as keep_id from fp group by h),
    surv as (
        select f.doc_id, f.t2 as text
        from fp f join win w on f.h = w.h and f.doc_id = w.keep_id
    ),
    toks as (
        select doc_id, string_split_regex(lower(trim(text)), '\s+') as tk from surv
    ),
    sh as (
        select doc_id,
               case when len(tk) >= 3 then
                   list_distinct(list_transform(
                       generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')))
               else [array_to_string(tk, ' ')] end as shingles
        from toks
    ),
    x as (select doc_id, unnest(shingles) as s from sh)
    select doc_id,
           cast(('0x' || substr(md5(s), 1, 8)) as bigint) as h1,
           cast(('0x' || substr(md5(s), 9, 8)) as bigint) as h2
    from x
    order by doc_id
"""


def _signatures(hashes: pd.DataFrame, num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """MinHash signatures from per-shingle md5 halves: h_i = (h1 + i*h2)
    mod 2^32, minimum over each document's shingles (the double-hashing
    family of ``operators/dedup.py:minhash_signature``)."""
    ids, starts = np.unique(hashes["doc_id"].to_numpy(), return_index=True)
    h1 = hashes["h1"].to_numpy(dtype=np.int64)
    h2 = hashes["h2"].to_numpy(dtype=np.int64)
    sig = np.empty((len(ids), num_hashes), dtype=np.int64)
    for i in range(num_hashes):
        sig[:, i] = np.minimum.reduceat((h1 + i * h2) % (1 << 32), starts)
    return ids, sig


def _lsh_pairs(sig: np.ndarray, band_size: int, max_bucket: int) -> set:
    """Row-index pairs sharing a band whose bucket holds at most
    ``max_bucket`` documents."""
    pairs: set = set()
    for b in range(sig.shape[1] // band_size):
        _, inv, cnt = np.unique(sig[:, b * band_size:(b + 1) * band_size], axis=0,
                                return_inverse=True, return_counts=True)
        inv = inv.reshape(-1)
        for bucket in np.flatnonzero((cnt >= 2) & (cnt <= max_bucket)):
            members = np.flatnonzero(inv == bucket)
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    pairs.add((int(members[x]), int(members[y])))
    return pairs


def replay_corpus(docs: pd.DataFrame, near: dict) -> dict:
    """Replay of the corpus chain up to near dedup. Returns the ids that
    survive prepare (quality, line and exact dedup), the LSH candidate
    pair count, and the kept ids after near dedup (min id of every
    verified cluster). DuckDB runs the prepare chain, the
    shingling and the md5 digests; numpy folds the digests into
    signatures and bands."""
    con = duckdb.connect()
    try:
        con.execute("set enable_progress_bar = false")
        con.register("documents", docs)
        hashes = con.execute(_PREPARE_SQL).df()
    finally:
        con.close()
    nh = near["num_hashes"]
    ids, sig = _signatures(hashes, nh)
    cand = _lsh_pairs(sig, near["band_size"], near["max_bucket_size"])
    verified = [(int(ids[a]), int(ids[b])) for a, b in cand
                if (sig[a] == sig[b]).sum() / nh >= near["verify_threshold"]]
    edges = pd.DataFrame(verified, columns=["id_left", "id_right"], dtype="int64")
    comp = components(edges, ids)
    kept = {i for i, c in comp.items() if i == c}
    return {"prepared": {int(i) for i in ids}, "candidates": len(cand), "kept": kept}


def check_kept(program_kept: set, replay_kept: set) -> list[str]:
    if program_kept == replay_kept:
        return []
    return [f"kept documents differ from the replay: {len(program_kept - replay_kept)} kept "
            f"wrongly, {len(replay_kept - program_kept)} dropped wrongly"]
