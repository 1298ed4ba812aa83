"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_sec", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the ``noop`` sink (full plan
execution, no driver-side collect of O(pairs) rows). The session comes
from ppack_spark.session.get_spark — AQE on, 48g local heap, shuffle
partitions sized to the core count.

Methodology (round-7 revision — fixes the two false signals the
round-5/6 verdicts traced to the harness itself):

* **min-of-N** — every query runs ``$SPARK_GRAFT_BENCH_ITERS``
  (default 3) iterations and reports the MIN; iterations run as whole
  passes over the group so a query's samples land minutes apart and a
  host-noise window (measured calib swings of 1.0→3.0 within one
  session on this infra) can't inflate all of them.
* **fresh JVM per query group** — queries are hashed into
  ``$SPARK_GRAFT_BENCH_NGROUPS`` (default 8) STABLE groups
  (crc32 of the query name, ordered by name within a group) and each
  group runs in its own subprocess/SparkSession. Round 6 measured
  in-session aging inflating late queries 2-3x vs fresh-session runs
  of the identical code (threshold_topk 10.9s in-session vs 4.6s
  fresh); bounding a session to ~15 queries keeps every sample within
  the same-code spread. Hash assignment (round 9) replaces the old
  contiguous roster chunking: chunking re-packed EVERY group whenever
  the roster grew, so which queries share a JVM changed round to
  round — the round-8 verdict traced a 1.2-1.4x FS-spine drift to
  exactly that (5 new roster entries shifted the heavy linkage gates
  into different groups). With name-hashed groups, adding a query
  perturbs only the one FIRST-LEVEL group it hashes into — but if
  that group is oversized, the second-level sub-split's bucket count
  depends on group size, so co-residency inside that one group can
  still reshuffle when the addition crosses a size bracket (see the
  sub-split stability caveat at the `_split` definition below).
* **quarantined stderr** — the driver's tail capture merges stdout
  and stderr, so a JVM stack trace (task retry, benign) could bury
  the metric line or mask a real failure. Child stderr is captured by
  the parent: lines the harness itself emits (prefixed ``bench:``)
  are forwarded, everything else goes to ``BENCH_stderr.log`` only.
  The metric line is the LAST stdout write of the parent.
* **self-adjudicating outliers (round-14 revision)** — r11 and r13
  both shipped artifacts whose headline numbers were host-window
  noise (threshold_topk read 43.5 s in a calib-1.2-2.6 window vs
  4.7 s clean at the same HEAD), each costing a round of post-hoc
  adjudication memos. Now any gate whose in-group min reads > 1.5×
  its recorded clean minimum (``BENCH_MINS.json``, min over all
  committed runs; refresh with ``tools/update_bench_mins.py``) is
  automatically RE-MEASURED in its own solo JVM, min-of-iters, and
  BOTH numbers land in the artifact (``requeried``: in_group / solo
  / hist_min / the solo window's calib); the reported time is the
  min of the two. A dirty window can no longer ship as the round's
  number, and a real regression reproduces in the solo read. At most
  ``$SPARK_GRAFT_BENCH_MAX_REQUERY`` (default 10) gates re-measure,
  worst absolute excess first; skipped candidates are listed in
  ``requery_skipped``.

Ownership: ``BENCH_local.json`` (full 3-decimal detail) belongs to
the MOST RECENT full-roster run — the driver's per-round bench
overwrites it and the round-close commit records it. Builders must
not expect their own run to survive there: stamp anything worth
keeping into BASELINE.md (the per-round delta section) at round
close. Debug runs (``SPARK_GRAFT_BENCH_ONLY``) write
``BENCH_only.json`` and never touch either.

Full detail (3-decimal mins, warm spread, per-group calibration) goes
to ``BENCH_local.json`` next to this file; the printed line is compact
(the round-4 line outgrew the driver's ~2000-char tail window and the
round's numbers were lost).

Cross-round comparison: divide by ``calib_s`` (single-core Python
yardstick, median of per-group samples) before reading any number
against another round — per-core host speed differs round to round.
``tools/compare_bench.py`` does this.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# The headline set: the full linkage pipeline (the reference's actual
# workload), the relational surface, and the training-data-pipeline
# operators. Sub-second queries are included for regression tracking
# even though they mostly measure Spark fixed overhead at sf0.1.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "segment_revenue",
    "top_orders_per_customer",
    "events_window_agg",
    "events_sliding_window",
    "events_rollup",
    "events_sessionize",
    "events_asof_join",
    "events_asof_forward",
    "events_asof_tolerance",
    "events_range_join",
    "events_value_quantiles",
    "events_trailing_agg",
    "events_anomaly_flags",
    "profile_columns",
    "distinct_sketch_merge",
    "events_funnel",
    "events_cohort_retention",
    "blocking_multi_pass",
    "blocking_salted_pass",
    "blocking_multi_pass_scaled",
    "comparison_vectors_scaled",
    "match_weight_scoring_scaled",
    "blocking_estimate_scaled",
    "jw_scaled_buckets",
    "blocking_pass_counts",
    "blocking_estimate",
    "two_dataset_linkage",
    "two_dataset_linkage_scaled",
    "blocking_estimate_ab",
    "blocking_spec_choice",
    "threshold_sweep",
    "linkage_eval_report",
    "linkage_eval_report_scaled",
    "snm_pairs",
    "ari_quality",
    "cluster_size_histogram",
    "psi_drift_report",
    "psi_cat_drift_report",
    "ks_drift_report",
    "bcubed_quality",
    "best_threshold",
    "key_skew_report",
    "jw_comparator_buckets",
    "comparison_vectors",
    "match_weight_scoring",
    "threshold_rank",
    "posterior_probability",
    "calibration_curve",
    "dedup_exact",
    "simhash_fingerprints",
    "token_stats",
    "tfidf_top_terms",
    "doc_fingerprints",
    "minhash_lsh_pairs",
    "simhash_near_dup",
    "simhash_near_dup_banded",
    "simhash_near_dup_capped",
    "simhash_near_dup_wide64",
    "phash_near_dup_banded",
    "linkage_ab_clusters",
    "linkage_ab_clusters_scaled",
    "dedup_clusters",
    "dedup_clusters_adaptive",
    "media_metadata",
    "media_phash_near_dup",
    "media_near_dedup",
    "ngram_jaccard_pairs",
    "tfidf_cosine_pairs",
    "embedding_cosine_topk",
    "embedding_near_dup",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk_scan",
    "ann_ivfpq_topk_scan",
    "ann_recall_report",
    "threshold_topk",
    "eval_decontamination",
    "bloom_decontamination",
    "dedup_keep_first",
    "dedup_keep_best",
    "salted_join_orders",
    "sample_uniform_hash",
    "sample_stratified_quota",
    "weighted_sample",
    "stratified_topk",
    "curriculum_order",
    "sequence_packing",
    "pii_stats",
    "script_fractions",
    "line_dedup_corpus",
    "url_dedup",
    "url_host_report",
    "repetition_signals",
    "top_term_coverage",
    "quality_classifier_score",
    "lm_quality_score",
    "lm_bigram_score",
    "lm_interp_score",
    "lm_ref_score",
    "lm_perplexity_buckets",
    "dsir_importance",
    "minhash_jaccard_est",
    "corpus_data_card",
    "temperature_mix",
    "budget_mix",
    "quantile_length_filter",
    "corpus_delta_merge",
    "repeated_spans",
    "remove_repeated_spans",
    "quality_filter_flags",
    "corpus_pipeline_e2e",
    "corpus_stage_report",
    "corpus_stage_report_reuse",
    "trainer_export_e2e",
    "near_dedup_corpus",
    "near_dedup_keep_best",
    "dup_rate_report",
    "corpus_split_leakage_safe",
    "minhash_lsh_pairs_capped",
    "minhash_lsh_pairs_wide",
    "near_dedup_corpus_wide",
    "semantic_dedup",
    "corpus_shuffle",
    "doc_chunks",
    "corpus_upsample",
    "zorder_layout",
    "minhash_lsh_pairs_ab",
    "corpus_delta_merge_fuzzy",
    "corpus_split",
    "bm25_search",
    "host_boilerplate",
    "jaccard_prefix_pairs",
    "heavy_hitters",
    "k_anonymity_report",
    "k_anonymity_suppress",
    "expectation_report",
    "fk_orphans",
    "corpus_diff",
    "join_size_estimate",
    "ann_ivf_append",
    # round-13: mergeable-sketch family (HLL / CMS / histogram
    # quantiles), link-graph family (fixed-iteration PageRank, degree
    # census), embedding curation (cluster-balanced sample,
    # hard-negative mining)
    "hll_cardinality",
    "cms_frequency",
    "histogram_quantiles",
    "host_pagerank",
    "link_degree_report",
    "cluster_balanced_sample",
    "hard_negative_topk",
    # round-14: KLL-style quantile sketch (no range contract),
    # personalized PageRank, authority-weighted corpus mixing
    "kll_quantiles",
    "host_pagerank_seeded",
    "host_authority_mix",
    # late-r14: HITS, TF-adjusted scoring, t-closeness, span decon
    "host_hits",
    "tf_adjusted_scoring",
    "t_closeness_report",
    "span_decontamination",
    "span_decontaminated_corpus",
    "supervised_mu",
    "host_triangles",
]


def _load_hist_mins() -> dict[str, float]:
    """Per-gate clean minimum seconds from ``BENCH_MINS.json`` (the
    committed cross-round record; see module docstring). Missing or
    unreadable file → no adjudication reference → no re-measures."""
    try:
        with open(os.path.join(REPO, "BENCH_MINS.json")) as f:
            raw = json.load(f)
        return {k: float(v) for k, v in raw.items() if float(v) > 0}
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        return {}


def _calib() -> float:
    """Single-core Python yardstick (~1s nominal); pins a sample of
    wall-clock to hardware speed at that moment."""
    t0 = time.monotonic()
    acc = 0
    for i in range(20_000_000):
        acc += i * i
    assert acc >= 0
    return round(time.monotonic() - t0, 2)


def _force(df) -> None:
    """Execute the whole plan without materializing rows on the driver."""
    df.write.format("noop").mode("overwrite").save()


def _child_main(names: list[str], out_path: str) -> None:
    """Run one query group in THIS process's own fresh SparkSession.

    Emits ``bench:``-prefixed progress markers on stderr (the parent
    forwards these; everything else a JVM writes stays quarantined)
    and writes the group's result JSON to ``out_path``.
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = max(int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")), 1)

    calib_samples = [_calib()]
    from ppack_spark.session import get_spark

    spark = get_spark("ppack_spark_bench")
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    samples: dict[str, list[float]] = {n: [] for n in names}
    failed: list[str] = []
    for _ in range(iters):
        for name in names:
            fn = queries.get(name)
            if fn is None or name in failed:
                continue
            # progress marker BEFORE the run: when a query wedges the
            # session, the last forwarded stderr line names the culprit
            print(f"bench: running {name}", file=sys.stderr, flush=True)
            try:
                t0 = time.monotonic()
                _force(fn(spark, sf_dir))
                samples[name].append(time.monotonic() - t0)
            except Exception as exc:
                print(f"bench: {name} failed: {exc!r}", file=sys.stderr, flush=True)
                failed.append(name)
    calib_samples.append(_calib())
    spark.stop()
    result = {
        "samples": {n: [round(s, 3) for s in v] for n, v in samples.items()},
        "failed": failed,
        "calib": calib_samples,
    }
    with open(out_path, "w") as f:
        json.dump(result, f)


def _run_group(names: list[str], out_path: str, log_fh) -> dict:
    """Spawn a fresh interpreter+JVM for one group; quarantine stderr.

    Harness-emitted lines (``bench:`` prefix) are forwarded to our
    stderr so a wedge still names itself in the driver tail; raw JVM
    output (log4j, stack traces from benign task retries) goes to
    BENCH_stderr.log only.
    """
    # a stale result file from a previously crashed/killed run must
    # not be reported as this child's output: missing-or-partial is
    # the only legal post-kill state
    try:
        os.remove(out_path)
    except OSError:
        pass
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--group-child", out_path]
        + names,
        stderr=subprocess.PIPE,
        stdout=log_fh,
        cwd=REPO,
        text=True,
    )

    def _pump() -> None:
        for line in proc.stderr:
            log_fh.write(line)
            if line.startswith("bench:"):
                print(line, end="", file=sys.stderr, flush=True)
        log_fh.flush()

    t = threading.Thread(target=_pump, daemon=True)
    t.start()
    # A wedged query in the child JVM must not hang the whole bench:
    # kill the group on expiry and record its queries as failed so the
    # run still emits its tail metric line.
    group_timeout = float(os.environ.get("SPARK_GRAFT_BENCH_GROUP_TIMEOUT", "900"))
    try:
        proc.wait(timeout=group_timeout)
    except subprocess.TimeoutExpired:
        print(
            f"bench: group TIMEOUT after {group_timeout:.0f}s "
            f"({names[0]}..) — killing child",
            file=sys.stderr,
            flush=True,
        )
        proc.kill()
        proc.wait()
    t.join(timeout=30)
    try:
        with open(out_path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        print(
            f"bench: group crashed rc={proc.returncode} ({names[0]}..)",
            file=sys.stderr,
            flush=True,
        )
        return {"samples": {n: [] for n in names}, "failed": names, "calib": []}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    iters = max(int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")), 1)
    n_groups = max(int(os.environ.get("SPARK_GRAFT_BENCH_NGROUPS", "8")), 1)

    # debugging aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    bench_queries = (
        [q for q in BENCH_QUERIES if q in set(only.split(","))]
        if only
        else BENCH_QUERIES
    )
    # STABLE group assignment: crc32(name) % n_groups, name-sorted
    # within a group. A query's JVM co-residents no longer change when
    # unrelated roster entries are added (the module docstring's
    # round-8 drift lesson); empty groups are skipped.
    import zlib

    by_group: dict[int, list[str]] = {}
    for q in bench_queries:
        by_group.setdefault(zlib.crc32(q.encode()) % n_groups, []).append(q)
    # Sub-split oversized groups: the ~16-query in-session-aging bound
    # (round-6 lesson) must hold regardless of roster size or crc32
    # skew, so any group past the bound splits deterministically on a
    # second-level crc32 (salted name). Stability caveat (ADVICE r10):
    # only the FIRST-level split depends purely on the name — a
    # sub-bucket also depends on nsub = ceil(group_size / max_group),
    # so a roster addition hashing into the same first-level group can
    # reshuffle that group's sub-buckets whenever it crosses a size
    # bracket. Bounded blast radius (one group), not zero; read
    # cross-round drifts in oversized groups with that in mind.
    max_group = max(int(os.environ.get("SPARK_GRAFT_BENCH_MAXGROUP", "16")), 1)
    def _split(names: list[str], depth: int = 1) -> list[list[str]]:
        if len(names) <= max_group or depth > 8:
            return [names]
        nsub = -(-len(names) // max_group)
        sub: dict[int, list[str]] = {}
        for q in names:
            sub.setdefault(zlib.crc32(f"{q}#sub{depth}".encode()) % nsub, []).append(q)
        if len(sub) == 1:  # degenerate hash collision — try next salt
            return _split(names, depth + 1)
        out: list[list[str]] = []
        for k in sorted(sub):
            out.extend(_split(sub[k], depth + 1))
        return out
    groups = [
        sorted(part)
        for g in sorted(by_group)
        for part in _split(sorted(by_group[g]))
    ]
    samples: dict[str, list[float]] = {}
    failed: set[str] = set()
    calib_samples: list[float] = []
    gcalib: dict[str, list[float]] = {}
    requeried: dict[str, dict] = {}
    requery_skipped: list[str] = []
    log_path = os.path.join(REPO, "BENCH_stderr.log")
    with open(log_path, "w") as log_fh:
        for gi, names in enumerate(groups):
            print(
                f"bench: group {gi + 1}/{len(groups)} ({len(names)} queries, fresh JVM)",
                file=sys.stderr,
                flush=True,
            )
            log_fh.write(f"===== group {gi + 1}/{len(groups)}: {names}\n")
            res = _run_group(names, os.path.join(REPO, f".bench_group_{gi}.json"), log_fh)
            samples.update(res["samples"])
            failed.update(res["failed"])
            calib_samples.extend(res.get("calib", []))
            for q in names:
                gcalib[q] = res.get("calib", [])
            try:
                os.remove(os.path.join(REPO, f".bench_group_{gi}.json"))
            except OSError:
                pass
        # ---- outlier self-adjudication (module docstring, round 14):
        # any gate > 1.5x its recorded clean minimum re-measures in a
        # solo JVM; both readings ship in the artifact.
        if not only:
            hist = _load_hist_mins()
            cands = []
            for q, ss in samples.items():
                if not ss or q in failed:
                    continue
                h = hist.get(q)
                m = min(ss)
                # 0.75s absolute floor: sub-second gates drifting by
                # fixed-overhead jitter don't earn a JVM
                if h is not None and m > 1.5 * h and (m - h) > 0.75:
                    cands.append((m - h, q, m, h))
            cands.sort(reverse=True)
            maxrq = max(
                int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REQUERY", "10")), 0
            )
            requery_skipped = [q for _, q, _, _ in cands[maxrq:]]
            rq_path = os.path.join(REPO, ".bench_requery.json")
            for _, q, m, h in cands[:maxrq]:
                print(
                    f"bench: requery {q} (in-group {m:.2f}s vs clean min"
                    f" {h:.2f}s) — solo JVM min-of-{iters}",
                    file=sys.stderr,
                    flush=True,
                )
                log_fh.write(f"===== requery (solo JVM): {q}\n")
                res = _run_group([q], rq_path, log_fh)
                ss = res["samples"].get(q) or []
                solo = round(min(ss), 3) if ss else None
                requeried[q] = {
                    "in_group": round(m, 3),
                    "solo": solo,
                    "hist_min": round(h, 3),
                    "group_calib": gcalib.get(q, []),
                    "solo_calib": res.get("calib", []),
                }
                if solo is not None:
                    samples[q] = sorted(samples[q] + ss)
            try:
                os.remove(rq_path)
            except OSError:
                pass
    # headline calib = median of per-group samples (host speed swings
    # in multi-minute windows; one parent-side sample can land in a
    # slow window and mislabel the whole run)
    calib_sorted = sorted(calib_samples) or [_calib()]
    calib_s = round(calib_sorted[len(calib_sorted) // 2], 2)

    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if name in failed:
            times[name] = -1.0
        elif samples.get(name):
            times[name] = round(min(samples[name]), 3)
            warm = sorted(samples[name])[:-1] or samples[name]
            spread[name] = round(max(warm) - min(warm), 3)

    # optional: time the DuckDB oracle SQL for each benched query on the
    # same parquet (SPARK_GRAFT_BENCH_ORACLE=1) — the per-query
    # Spark/DuckDB ratio at the same SF, measured not guessed
    oracle_times: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ORACLE"):
        import duckdb

        import __spark_entry__ as entry_mod

        con = duckdb.connect()
        con.execute(f"set threads to {os.cpu_count()}")
        for tname in entry_mod.TABLES if hasattr(entry_mod, "TABLES") else [
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ]:
            con.execute(
                f"create view {tname} as select * from "
                f"read_parquet('{sf_dir}/{tname}.parquet')"
            )
        oracles = entry_mod.oracle_sql()
        for name in BENCH_QUERIES:
            sql = oracles.get(name)
            if sql is None:
                continue
            osamples = []
            try:
                for _ in range(iters):
                    t0 = time.monotonic()
                    # CTAS, not count(*): count lets DuckDB prune every
                    # expensive projected expression (a first run timed
                    # the 26M-pair JW oracle at 0.089s because the JW
                    # column was never computed) — materializing into a
                    # temp table forces full evaluation engine-side
                    # without client transfer, the closest analog of
                    # Spark's noop sink
                    con.execute(
                        "create or replace temporary table __bench_probe"
                        f" as select * from ({sql})"
                    )
                    osamples.append(time.monotonic() - t0)
                con.execute("drop table if exists __bench_probe")
                oracle_times[name] = round(min(osamples), 3)
            except Exception as exc:
                print(f"bench: oracle {name} failed: {exc!r}", file=sys.stderr)

    total = round(sum(v for v in times.values() if v >= 0), 3)
    extra = {"oracle": oracle_times} if oracle_times else {}
    if requeried:
        extra["requeried"] = requeried
    if requery_skipped:
        extra["requery_skipped"] = requery_skipped
    detail = {
        "metric": "total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "iters": iters,
        "n_groups": n_groups,
        "groups": groups,
        "calib_s": calib_s,
        "calib_samples": calib_samples,
        "spread": spread,
        **extra,
    }
    # BENCH_ONLY debugging runs write a scratch file: overwriting the
    # full-roster BENCH_local.json with a 1-query artifact silently
    # destroys the round's detailed record (it burned round 13 — the
    # post-bench solo adjudication reruns clobbered the file before it
    # was committed).
    out_name = "BENCH_only.json" if only else "BENCH_local.json"
    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")
    sys.stderr.flush()
    # compact single line, emitted last — must fit the driver's
    # 2000-char stdout tail capture in ONE piece (the round-4 line
    # outgrew it and the round's numbers were lost). Precision adapts
    # to the query count: 2 decimals normally, 1 decimal if the line
    # would run long, and as a last resort sub-0.1s queries collapse
    # into a single "_fast_total" entry. Full 3-decimal detail is
    # always in BENCH_local.json.
    def _line(qmap: dict[str, float], digits: int) -> str:
        return json.dumps(
            {
                "metric": "total_sec",
                "value": round(total, 2),
                "unit": "sec",
                "queries": {k: round(v, digits) for k, v in qmap.items()},
                "sf": sf,
                "iters": iters,
                "calib_s": calib_s,
                **({"requeried": len(requeried)} if requeried else {}),
            },
            separators=(",", ":"),
        )

    out = _line(times, 2)
    if len(out) > 1900:
        out = _line(times, 1)
    # collapse fast queries into one "_fast_total" entry, raising the
    # cutoff until the line fits; failed queries (-1) are always kept
    for cutoff in (0.1, 0.2, 0.5, 1.0, 2.0):
        if len(out) <= 1900:
            break
        slow = {k: v for k, v in times.items() if v >= cutoff or v < 0}
        slow["_fast_total"] = round(
            sum(v for v in times.values() if 0 <= v < cutoff), 1
        )
        out = _line(slow, 1)
    if len(out) > 1900:  # last resort: top-40 slowest + remainder
        top = dict(
            sorted(times.items(), key=lambda kv: -kv[1])[:40]
        )
        top["_rest_total"] = round(
            sum(v for k, v in times.items() if k not in top and v >= 0), 1
        )
        out = _line(top, 1)
    print(out, flush=True)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--group-child":
        _child_main(sys.argv[3:], sys.argv[2])
    else:
        main()
