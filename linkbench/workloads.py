"""The three workloads: set-up, timed run, output checks, traced run.

Each ``run_*`` function takes a :class:`Run` (session, seed, run length,
tracer) and fills ``run.metrics`` and ``run.errors``. The untraced path
calls the ``ppack_spark`` API the way a user would. With ``run.trace`` it
is followed by a traced job that forces each layer's output under its own
span, so per-layer time and Spark counters can be read (see ``spans.py``),
and by one more warm untraced job, the baseline of the tracing overhead.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import oracle
from spans import COUNTER_UNITS, Tracer

# ---- sizes ---------------------------------------------------------------
DEDUP_ENTITIES = 10_000      # ~20k records
LINK_REFERENCE = 30_000
LINK_POOL = 48               # distinct request batches generated per run
LINK_WARMUP = 3              # requests sent after set-up and discarded
LINK_MIN_REQUESTS = 3
CORPUS_DOCS = 1_500

# ---- model and pipeline settings ----------------------------------------
U_SAMPLE = 100_000
EM_MAXITER = 20
LAMBDA_INIT = 1e-7
CLUSTER_THRESHOLD = 5.0
LINK_THRESHOLD = 0.0
NEAR = {"num_hashes": 128, "band_size": 8, "verify_threshold": 0.6, "max_bucket_size": 200}
CHUNK = {"chunk_tokens": 64}
PACK = {"budget": 512, "n_buckets": 16}


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    trace: bool
    session_start_s: float
    tracer: Tracer | None = None
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    errors: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    tail_info: tuple = ()
    traced_s: float = 0.0

    def op(self, errors: list[str]) -> None:
        """Count one operation; it fails if its output check failed."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)


# ---- shared helpers ------------------------------------------------------


def linker_spec():
    import ppack_spark as pp

    return pp.LinkerSpec(
        "id", "id",
        blocking_rules=[
            pp.BlockingRule.on("dob"),
            pp.BlockingRule.where(
                "postcode_left = postcode_right"
                " and substr(first_left, 1, 1) = substr(first_right, 1, 1)"),
            pp.BlockingRule.where(
                "last_left = last_right"
                " and substr(first_left, 1, 2) = substr(first_right, 1, 2)"),
        ],
        comparisons=[
            pp.Comparison.jw("first"),
            pp.Comparison.jw("last"),
            pp.Comparison.exact("dob"),
            pp.Comparison.exact("city"),
            pp.Comparison.levenshtein("postcode"),
        ],
    )


def load(spark, pdf: pd.DataFrame):
    """Resident frame from generated rows: the set-up a user pays."""
    df = spark.createDataFrame(pdf).cache()
    df.count()
    return df


def timed_load(run: Run, pdf: pd.DataFrame):
    """Load once, as a user does; return the frame and the load time."""
    t = time.perf_counter()
    df = load(run.spark, pdf)
    return df, time.perf_counter() - t


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would lie under
    the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n < 21:
        return v[-1], 100.0
    k = n - 11  # ten samples lie above index k
    return v[k], 100.0 * (k + 1) / n


def f1(tp: float, predicted: float, actual: float) -> float:
    if tp == 0:
        return 0.0
    p, r = tp / predicted, tp / actual
    return 2 * p * r / (p + r)


def latency_metrics(run: Run, times: list[float], records: int, wall: float, label: str) -> None:
    value, pct = tail(times)
    run.metrics["records_per_s"] = (records / wall, "1/s")
    run.metrics["request_p50_s"] = (statistics.median(times), "s")
    run.metrics["request_tail_s"] = (value, "s")
    run.notes.append(f"request_tail_s is p{pct:.0f} of {len(times)} {label}: "
                     + " ".join(f"{t:.2f}" for t in times))
    run.tail_info = (pct, len(times))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def counters(run: Run, span, name: str) -> None:
    for c, unit in COUNTER_UNITS.items():
        run.metrics[f"{name}.{c}"] = (span.counters[c], unit)


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this process."""
    import resource

    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _repeat(run: Run, job, min_runs: int = 1) -> list[float]:
    """Run ``job`` until the next run would end past ``run.seconds``
    (at least ``min_runs`` times); return each run's wall time."""
    times: list[float] = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        job(len(times))
        times.append(time.perf_counter() - t)
        elapsed = time.perf_counter() - t0
        if len(times) >= min_runs and elapsed + statistics.median(times) > run.seconds:
            return times


# ---- dedup_batch ---------------------------------------------------------


def run_dedup_batch(run: Run) -> None:
    import ppack_spark as pp

    records, entity = gen.persons(run.seed, DEDUP_ENTITIES)
    df, load_s = timed_load(run, records)
    run.metrics["setup_s"] = (run.session_start_s + load_s, "s")
    spec = linker_spec()
    n = len(records)
    total_pairs = n * n / 2.0

    replay = oracle.replay_comparisons(records, None)
    replay_counts = oracle.pattern_table(replay)
    levels = spec.comparator_levels()
    out: list = []

    def job(k: int):
        lk = pp.Linker(run.spark, df, None, spec)
        u = lk.estimate_u(size=U_SAMPLE, seed=42 + run.seed)
        params = lk.estimate(maxiter=EM_MAXITER, u_probabilities=u, lambda_init=LAMBDA_INIT)
        noop(lk.score())
        clusters = lk.cluster(threshold=CLUSTER_THRESHOLD).select("id", "cluster_id").toPandas()
        out.append((u, params, clusters))

    times = _repeat(run, job)
    for u, params, clusters in out:
        run.op(_check_dedup(replay, replay_counts, u, params, clusters, total_pairs, levels, records))
    _, params, clusters = out[0]
    latency_metrics(run, times, n, statistics.median(times), "jobs")
    run.metrics["quality.match_f1"] = (_cluster_f1(clusters, entity), "share")

    if run.trace:
        _trace_dedup(run, df, records, spec, replay, replay_counts, entity, total_pairs, levels)
        # untraced baseline for the overhead, run warm like the traced job
        t = time.perf_counter()
        job(len(out))
        run.metrics["trace.overhead_s"] = (run.traced_s - (time.perf_counter() - t), "s")
        u, params, clusters = out[-1]
        run.op(_check_dedup(replay, replay_counts, u, params, clusters, total_pairs, levels,
                            records))


def _check_dedup(replay, replay_counts, u, params, clusters, total_pairs, levels, records):
    errors = oracle.check_fit(params.pattern_posteriors, replay_counts, params, u,
                              total_pairs, EM_MAXITER, levels, LAMBDA_INIT)
    w = oracle.weights(replay, params)
    edges = replay.loc[w > CLUSTER_THRESHOLD, ["id_left", "id_right"]]
    expected = oracle.components(edges, records["id"].to_numpy())
    errors += oracle.check_clusters(clusters, expected)
    return errors


def _cluster_f1(clusters: pd.DataFrame, entity: pd.Series) -> float:
    c = pd.DataFrame({"c": clusters["cluster_id"].to_numpy(),
                      "e": entity.loc[clusters["id"].to_numpy()].to_numpy()})

    def pairs(sizes) -> float:
        s = np.asarray(sizes, dtype=float)
        return float((s * (s - 1) / 2).sum())

    tp = pairs(c.groupby(["c", "e"]).size())
    return f1(tp, pairs(c.groupby("c").size()), pairs(c.groupby("e").size()))


def _true_pair_stats(replay: pd.DataFrame, entity: pd.Series) -> tuple[float, float]:
    same = (entity.loc[replay["id_left"].to_numpy()].to_numpy()
            == entity.loc[replay["id_right"].to_numpy()].to_numpy())
    sizes = entity.value_counts().to_numpy(dtype=float)
    all_true = float((sizes * (sizes - 1) / 2).sum())
    return float(same.sum()) / all_true, float(same.mean()) if len(same) else 0.0


def _trace_dedup(run, df, records, spec, replay, replay_counts, entity, total_pairs, levels):
    import ppack_spark as pp

    tr = run.tracer
    m = run.metrics
    lk = pp.Linker(run.spark, df, None, spec)
    with tr.span("job") as job:
        with tr.span("blocking") as blocking:
            cand = lk.candidate_pairs().count()
        with tr.span("pairs") as pairs:
            noop(lk.pairs_dataset())
        with tr.span("estimate_u") as est_u:
            u = lk.estimate_u(size=U_SAMPLE, seed=42 + run.seed)
        with tr.span("patterns") as patterns:
            counts = lk.pattern_counts().toPandas()
        # the comparison vectors alone: the upstream work scoring re-executes
        with tr.span("comparisons") as comparisons:
            noop(lk.comparisons())
        with tr.span("em") as em:
            params = pp.run_em(counts, total_pairs=total_pairs, u_probabilities=u,
                               maxiter=EM_MAXITER, levels=levels, lambda_init=LAMBDA_INIT)
        lk.params = params
        with tr.span("scoring") as scoring:
            from pyspark.sql import functions as F

            row = lk.score().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("weight") > CLUSTER_THRESHOLD).cast("long")).alias("above"),
            ).collect()[0]
        with tr.span("cluster") as cluster:
            clusters = lk.cluster(threshold=CLUSTER_THRESHOLD).select("id", "cluster_id").toPandas()

    errors = [] if cand == len(replay) else [f"{cand} candidate pairs, replay has {len(replay)}"]
    if row["n"] != len(replay):
        errors.append(f"scored {row['n']} pairs, replay has {len(replay)}")
    errors += _check_dedup(replay, replay_counts, u, params, clusters, total_pairs, levels,
                           records)
    run.op(errors)

    completeness, match_share = _true_pair_stats(replay, entity)
    sizes = clusters.groupby("cluster_id").size()
    m["blocking.exec_s"] = (blocking.seconds, "s")
    m["blocking.candidate_pairs"] = (cand, "count")
    m["blocking.pair_completeness"] = (completeness, "share")
    m["blocking.match_share"] = (match_share, "share")
    m["pairs.exec_s"] = (pairs.seconds - blocking.seconds, "s")
    m["patterns.exec_s"] = (patterns.seconds - pairs.seconds, "s")
    m["patterns.pattern_rows"] = (len(counts), "count")
    m["linker.estimate_u_s"] = (est_u.seconds, "s")
    m["em.run_s"] = (em.seconds, "s")
    m["em.iterations"] = (len(params.history), "count")
    m["em.lambda"] = (params.lam, "share")
    m["em.final_delta_m"] = (params.history[-1]["max_delta_m"], "share")
    m["scoring.exec_s"] = (scoring.seconds - comparisons.seconds, "s")
    m["scoring.pairs_above_threshold"] = (row["above"], "count")
    m["cluster.exec_s"] = (cluster.seconds - scoring.seconds, "s")
    m["cluster.edges"] = (row["above"], "count")
    m["cluster.components"] = (int((sizes > 1).sum()), "count")
    for name, sp in (("blocking", blocking), ("pairs", pairs), ("patterns", patterns),
                     ("estimate_u", est_u), ("scoring", scoring), ("cluster", cluster)):
        counters(run, sp, name)
    run.traced_s = job.seconds


# ---- link_requests -------------------------------------------------------


def run_link_requests(run: Run) -> None:
    import ppack_spark as pp

    inputs = gen.link_requests(run.seed, LINK_REFERENCE, LINK_POOL)
    pool = pd.concat(inputs.requests, ignore_index=True)
    spec = linker_spec()
    ref, load_s = timed_load(run, inputs.reference)
    # fit once on all request records against the reference; the same
    # linker's scored output is the bulk link every response is checked
    # against
    t = time.perf_counter()
    pool_df = load(run.spark, pool)
    bulk_linker = pp.Linker(run.spark, pool_df, ref, spec)
    with run.tracer.span("estimate_u") as est_u:
        u = bulk_linker.estimate_u(size=U_SAMPLE, seed=42 + run.seed)
    params = bulk_linker.estimate(maxiter=EM_MAXITER, u_probabilities=u,
                                  lambda_init=LAMBDA_INIT)
    fit_s = time.perf_counter() - t
    run.metrics["setup_s"] = (run.session_start_s + load_s + fit_s, "s")
    bulk = bulk_linker.score(threshold=LINK_THRESHOLD).select("id_left", "id_right").toPandas()
    bulk_by_req = {}
    for a, b in zip(bulk["id_left"], bulk["id_right"]):
        bulk_by_req.setdefault(int(a), set()).add((int(a), int(b)))

    # the bulk link is itself checked: the replayed candidates scoring
    # above the threshold under the fitted parameters
    replay = oracle.replay_comparisons(pool, inputs.reference)
    links = {(int(a), int(b)) for a, b in zip(bulk["id_left"], bulk["id_right"])}
    above = replay[oracle.weights(replay, params) > LINK_THRESHOLD]
    run.op(oracle.check_links(links, set(zip(above["id_left"].tolist(), above["id_right"].tolist())),
                              -1))

    plan_s, exec_s = [], []

    def request(k: int):
        batch = inputs.requests[k % len(inputs.requests)]
        t0 = time.perf_counter()
        lk = pp.Linker(run.spark, run.spark.createDataFrame(batch), ref, spec)
        lk.params = params
        q = lk.score(threshold=LINK_THRESHOLD).select("id_left", "id_right")
        t1 = time.perf_counter()
        rows = q.collect()
        t2 = time.perf_counter()
        plan_s.append(t1 - t0)
        exec_s.append(t2 - t1)
        expected = set().union(*(bulk_by_req.get(int(i), set()) for i in batch["id"]))
        run.op(oracle.check_links({(r[0], r[1]) for r in rows}, expected, k))

    # warm the request path outside the timed loop; the loop then sends
    # the batches the warm-up did not
    warm = []
    for k in range(LINK_WARMUP):
        t0 = time.perf_counter()
        request(k)
        warm.append(time.perf_counter() - t0)
    run.notes.append("warm-up requests, not timed: " + " ".join(f"{t:.2f}" for t in warm))
    del plan_s[:], exec_s[:]
    t0 = time.perf_counter()
    times = _repeat(run, lambda k: request(LINK_WARMUP + k), min_runs=LINK_MIN_REQUESTS)
    wall = time.perf_counter() - t0
    latency_metrics(run, times, gen.REQUEST_BATCH * len(times), wall, "requests")
    run.metrics["quality.match_f1"] = (f1(len(links & inputs.truth), len(links), len(inputs.truth)),
                                       "share")

    if run.trace:
        _trace_link(run, inputs, ref, spec, params, replay, statistics.median(times))
        run.metrics["linker.estimate_u_s"] = (est_u.seconds, "s")
        counters(run, est_u, "estimate_u")
        run.metrics["request.plan_s"] = (statistics.median(plan_s), "s")
        run.metrics["request.exec_s"] = (statistics.median(exec_s), "s")


def _trace_link(run, inputs, ref, spec, params, replay, untraced_s):
    import ppack_spark as pp

    tr = run.tracer
    m = run.metrics
    batch = inputs.requests[0]
    t0 = time.perf_counter()
    with tr.span("request") as req:
        lk = pp.Linker(run.spark, run.spark.createDataFrame(batch), ref, spec)
        lk.params = params
        lk.score(threshold=LINK_THRESHOLD).select("id_left", "id_right").collect()
    traced_s = time.perf_counter() - t0
    # per-layer spans on the same request; each forces one layer's output
    with tr.span("blocking") as blocking:
        cand = lk.candidate_pairs().count()
    with tr.span("pairs") as pairs:
        noop(lk.pairs_dataset())
    with tr.span("patterns") as patterns:
        noop(lk.comparisons())
    with tr.span("scoring") as scoring:
        above = lk.score(threshold=LINK_THRESHOLD).count()
    ids = set(int(i) for i in batch["id"])
    expected = int(replay["id_left"].isin(ids).sum())
    run.op([] if cand == expected else [f"request 0: {cand} candidate pairs, replay has {expected}"])
    m["request.stages"] = (req.stages, "count")
    m["request.samples"] = (run.tail_info[1], "count")
    m["request.tail_pct"] = (run.tail_info[0], "pct")
    m["blocking.exec_s"] = (blocking.seconds, "s")
    m["blocking.candidate_pairs"] = (cand, "count")
    m["pairs.exec_s"] = (pairs.seconds - blocking.seconds, "s")
    m["patterns.exec_s"] = (patterns.seconds - pairs.seconds, "s")
    m["scoring.exec_s"] = (scoring.seconds - patterns.seconds, "s")
    m["scoring.pairs_above_threshold"] = (above, "count")
    for name, sp in (("request", req), ("blocking", blocking), ("pairs", pairs),
                     ("patterns", patterns), ("scoring", scoring)):
        counters(run, sp, name)
    m["trace.overhead_s"] = (traced_s - untraced_s, "s")


# ---- corpus_dedup --------------------------------------------------------


def corpus_spec():
    from ppack_spark import CorpusSpec

    return CorpusSpec(near_dedup=dict(NEAR), chunk=dict(CHUNK), pack=dict(PACK), shuffle=None)


def run_corpus_dedup(run: Run) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ppack_spark import CorpusPipeline

    docs, planted = gen.corpus(run.seed, CORPUS_DOCS)
    df, load_s = timed_load(run, docs)
    run.metrics["setup_s"] = (run.session_start_s + load_s, "s")
    replay = oracle.replay_corpus(docs, NEAR)

    kept_sets: list[set] = []

    def job(k: int):
        obs = Observation(f"kept{k}")
        out = CorpusPipeline(corpus_spec()).run(df)
        noop(out.observe(obs, F.collect_set("doc_id").alias("ids")))
        kept_sets.append({int(i) for i in obs.get["ids"]})

    times = _repeat(run, job)
    for kept in kept_sets:
        run.op(oracle.check_kept(kept, replay["kept"]))
    latency_metrics(run, times, len(docs), statistics.median(times), "jobs")
    dropped = set(int(i) for i in docs["doc_id"]) - kept_sets[0]
    run.metrics["quality.match_f1"] = (f1(len(dropped & planted), len(dropped), len(planted)),
                                       "share")

    if run.trace:
        _trace_corpus(run, df, replay, kept_sets[0])
        t = time.perf_counter()
        job(len(kept_sets))
        run.metrics["trace.overhead_s"] = (run.traced_s - (time.perf_counter() - t), "s")
        run.op(oracle.check_kept(kept_sets[-1], replay["kept"]))


def _trace_corpus(run, df, replay, kept):
    from pyspark.sql import functions as F

    from ppack_spark import CorpusPipeline
    from ppack_spark.operators.dedup import (
        minhash_jaccard_estimate,
        minhash_lsh_pairs,
        minhash_signatures,
        near_dup_components,
    )
    from ppack_spark.operators.pipeline import prepare_corpus

    tr = run.tracer
    m = run.metrics
    nh, bs, thr = NEAR["num_hashes"], NEAR["band_size"], NEAR["verify_threshold"]
    with tr.span("job") as job:
        with tr.span("corpus.prepare") as prep:
            prepared = prepare_corpus(df)
            prepared_ids = {int(r[0]) for r in prepared.select("doc_id").collect()}
        with tr.span("dedup.signature") as sig_span:
            noop(minhash_signatures(prepared, num_hashes=nh))
        with tr.span("dedup.lsh") as lsh:
            # signatures cut once, as near_dup_components does, so the band
            # join and the verify estimate do not each recompute them
            sig = minhash_signatures(prepared, num_hashes=nh).localCheckpoint(eager=False)
            pairs = minhash_lsh_pairs(prepared, num_hashes=nh, band_size=bs, signatures=sig,
                                      max_bucket_size=NEAR["max_bucket_size"])
            est = minhash_jaccard_estimate(pairs, num_hashes=nh, signatures=sig)
            row = est.agg(F.count(F.lit(1)).alias("n"),
                          F.sum((F.col("est_jaccard") >= thr).cast("long")).alias("v")).collect()[0]
        with tr.span("cluster") as cluster:
            comps = near_dup_components(prepared, num_hashes=nh, band_size=bs,
                                        verify_threshold=thr,
                                        max_bucket_size=NEAR["max_bucket_size"]).toPandas()
        with tr.span("corpus.chunk_pack") as chunk_pack:
            noop(CorpusPipeline(corpus_spec()).run(df))

    errors = []
    if prepared_ids != replay["prepared"]:
        errors.append("documents kept after exact dedup differ from the replay")
    if row["n"] != replay["candidates"]:
        errors.append(f"{row['n']} LSH candidate pairs, replay has {replay['candidates']}")
    run.op(errors)

    verified = row["v"] or 0
    m["corpus.prepare_s"] = (prep.seconds, "s")
    m["corpus.docs_after_prepare"] = (len(prepared_ids), "count")
    m["dedup.signature_s"] = (sig_span.seconds - prep.seconds, "s")
    m["dedup.lsh_s"] = (lsh.seconds - sig_span.seconds, "s")
    m["dedup.candidate_pairs"] = (row["n"], "count")
    m["dedup.verified_share"] = (verified / row["n"] if row["n"] else 0.0, "share")
    m["cluster.exec_s"] = (cluster.seconds - lsh.seconds, "s")
    m["cluster.edges"] = (verified, "count")
    m["cluster.components"] = (int(comps["component"].nunique()) if len(comps) else 0, "count")
    m["corpus.docs_after_near_dedup"] = (len(kept), "count")
    # the full pipeline re-executes everything the cluster span ran
    m["corpus.chunk_pack_s"] = (chunk_pack.seconds - cluster.seconds, "s")
    for name, sp in (("corpus.prepare", prep), ("dedup.lsh", lsh), ("cluster", cluster),
                     ("corpus.chunk_pack", chunk_pack)):
        counters(run, sp, name)
    run.traced_s = job.seconds


WORKLOADS = {
    "dedup_batch": run_dedup_batch,
    "link_requests": run_link_requests,
    "corpus_dedup": run_corpus_dedup,
}
