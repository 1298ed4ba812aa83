"""Seeded linkage and corpus benchmark for ppack_spark.

    python3 linkbench/run.py --workload dedup_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed``, starts a local Spark session on every core, runs the
workload for about ``--seconds`` seconds, checks the outputs against
DuckDB replays and prints one JSON object as the last line of standard
output: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (spans are also written to
``.linkbench/spans-<workload>-<seed>.jsonl``). See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".linkbench"
sys.path.insert(0, str(HERE))

from spans import COUNTER_UNITS, Tracer  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "request_p50_s": "s",
    "request_tail_s": "s",
    "ok_share": "share",
}

# spans that carry Spark counters, each as <span>.<counter>
_SPANS = ("blocking", "pairs", "patterns", "estimate_u", "scoring", "cluster",
          "request", "corpus.prepare", "dedup.lsh", "corpus.chunk_pack")

PER_LAYER = {
    "session.start_s": "s",
    "quality.match_f1": "share",
    "blocking.exec_s": "s",
    "blocking.candidate_pairs": "count",
    "blocking.pair_completeness": "share",
    "blocking.match_share": "share",
    "pairs.exec_s": "s",
    "patterns.exec_s": "s",
    "patterns.pattern_rows": "count",
    "linker.estimate_u_s": "s",
    "em.run_s": "s",
    "em.iterations": "count",
    "em.lambda": "share",
    "em.final_delta_m": "share",
    "scoring.exec_s": "s",
    "scoring.pairs_above_threshold": "count",
    "cluster.exec_s": "s",
    "cluster.edges": "count",
    "cluster.components": "count",
    "request.plan_s": "s",
    "request.exec_s": "s",
    "request.stages": "count",
    "request.samples": "count",
    "request.tail_pct": "pct",
    "corpus.prepare_s": "s",
    "corpus.docs_after_prepare": "count",
    "dedup.signature_s": "s",
    "dedup.lsh_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_share": "share",
    "corpus.docs_after_near_dedup": "count",
    "corpus.chunk_pack_s": "s",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    **{f"{s}.{c}": u for s in _SPANS for c, u in COUNTER_UNITS.items()},
}


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(cores: int) -> None:
    """Point Spark, its Python workers and temp files at the checkout."""
    tmp = SCRATCH / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _session_conf(trace: bool) -> dict:
    conf = {
        "spark.local.dir": str(SCRATCH / "tmp"),
        "spark.sql.warehouse.dir": str(SCRATCH / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={SCRATCH / 'tmp'}"
                                         f" -Dderby.system.home={SCRATCH / 'tmp'}"
                                         " -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # counters are read after every span; the larger retention only
        # guards spans with more than the default 100 stages
        conf.update({"spark.ui.retainedStages": "2000", "spark.ui.retainedJobs": "1000"})
    return conf


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the gateway may already be closed
            pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the ppack_spark package of this checkout
    if not (ROOT / "ppack_spark" / "__init__.py").is_file():
        print(f"ppack_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = _cores()
    _prepare_env(cores)
    from ppack_spark import get_spark

    t = time.perf_counter()
    spark = get_spark("linkbench", _session_conf(bool(args.trace)))
    session_s = time.perf_counter() - t
    run_id = f"{args.workload}-{args.seed}"
    run = workloads.Run(spark, args.seed, args.seconds, bool(args.trace), session_s,
                        tracer=Tracer(run_id, spark if args.trace else None, cores))
    try:
        workloads.WORKLOADS[args.workload](run)
        rss = workloads.peak_rss_mb()
    finally:
        _stop(spark)

    for err in run.errors:
        print(f"check failed: {err}", file=sys.stderr)
    for note in run.notes:
        print(note)
    print(f"match_f1 {run.metrics['quality.match_f1'][0]:.4f}, peak_rss_mb {rss:.0f}")
    if args.trace:
        print("untraced: " + json.dumps({k: run.metrics[k][0] for k in END_TO_END
                                         if k in run.metrics}))
        run.metrics["session.start_s"] = (session_s, "s")
        run.metrics["peak_rss_mb"] = (rss, "MB")
        run.tracer.write(str(SCRATCH / f"spans-{run_id}.jsonl"))
        names = PER_LAYER
    else:
        run.metrics["ok_share"] = (1.0 - run.failed / max(run.attempted, 1), "share")
        names = END_TO_END
    metrics = {}
    for name, unit in names.items():
        value = run.metrics.get(name, (0.0, unit))[0]  # 0: the workload has no such layer
        metrics[name] = {"value": float(value), "unit": unit}
    print(json.dumps({
        "correct": not run.errors and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
