#!/usr/bin/env python3
"""Benchmark of the spardaqus_spark quality pipeline.

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The corpus for ``--seed`` is generated
(and cached with its oracle labels under ``.perfbench_cache/``), Spark
starts at ``local[N]`` with N = usable cores, and the workload's timed call
repeats for ``--seconds`` seconds; every call's output is checked against
the oracle. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced run (see perfbench/README.md).

Standard output: one JSON line ``{"report": ...}`` per workload with every
metric, host-contention data and check details, then as the last line
``{"correct", "attempted", "failed", "metrics"}``. Exit code 0 when the
run completed (``correct`` says whether outputs matched), 2 on a usage or
environment error, in which case no result line is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.dont_write_bytecode = True  # keep the benchmark's directory unchanged
sys.path.insert(0, str(BENCH))

from corpus import Cache, CorpusSpec  # noqa: E402
import harness  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

WARM_SPEC = CorpusSpec(n=256, part_rows=64)  # fixed warm-up / host-probe slice
WARM_SEED = 999_999

UNITS = {
    # end-to-end metrics listed in BENCHMARK.json
    "setup_s": "s",
    "wall_s": "s",
    "files_per_s": "1/s",
    "peak_rss_mb": "MB",
    "keep_f1": "ratio",
    # reported here only: 0 on a correct run, or stream_microbatch only
    "scrub_sha_mismatches": "count",
    "failed_ops_ratio": "ratio",
    "microbatch_p50_s": "s",
    "microbatch_p90_s": "s",
}
END_TO_END = ("setup_s", "wall_s", "files_per_s", "peak_rss_mb", "keep_f1")


def summarize(wl, ctx: Ctx, recs: list[dict]) -> dict:
    """End-to-end metrics of a list of operation records."""
    good = [r for r in recs if r["error"] is None]
    failed = [r for r in recs if harness.failed(r)]
    wall = statistics.median(r["wall_s"] for r in (good or recs))
    checks = [r["check"] for r in good]
    m = {
        "wall_s": wall,
        "files_per_s": wl.files(ctx) / wall,
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in recs),
        "keep_f1": min((c.keep_f1 for c in checks), default=0.0),
        "scrub_sha_mismatches": sum(c.sha_mismatches for c in checks),
        "failed_ops_ratio": len(failed) / len(recs),
    }
    trig = sorted(t for r in recs for t in r["trigger_s"])
    if trig:
        m["microbatch_p50_s"] = statistics.median(trig)
        m["microbatch_p90_s"] = statistics.quantiles(
            trig, n=10, method="inclusive")[8]
    details = {
        "ops": [
            {"wall_s": r["wall_s"], "peak_rss_mb": r["peak_rss_mb"],
             "procs_at_peak": r["procs_at_peak"], "steal_share": r["steal_share"],
             "error": r["error"], "trigger_s": r["trigger_s"],
             "check": vars(r["check"]) if r["check"] else None}
            for r in recs
        ],
        "files_per_op": wl.files(ctx),
    }
    return {"metrics": m, "attempted": len(recs), "failed": len(failed),
            "details": details}


def run_untraced(wl, ctx: Ctx, warm_dir: Path, seconds: float) -> dict:
    spark, setup = harness.set_up(warm_dir)
    ctx.spark = spark
    try:
        wl.bind(ctx)
        recs = harness.measure(wl, ctx, seconds)
    finally:
        spark.stop()
    res = summarize(wl, ctx, recs)
    res["metrics"]["setup_s"] = statistics.median(setup["setup_s"])
    res["details"]["setup"] = setup
    res["units"] = UNITS
    # the traced run of this workload reads this as its untraced reference
    f = harness.CACHE / "results" / f"{wl.name}.jsonl"
    f.parent.mkdir(parents=True, exist_ok=True)
    with open(f, "a") as out:
        out.write(json.dumps({"seed": ctx.seed, "first_op_wall_s": recs[0]["wall_s"]}) + "\n")
    return res


def run_workload(wl, seed: int, seconds: float, event_log: Path | None) -> dict:
    cache = Cache(harness.CACHE)
    t0 = time.perf_counter()
    host = {"loadavg_before": probes.loadavg()}
    warm_dir, warm_pdf = cache.corpus(WARM_SPEC, WARM_SEED)
    host["serial_rows_per_s"] = probes.serial_kernel_rate(warm_pdf)
    t1 = time.perf_counter()
    corpus_dir, pdf = cache.corpus(wl.spec, seed)
    oracle = cache.oracle(wl.spec, seed, pdf, wl.dedup)
    t2 = time.perf_counter()
    ctx = Ctx(seed=seed, cfg=wl.cfg(corpus_dir), corpus_dir=corpus_dir,
              pdf=pdf, oracle=oracle,
              scratch=harness.CACHE / "runs" / f"{wl.name}-{os.getpid()}")
    try:
        if event_log is not None:
            import traced

            res = traced.run(wl, ctx, warm_dir, event_log)
        else:
            res = run_untraced(wl, ctx, warm_dir, seconds)
    finally:
        shutil.rmtree(ctx.scratch, ignore_errors=True)
    host["loadavg_after"] = probes.loadavg()
    res["details"]["phases_s"] = {"host_probe": t1 - t0, "corpus_and_oracle": t2 - t1,
                                  "spark": time.perf_counter() - t2}
    res.update(workload=wl.name, seed=seed, files=len(pdf), host=host)
    return res


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def result_line(results: list[dict], trace: bool) -> dict:
    """The result line: end-to-end metrics, or with ``trace`` the per-
    layer ones; names get a ``<workload>:`` prefix when several ran."""

    def pick(r: dict) -> dict:
        keys = r["metrics"] if trace else END_TO_END
        return {k: {"value": r["metrics"][k], "unit": r["units"][k]} for k in keys}

    if len(results) == 1:
        metrics = pick(results[0])
    else:
        metrics = {f"{r['workload']}:{k}": v for r in results
                   for k, v in pick(r).items()}
    return {
        "correct": all(r["failed"] == 0 for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(WORKLOADS)} or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seed < 0:
        print("--seed must be >= 0", file=sys.stderr)
        return 2
    if not (ROOT / "spardaqus_spark" / "__init__.py").is_file():
        print(f"no spardaqus_spark package under {ROOT}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    event_log = (harness.CACHE / "eventlog" / str(os.getpid())
                 if args.trace else None)
    harness.confine_to_checkout(event_log)
    results = []
    try:
        for n in names:
            res = run_workload(WORKLOADS[n], args.seed, args.seconds, event_log)
            print(json.dumps({"report": res}, default=str), flush=True)
            results.append(res)
    finally:
        shutdown_jvm()
        if event_log is not None:
            shutil.rmtree(event_log, ignore_errors=True)
    print(json.dumps(result_line(results, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
