"""The traced run (``--trace 1``): per-layer metrics.

The run repeats an untraced run's set-up and first timed call with Spark's
event log on, the set-up cycles and the call inside spans, then calls each
layer's public functions on the same corpus inside spans of their own.
Spans live in memory and are written to ``.perfbench_cache/traces/`` at
the end; Spark task metrics come from the event log and are attributed to
spans by task launch time. The tracing overhead is this run's timed call
minus the first timed call of the untraced runs recorded in the checkout.

Metrics a workload cannot produce (for example ``streaming.*`` on a batch
workload) are reported as 0 and listed under ``not_applicable``.
"""

from __future__ import annotations

import json
import os
import statistics
from pathlib import Path

import probes
import harness
from workloads import INPUT_SCHEMA, Ctx, StreamMicrobatch, half

KERNEL_BATCH = 512

# per-layer metric -> unit; the order is the report order
UNITS = {
    "session.get_spark_s": "s",
    "sources.io.scan_s": "s",
    "kernels.textnum.flatten_s": "s",
    "kernels.heuristics.compute_metrics_s": "s",
    "kernels.langid.predict_s": "s",
    "kernels.ppl.perplexity_s": "s",
    "rules.apply_rules_pandas_s": "s",
    "kernels.scrub.scrub_series_s": "s",
    "kernels.serial_files_per_s": "1/s",
    "kernels.scrub.changed_ratio": "ratio",
    "rules.keep_ratio": "ratio",
    "stages.dedup_exact_s": "s",
    "stages.dedup_exact.shuffle_write_bytes": "bytes",
    "stages.dedup_exact.loser_ratio": "ratio",
    "stages.score_scrub_s": "s",
    "stages.score_scrub.task_skew": "ratio",
    "stages.score_scrub.tasks": "count",
    "pipeline.build_clean_frame_s": "s",
    "pipeline.clean.shuffle_write_bytes": "bytes",
    "pipeline.commit_s": "s",
    "lineage.collect_lineage_all_stages_s": "s",
    "checkpoint.clean_orphans_s": "s",
    "checkpoint.commit_bucket_s": "s",
    "checkpoint.filter_resume_s": "s",
    "checkpoint.resume_rescore_ratio": "ratio",
    "bucketize.detect_hot_repos_s": "s",
    "bucketize.hot_repos": "count",
    "bucketize.partition_rows_max_over_median": "ratio",
    "streaming.batches": "count",
    "streaming.microbatch_p50_s": "s",
    "streaming.microbatch_p90_s": "s",
    "streaming.addBatch_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.score_micro_batch_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.tasks": "count",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}

BATCH_ONLY = ("stages.", "pipeline.", "lineage.", "checkpoint.")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernels(tr: probes.Tracer, pdf, keep, cfg) -> dict:
    """Every kernel in-process over the corpus in KERNEL_BATCH-row batches,
    as the fused scoring stage calls them; scrub runs on kept rows only."""
    from spardaqus_spark.kernels import heuristics, langid, ppl, scrub, textnum
    from spardaqus_spark.rules import apply_rules_pandas

    langid.get_model()
    ppl.get_model()
    lex = scrub.load_lexicon(cfg.lexicon_path)
    rule_kept = scrubbed = changed = 0
    with tr.span("kernels.serial"):
        for lo in range(0, len(pdf), KERNEL_BATCH):
            c = pdf["content"].iloc[lo : lo + KERNEL_BATCH].fillna("").astype(
                str).reset_index(drop=True)
            with tr.span("kernels.textnum.flatten"):
                flat = textnum.flatten_codepoints(c)
            with tr.span("kernels.heuristics.compute_metrics"):
                m = heuristics.compute_metrics(c, flat=flat)
            with tr.span("kernels.langid.predict"):
                lid = langid.predict(c, flat=flat)
            with tr.span("kernels.ppl.perplexity"):
                p = ppl.perplexity(c, flat=flat)
            m["lang_pred"] = lid["lang_pred"].to_numpy()
            m["lang_conf"] = lid["lang_conf"].to_numpy()
            m["ppl"] = p.to_numpy()
            with tr.span("rules.apply_rules_pandas"):
                rk, _ = apply_rules_pandas(cfg.rules, m, cfg.verdict)
            rule_kept += int(rk.sum())
            k = c[keep[lo : lo + KERNEL_BATCH]]
            with tr.span("kernels.scrub.scrub_series"):
                s = scrub.scrub_series(k, lex)
            scrubbed += len(k)
            changed += int((s.to_numpy() != k.to_numpy()).sum())
    out = {f"{n}_s": tr.total(n) for n in (
        "kernels.textnum.flatten", "kernels.heuristics.compute_metrics",
        "kernels.langid.predict", "kernels.ppl.perplexity",
        "rules.apply_rules_pandas", "kernels.scrub.scrub_series")}
    out["kernels.serial_files_per_s"] = len(pdf) / tr.dur("kernels.serial")
    out["kernels.scrub.changed_ratio"] = changed / max(scrubbed, 1)
    out["rules.keep_ratio"] = rule_kept / max(len(pdf), 1)
    return out


class BatchLayers:
    """Layer calls after a pipeline.run operation, on the same corpus."""

    def __init__(self, tr: probes.Tracer, wl, ctx: Ctx):
        self.tr, self.wl, self.ctx = tr, wl, ctx

    def after(self, op) -> dict:
        from spardaqus_spark import pipeline
        from spardaqus_spark.operators import stages
        from spardaqus_spark.plans import checkpoint as ckpt, lineage as lin

        tr, ctx, wl = self.tr, self.ctx, self.wl
        with tr.span("checkpoint.clean_orphans"):
            ckpt.clean_orphans(op.dir, str(op.dir / "files_clean"),
                               str(op.dir / "lineage"))
        # the op's own manifests, committed again into a scratch run dir
        mine = [json.loads(f.read_text())
                for f in (op.dir / "_manifest").glob("bucket-*.json")]
        mine = [m for m in mine if m["run_id"] == op.dir.name]
        with tr.span("checkpoint.commit_bucket"):
            for m in mine:
                ckpt.commit_bucket(ctx.scratch / "commit-probe", m["run_id"],
                                   m["bucket"], m["files_out"], m["output_path"])
        # a run dir as a crash after the lower half of the buckets leaves it
        done = set(half(ctx.cfg))
        probe = ctx.scratch / "resume-probe"
        for b in wl.buckets(ctx):
            if b in done:
                ckpt.commit_bucket(probe, "crashed", b, 0, "")
        v0 = pipeline.build_verdict_frame(ctx.src, ctx.cfg,
                                          prebucketed=wl.prebucketed)
        with tr.span("checkpoint.filter_resume"):
            v_resume = ckpt.filter_resume(v0, probe)
        v = v_resume if wl.resumes else v0  # the frame the timed run built
        with tr.span("stages.dedup_prefix"):
            noop(stages.dedup_exact(stages.with_sha(ctx.src)))
        with tr.span("stages.verdict_prefix"):
            noop(v)
        with tr.span("pipeline.clean_prefix"):
            noop(pipeline.build_clean_frame(v, ctx.cfg))
        with tr.span("checkpoint.resume_prefix"):
            noop(v_resume)
        v = v.persist()
        try:
            v.count()
            seen = {m["bucket"]: m["files_out"] for m in mine}
            with tr.span("lineage.collect_lineage_all_stages"):
                rows = lin.collect_lineage_all_stages(
                    v, "probe", write_counts=seen).collect()
        finally:
            v.unpersist()
        dedup = [r for r in rows if r["stage"] == "dedup"]
        self.uncommitted = sum(n for b, n in wl.buckets(ctx).items()
                               if b not in done)
        return {
            "checkpoint.clean_orphans_s": tr.dur("checkpoint.clean_orphans"),
            "checkpoint.filter_resume_s": tr.dur("checkpoint.filter_resume"),
            "checkpoint.commit_bucket_s": tr.dur("checkpoint.commit_bucket"),
            "stages.dedup_exact_s": tr.dur("stages.dedup_prefix"),
            "stages.dedup_exact.loser_ratio":
                1 - sum(r["files_out"] for r in dedup) / sum(r["files_in"] for r in dedup),
            "stages.score_scrub_s": tr.dur("stages.verdict_prefix")
            - tr.dur("stages.dedup_prefix"),
            "pipeline.build_clean_frame_s": tr.dur("pipeline.clean_prefix"),
            "pipeline.commit_s": tr.dur("op") - tr.dur("pipeline.clean_prefix"),
            "lineage.collect_lineage_all_stages_s":
                tr.dur("lineage.collect_lineage_all_stages"),
        }

    def from_event_log(self, ev: probes.EventLog) -> dict:
        tr = self.tr
        dedup = ev.totals(ev.within(tr.get("stages.dedup_prefix")))
        clean = ev.totals(ev.within(tr.get("pipeline.clean_prefix")))
        resume = ev.within(tr.get("checkpoint.resume_prefix"))
        skew, tasks = ev.heaviest_stage(ev.within(tr.get("stages.verdict_prefix")))
        return {
            "stages.dedup_exact.shuffle_write_bytes": dedup["shuffle_write_bytes"],
            "pipeline.clean.shuffle_write_bytes":
                clean["shuffle_write_bytes"] - dedup["shuffle_write_bytes"],
            "stages.score_scrub.task_skew": skew,
            "stages.score_scrub.tasks": tasks,
            "checkpoint.resume_rescore_ratio":
                ev.scoring_rows(resume) / self.uncommitted,
        }


class StreamLayers:
    """Layer calls around a scrub_stream operation."""

    def __init__(self, tr: probes.Tracer, wl, ctx: Ctx):
        self.tr, self.wl, self.ctx = tr, wl, ctx

    def after(self, op) -> dict:
        from spardaqus_spark.streaming import pipeline as sp

        tr, ctx = self.tr, self.ctx
        parts = sorted(ctx.corpus_dir.glob("part-*.parquet"))
        static = ctx.spark.read.schema(INPUT_SCHEMA).parquet(
            *[str(p) for p in parts[: self.wl.files_per_trigger]])
        with tr.span("streaming.score_micro_batch"):
            sp.score_micro_batch(static, 0, ctx.cfg,
                                 str(ctx.scratch / "micro-batch" / "out"))
        trig = self.wl.trigger_s(op)
        out = {
            "streaming.batches": len(op.progress),
            "streaming.microbatch_p50_s": statistics.median(trig),
            "streaming.microbatch_p90_s": statistics.quantiles(
                trig, n=10, method="inclusive")[8],
            "streaming.score_micro_batch_s": tr.dur("streaming.score_micro_batch"),
        }
        for k in ("addBatch", "walCommit", "latestOffset", "queryPlanning"):
            out[f"streaming.{k}_ms"] = statistics.median(
                p.durationMs.get(k, 0) for p in op.progress)
        return out

    def from_event_log(self, ev: probes.EventLog) -> dict:
        return {}


def shared_layers(tr: probes.Tracer, ctx: Ctx) -> dict:
    """Layers measured the same way on every workload's corpus."""
    from pyspark.sql import functions as F

    from spardaqus_spark.operators import bucketize as bk
    from spardaqus_spark.sources import io

    with tr.span("bucketize.detect_hot_repos"):
        hot = bk.detect_hot_repos(ctx.src, ctx.cfg.hot_repo_threshold)
    sizes = sorted(
        r["n"] for r in bk.bucketize(ctx.src, ctx.cfg, hot_repos=hot)
        .groupBy(F.spark_partition_id()).agg(F.count("*").alias("n")).collect())
    with tr.span("sources.io.scan"):
        noop(io.read_files(ctx.spark, ctx.cfg))
    out = {
        "bucketize.detect_hot_repos_s": tr.dur("bucketize.detect_hot_repos"),
        "bucketize.hot_repos": len(hot),
        "bucketize.partition_rows_max_over_median":
            sizes[-1] / statistics.median(sizes),
        "sources.io.scan_s": tr.dur("sources.io.scan"),
    }
    out.update(kernels(tr, ctx.pdf, ctx.oracle["keep"].to_numpy(), ctx.cfg))
    return out


def untraced_reference(wl, seed: int) -> float | None:
    """wall_s of the first timed call of an untraced run of this workload
    in this checkout: the same seed if one was recorded, else the median
    over all recorded seeds."""
    f = harness.CACHE / "results" / f"{wl.name}.jsonl"
    if not f.exists():
        return None
    rows = [json.loads(line) for line in f.read_text().splitlines() if line]
    same = [r["first_op_wall_s"] for r in rows if r["seed"] == seed]
    return statistics.median(same or [r["first_op_wall_s"] for r in rows])


def run(wl, ctx: Ctx, warm_dir: Path, event_log: Path) -> dict:
    """The traced run: the same set-up and first timed call as an untraced
    run, inside spans and with the event log on, then the layer calls."""
    tr = probes.Tracer(run_id=f"{wl.name}-s{ctx.seed}-{os.getpid()}")
    stream = isinstance(wl, StreamMicrobatch)
    layers = (StreamLayers if stream else BatchLayers)(tr, wl, ctx)
    with tr.span("run"):
        spark, setup = harness.set_up(warm_dir, tracer=tr)
        ctx.spark = spark
        try:
            wl.bind(ctx)
            rec = harness.one_op(wl, ctx, 0, tracer=tr)
            m = {} if harness.failed(rec) else layers.after(rec["op"])
            m.update(shared_layers(tr, ctx))
        finally:
            spark.stop()
    log = max((p for p in event_log.iterdir() if p.is_file()),
              key=lambda p: p.stat().st_mtime)
    ev = probes.EventLog(log)
    if not harness.failed(rec):
        m.update(layers.from_event_log(ev))
    m.update({f"spark.{k}": v for k, v in ev.totals(ev.within(tr.get("op"))).items()})
    m["session.get_spark_s"] = statistics.median(setup["get_spark_s"])
    m["trace.traced_wall_s"] = rec["wall_s"]
    n_a = {}
    ref = untraced_reference(wl, ctx.seed)
    if ref is None:
        for k in ("trace.untraced_wall_s", "trace.overhead_s"):
            n_a[k] = "no untraced run of this workload recorded in this checkout"
    else:
        m["trace.untraced_wall_s"] = ref
        m["trace.overhead_s"] = rec["wall_s"] - ref
    for k in UNITS:
        if k in m or k in n_a:
            continue
        if harness.failed(rec):
            n_a[k] = "not measured: the traced call failed"
        elif stream and k.startswith(BATCH_ONLY):
            n_a[k] = "batch pipeline layer; the streaming path does not run it"
        elif k.startswith("streaming."):
            n_a[k] = "workload runs no streaming query"
        else:
            n_a[k] = "not measured"
    m.update({k: 0 for k in n_a if k not in m})
    tr.dump(harness.CACHE / "traces" / f"{tr.run_id}.json")
    return {
        "metrics": {k: m[k] for k in UNITS},
        "units": UNITS,
        "attempted": 1,
        "failed": int(harness.failed(rec)),
        "not_applicable": n_a,
        "details": {
            "op": {"wall_s": rec["wall_s"], "peak_rss_mb": rec["peak_rss_mb"],
                   "error": rec["error"],
                   "check": vars(rec["check"]) if rec["check"] else None},
            "self_s": tr.self_times(),
            "setup": setup,
            "trace_file": f".perfbench_cache/traces/{tr.run_id}.json",
        },
    }
