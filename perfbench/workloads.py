"""The four benchmark workloads.

Each workload drives one public entry point of ``spardaqus_spark``:
``prepare`` does the untimed per-operation set-up, ``timed`` is the call
the end-to-end metrics time, and ``check`` compares what the call wrote
against the oracle labels of the generated corpus.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from corpus import KEY, CorpusSpec

INPUT_SCHEMA = "repo string, path string, commit string, lang string, content string"


@dataclass
class Ctx:
    """Everything a workload needs from one Spark session."""

    seed: int
    cfg: object
    corpus_dir: Path
    pdf: pd.DataFrame  # the corpus as pandas (INPUT_COLS)
    oracle: pd.DataFrame  # corpus.ORACLE_COLS
    scratch: Path  # per-run output area, removed at the end of the run
    spark: object = None
    src: object = None  # the corpus as a Spark DataFrame
    buckets: dict[int, int] = field(default_factory=dict)  # bucket -> input rows


@dataclass
class Op:
    """One timed operation: its output directory and, for a streaming
    query, the progress of every micro-batch that read rows."""

    dir: Path
    progress: list = field(default_factory=list)


@dataclass
class Check:
    keep_f1: float
    sha_mismatches: int
    duplicate_keys: int
    # batch: buckets without exactly one manifest, +1 if the manifests do
    # not add up to the sink; stream: 1 if some input row was not consumed
    commit_errors: int

    @property
    def ok(self) -> bool:
        return (self.keep_f1 == 1.0 and self.sha_mismatches == 0
                and self.duplicate_keys == 0 and self.commit_errors == 0)


def compare(got: pd.DataFrame, expected: pd.DataFrame) -> tuple[float, int, int]:
    """-> (keep F1, scrubbed-sha mismatches, duplicated keys) of the rows
    ``got`` (KEY + scrubbed_sha256) against the oracle's kept rows."""
    exp = expected[expected["keep"]][KEY + ["scrubbed_sha256"]]
    dups = int(got.duplicated(KEY).sum())
    m = got.drop_duplicates(KEY).merge(exp, on=KEY, suffixes=("", "_exp"))
    tp = len(m)
    n_got, n_exp = len(got) - dups, len(exp)
    if n_got == 0 and n_exp == 0:
        f1 = 1.0
    else:
        f1 = 2.0 * tp / (n_got + n_exp)
    mism = int((m["scrubbed_sha256"] != m["scrubbed_sha256_exp"]).sum())
    return f1, mism, dups


def half(cfg) -> list[int]:
    """The buckets a crashed first attempt committed: the lower half."""
    return list(range(cfg.num_buckets // 2))


class Workload:
    name = ""
    resumes = False  # the timed call resumes a half-committed run
    spec = CorpusSpec(n=2000, n_repos=8, part_rows=250)
    dedup = True  # oracle with exact dedup
    prebucketed = False

    def cfg(self, corpus_dir: Path):
        from spardaqus_spark.config import default_config

        # hot = more than an eighth of the base rows: the mega-repos
        # qualify, the ordinary repos (at most 70% / n_repos each) do not
        return default_config(hot_repo_threshold=self.spec.n // 8,
                              input_path=str(corpus_dir))

    def bind(self, ctx: Ctx) -> None:
        """Untimed per-session set-up: the source frame."""
        from spardaqus_spark.sources import io

        ctx.src = io.read_files(ctx.spark, ctx.cfg)

    @staticmethod
    def buckets(ctx: Ctx) -> dict[int, int]:
        """bucket -> input rows, counted once per run (after the first
        timed call, so the job does not warm the JVM for it)."""
        if not ctx.buckets:
            from pyspark.sql import functions as F

            from spardaqus_spark.operators import bucketize as bk

            rows = (
                bk.with_bucket_columns(ctx.src, ctx.cfg)
                .groupBy("bucket").agg(F.count("*").alias("n")).collect()
            )
            ctx.buckets = {int(r["bucket"]): int(r["n"]) for r in rows}
        return ctx.buckets

    def files(self, ctx: Ctx) -> int:
        """Input files of one timed operation (the files_per_s numerator)."""
        return len(ctx.pdf)

    def prepare(self, ctx: Ctx, i: int) -> Op:
        d = ctx.scratch / f"op{i}"
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return Op(dir=d)

    def timed(self, ctx: Ctx, op: Op) -> None:
        from spardaqus_spark import pipeline

        pipeline.run(ctx.src, ctx.cfg, run_dir=op.dir, run_id=op.dir.name,
                     prebucketed=self.prebucketed)

    def trigger_s(self, op: Op) -> list[float]:
        """Per-micro-batch trigger times of a streaming operation."""
        return []

    def check(self, ctx: Ctx, op: Op) -> Check:
        got = pd.read_parquet(op.dir / "files_clean",
                              columns=KEY + ["scrubbed_sha256"])
        f1, mism, dups = compare(got, ctx.oracle)
        return Check(f1, mism, dups, self._manifest_errors(ctx, op, len(got)))

    @staticmethod
    def _manifest_errors(ctx: Ctx, op: Op, rows_out: int) -> int:
        """Buckets without exactly one manifest, plus one if the manifests'
        files_out do not add up to the rows in the sink."""
        seen: dict[int, int] = {}
        total = 0
        for f in (op.dir / "_manifest").glob("bucket-*.json"):
            m = json.loads(f.read_text())
            seen[m["bucket"]] = seen.get(m["bucket"], 0) + 1
            total += m["files_out"]
        expected = Workload.buckets(ctx)
        errs = sum(1 for b in expected if seen.get(b) != 1)
        errs += sum(1 for b in seen if b not in expected)
        return errs + int(total != rows_out)


class BatchDefault(Workload):
    """The fixture strata mix through pipeline.run and the full commit
    path: kernels, the dedup shuffle and the commit work; resume filtering
    and salting sit idle."""

    name = "batch_default"


class ResumeHalf(Workload):
    """pipeline.run resumed after an untimed first attempt committed the
    lower half of the buckets through bucket_whitelist (the crash stand-in
    of tests/test_resume.py): plans.checkpoint does the work."""

    name = "resume_half"
    resumes = True

    def files(self, ctx: Ctx) -> int:
        done = set(half(ctx.cfg))
        return sum(n for b, n in self.buckets(ctx).items() if b not in done)

    def prepare(self, ctx: Ctx, i: int) -> Op:
        from spardaqus_spark import pipeline

        op = super().prepare(ctx, i)
        pipeline.run(ctx.src, ctx.cfg, run_dir=op.dir, run_id="crashed",
                     bucket_whitelist=half(ctx.cfg))
        return op


class PrebucketedSkew(Workload):
    """One mega-repo with half the files through pipeline.run with
    prebucketed=True: the only path running hot-repo detection and
    salting; batch_default bypasses it."""

    name = "prebucketed_skew"
    spec = CorpusSpec(n=2000, mega_share=0.5, n_mega=1, n_repos=8, part_rows=250)
    prebucketed = True


class StreamMicrobatch(Workload):
    """Small parquet parts through streaming scrub_stream (availableNow,
    maxFilesPerTrigger): per-micro-batch fixed costs dominate. The stream
    has no cross-batch dedup, so its oracle leaves dedup out."""

    name = "stream_microbatch"
    spec = CorpusSpec(n=600, part_rows=21)  # 30 parts -> 3 micro-batches
    dedup = False
    files_per_trigger = 10

    def timed(self, ctx: Ctx, op: Op) -> None:
        from spardaqus_spark.sources import io
        from spardaqus_spark.streaming import pipeline as sp

        stream = io.read_stream_source(
            ctx.spark, ctx.cfg, schema=INPUT_SCHEMA, path=str(ctx.corpus_dir),
            max_files_per_trigger=self.files_per_trigger,
        )
        q = sp.scrub_stream(stream, str(op.dir / "out"), str(op.dir / "ckpt"),
                            ctx.cfg)
        try:
            q.awaitTermination()
        finally:
            op.progress = [p for p in q.recentProgress if p.numInputRows > 0]
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def check(self, ctx: Ctx, op: Op) -> Check:
        got = pd.read_parquet(op.dir / "out", columns=KEY + ["scrubbed_sha256"])
        f1, mism, dups = compare(got, ctx.oracle)
        rows_in = sum(p.numInputRows for p in op.progress)
        return Check(f1, mism, dups, int(rows_in != len(ctx.pdf)))

    def trigger_s(self, op: Op) -> list[float]:
        return [p.durationMs["triggerExecution"] / 1000.0 for p in op.progress]


WORKLOADS = {w.name: w for w in (BatchDefault(), ResumeHalf(),
                                 StreamMicrobatch(), PrebucketedSkew())}
