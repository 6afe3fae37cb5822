"""Per-partition lineage rows (BASELINE.json:6): for every pipeline stage,
(run_id, attempt, stage, partition_id, bucket, files_in, files_out,
rule_hit_counts).

Both paths derive every stage row from ONE tiny ledger of counts, because
the fused ``mapInPandas`` makes the stage boundaries logical, not
physical:

- batch: ``ledger`` is a single whole-stage-codegen scan of the verdict
  frame (``posexplode_outer(rule_hits)`` + a two-level hash agg) giving
  per (partition_id, bucket) the row, dedup-survivor and kept counts plus
  the rule-hit map. Stage rows explode from it with no join; the caller
  persists it so lineage and the per-bucket commit list share the scan.
- streaming: the caller collects per-partition (rows, kept) counts in
  one aggregate and ``stream_lineage_rows`` turns them, plus the
  sink-observed write count, into the micro-batch's rows on the driver.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame


def ledger(df_verdict: "DataFrame") -> "DataFrame":
    """One scan of a verdict frame (needs bucket, dup_loser, keep,
    rule_hits) -> per (partition_id, bucket): n_all, n_surv, n_keep and
    rule_hit_counts (NULL when no rule fired in the group).

    ``posexplode_outer`` yields one row per rule hit and a single
    (NULL, NULL) row for a hit-less file, so ``pos`` NULL-or-0 marks
    exactly one row per input file: the first level counts files and hits
    per (partition, bucket, rule), the second folds the rules into a map.
    """
    from pyspark.sql import functions as F

    first = F.col("pos").isNull() | (F.col("pos") == 0)

    def files(cond):
        return F.sum((first & cond).cast("long"))

    per_rule = (
        df_verdict.select(
            F.spark_partition_id().alias("partition_id"),
            "bucket",
            "dup_loser",
            "keep",
            F.posexplode_outer("rule_hits").alias("pos", "rule"),
        )
        .groupBy("partition_id", "bucket", "rule")
        .agg(
            files(F.lit(True)).alias("n_all"),
            files(~F.col("dup_loser")).alias("n_surv"),
            files(F.col("keep")).alias("n_keep"),
            F.count("rule").alias("n"),
        )
    )
    hits = F.sort_array(
        F.collect_list(F.when(F.col("rule").isNotNull(), F.struct("rule", "n")))
    )
    return per_rule.groupBy("partition_id", "bucket").agg(
        F.sum("n_all").alias("n_all"),
        F.sum("n_surv").alias("n_surv"),
        F.sum("n_keep").alias("n_keep"),
        F.when(F.size(hits) > 0, F.map_from_entries(hits)).alias(
            "rule_hit_counts"
        ),
    )


def collect_lineage(
    df_verdict: "DataFrame", run_id: str, attempt: int = 1, stage: str = "verdict"
) -> "DataFrame":
    """Lineage of a single stage from a verdict-stage frame: files_in = all
    rows, files_out = kept rows, with the rule-hit map."""
    from pyspark.sql import functions as F

    return ledger(df_verdict).select(
        F.lit(run_id).alias("run_id"),
        F.lit(attempt).alias("attempt"),
        F.lit(stage).alias("stage"),
        "partition_id",
        "bucket",
        F.col("n_all").alias("files_in"),
        F.col("n_keep").alias("files_out"),
        "rule_hit_counts",
    )


PIPELINE_STAGES = ("dedup", "score", "verdict", "scrub", "write")


def collect_lineage_all_stages(
    df_verdict: "DataFrame",
    run_id: str,
    attempt: int = 1,
    write_counts: dict[int, int] | None = None,
) -> "DataFrame":
    """Per-partition lineage for EVERY pipeline stage ([B:6] 'every stage
    writes per-partition lineage rows') from the fused verdict frame —
    ``stage_rows`` over a fresh ``ledger``; see there."""
    return stage_rows(ledger(df_verdict), run_id, attempt, write_counts)


def stage_rows(
    ledger_df: "DataFrame",
    run_id: str,
    attempt: int = 1,
    write_counts: dict[int, int] | None = None,
) -> "DataFrame":
    """Explode a ``ledger`` into the per-stage lineage rows — in/out
    counts follow exactly from (dup_loser, keep):

      dedup:   in = all rows,   out = dedup survivors (!dup_loser)
      score:   in = all rows,   out = all rows (scoring drops nothing)
      verdict: in = all rows,   out = keep (rule_keep & survivor)
      scrub:   in = kept rows,  out = kept rows (rewrite, no drops)
      write:   in = kept rows,  out = OBSERVED committed count when
               ``write_counts`` (bucket -> rows the write job actually
               landed, counted post-write) is given — VERDICT r02 #3: a
               write-side task failure then shows as files_in != files_out
               instead of lineage silently overstating the sink. Write
               rows are sink-grained (partition_id = -1, one row per
               bucket) because commit happens per bucket, not per input
               partition. Without ``write_counts`` (plan-only callers,
               e.g. conservation tests) files_out falls back to the
               derived n_keep.

    rule_hit_counts attach to the verdict stage only."""
    from pyspark.sql import functions as F

    def row(stage, fi, fo):
        return F.struct(
            F.lit(stage).alias("stage"),
            F.col(fi).alias("files_in"),
            F.col(fo).alias("files_out"),
        )

    derived = [
        row("dedup", "n_all", "n_surv"),
        row("score", "n_all", "n_all"),
        row("verdict", "n_all", "n_keep"),
        row("scrub", "n_keep", "n_keep"),
    ]
    if write_counts is None:
        derived.append(row("write", "n_keep", "n_keep"))
    per_stage = ledger_df.select(
        "partition_id",
        "bucket",
        "rule_hit_counts",
        F.explode(F.array(*derived)).alias("s"),
    ).select("partition_id", "bucket", "rule_hit_counts", "s.*")
    if write_counts is not None:
        # sink-grained write rows: files_in = kept rows entering the write
        # (derived), files_out = the count the write job actually committed
        # (a bucket -> n map, O(num_buckets) literals)
        if write_counts:
            observed = F.create_map(
                *[F.lit(x) for kv in write_counts.items() for x in kv]
            )
            fo = F.coalesce(observed[F.col("bucket")], F.lit(0))
        else:  # resumed run with nothing left to write: zero committed
            fo = F.lit(0)
        per_stage = per_stage.unionByName(
            ledger_df.groupBy("bucket")
            .agg(F.sum("n_keep").alias("files_in"))
            .select(
                F.lit(-1).alias("partition_id"),
                "bucket",
                F.lit("write").alias("stage"),
                "files_in",
                fo.cast("long").alias("files_out"),
                F.lit(None)
                .cast(ledger_df.schema["rule_hit_counts"].dataType)
                .alias("rule_hit_counts"),
            )
        )
    return per_stage.select(
        F.lit(run_id).alias("run_id"),
        F.lit(attempt).alias("attempt"),
        "stage",
        "partition_id",
        "bucket",
        "files_in",
        "files_out",
        F.when(F.col("stage") == "verdict", F.col("rule_hit_counts")).alias(
            "rule_hit_counts"
        ),
    )


STREAM_LINEAGE_SCHEMA = (
    "batch_id int, stage string, partition_id int, "
    "files_in bigint, files_out bigint"
)


def stream_lineage_rows(
    batch_id: int, counts: list[tuple[int, int, int]], n_committed: int
) -> "pd.DataFrame":
    """Per-micro-batch lineage rows for the streaming ingest path (VERDICT
    r02 #4 'streaming lineage parity'), built on the driver from the
    collected per-partition ``counts`` = [(partition_id, rows, kept)].
    Keyed by ``batch_id`` instead of (run_id, bucket): the streaming DAG
    has no bucket repartition; its commit grain IS the micro-batch.

      score:   in = batch rows, out = batch rows
      verdict: in = batch rows, out = rule_keep rows
      scrub:   in = kept rows,  out = kept rows
      write:   in = kept rows,  out = ``n_committed`` read back from the
               written batch partition (partition_id = -1, sink grain) —
               same detection contract as the batch path.
    """
    import pandas as pd

    rows = [
        (batch_id, stage, pid, fi, fo)
        for pid, n_all, n_keep in sorted(counts)
        for stage, fi, fo in (
            ("score", n_all, n_all),
            ("verdict", n_all, n_keep),
            ("scrub", n_keep, n_keep),
        )
    ]
    rows.append((batch_id, "write", -1, sum(c[2] for c in counts), n_committed))
    return pd.DataFrame(
        rows, columns=["batch_id", "stage", "partition_id", "files_in", "files_out"]
    ).astype({"batch_id": "int32", "partition_id": "int32",
              "files_in": "int64", "files_out": "int64"})


def conservation_ok(lineage_df: "DataFrame", total_in: int, total_out: int) -> bool:
    """Σ files_in == total rows and Σ files_out == kept rows (SURVEY §5.4d)."""
    from pyspark.sql import functions as F

    row = lineage_df.agg(
        F.sum("files_in").alias("i"), F.sum("files_out").alias("o")
    ).collect()[0]
    return (row["i"] or 0) == total_in and (row["o"] or 0) == total_out
