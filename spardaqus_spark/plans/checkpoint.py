"""Checkpoint manifest + resume (BASELINE.json:6,14).

Grain = the repo-hash bucket (SURVEY.md §1.4). A run writes its output
partitioned by bucket; after the write job commits, one manifest JSON
file per processed bucket is committed via write-temp + atomic
``os.rename`` — the sandbox stand-in for an Iceberg snapshot commit
(SURVEY.md §4.2).

Crash window: a driver crash after the data job commits but before the
manifest loop finishes leaves VISIBLE bucket partitions with no
manifest. Those are orphans of the crashed attempt; ``clean_orphans``
deletes them at the start of a resumed run, BEFORE the append write, so
reprocessing can never duplicate rows (single-writer-per-run_dir
assumption, same as Iceberg's). Data + lineage are both bucket-
partitioned so the same sweep covers both sinks.

Resume: load the manifest -> tiny ``buckets_done`` DataFrame -> broadcast
``left_anti`` join drops already-processed buckets, so a restarted run
touches only the unprocessed fraction (resume-overhead target,
BASELINE.md). Combined with parquet partition pruning on ``bucket``, done
buckets are never even scanned.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

SCHEMA_VERSION = 1


def manifest_dir(run_dir: str | Path) -> Path:
    return Path(run_dir) / "_manifest"


def commit_bucket(
    run_dir: str | Path, run_id: str, bucket: int, files_out: int, output_path: str
) -> None:
    """Atomically mark one bucket done."""
    d = manifest_dir(run_dir)
    d.mkdir(parents=True, exist_ok=True)
    entry = {
        "run_id": run_id,
        "bucket": int(bucket),
        "status": "done",
        "files_out": int(files_out),
        "output_path": output_path,
        "schema_version": SCHEMA_VERSION,
    }
    tmp = d / f".tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps(entry))
    os.rename(tmp, d / f"bucket-{bucket:05d}.json")


def done_buckets(run_dir: str | Path) -> list[int]:
    d = manifest_dir(run_dir)
    if not d.exists():
        return []
    out = []
    for f in sorted(d.glob("bucket-*.json")):
        try:
            out.append(int(json.loads(f.read_text())["bucket"]))
        except (ValueError, KeyError, json.JSONDecodeError):
            continue  # torn write: treated as not-done, bucket reruns
    return out


def clean_orphans(run_dir: str | Path, *data_paths: str | Path) -> list[int]:
    """Delete ``bucket=<b>`` partition dirs under each data path whose
    bucket has NO committed manifest — orphan output of an attempt that
    crashed between the data-job commit and the manifest loop. Run at
    the start of every resumed run so ``mode('append')`` cannot
    duplicate rows. Returns the swept bucket ids."""
    import shutil

    done = set(done_buckets(run_dir))
    removed: set[int] = set()
    for dp in data_paths:
        p = Path(dp)
        if not p.exists():
            continue
        for d in p.glob("bucket=*"):
            try:
                b = int(d.name.split("=", 1)[1])
            except ValueError:
                continue
            if b not in done:
                shutil.rmtree(d, ignore_errors=True)
                removed.add(b)
    return sorted(removed)


def filter_resume(df: "DataFrame", run_dir: str | Path) -> "DataFrame":
    """Drop rows of already-committed buckets (broadcast anti-join; also a
    codegen'd NOT-IN for the tiny literal list would do — anti-join keeps
    the plan shape identical at any bucket count)."""
    from pyspark.sql import functions as F

    done = done_buckets(run_dir)
    if not done:
        return df
    spark = df.sparkSession
    # py-rdd-ok: one tiny frame per resumed run, not per batch or bucket
    done_df = spark.createDataFrame([(int(b),) for b in done], "bucket int")
    return df.join(F.broadcast(done_df), "bucket", "left_anti")
