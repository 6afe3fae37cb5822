"""Session set-up and the timed-operation loop shared by the untraced
and the traced run."""

from __future__ import annotations

import os
import shlex
import shutil
import time
from contextlib import nullcontext
from pathlib import Path

import probes
from workloads import Ctx

CACHE = Path(__file__).resolve().parents[1] / ".perfbench_cache"
SETUPS = 3  # set-up cycles per run; setup_s is their median


def cores() -> int:
    return len(os.sched_getaffinity(0))


def confine_to_checkout(event_log: Path | None = None) -> None:
    """Point every scratch location Spark, the JVM and Python use at the
    cache directory, so a run writes nothing outside the checkout, and
    with ``event_log`` turn on Spark's (uncompressed, unrolled) event log
    in that directory. Must run before the JVM starts."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jopts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = jopts
    confs = {"spark.driver.extraJavaOptions": jopts}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    # the package default (16g) is sized for big hosts; a few MB of corpus
    # need far less, and a small cap keeps the JVM's share of RSS steady
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def start_session():
    from spardaqus_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, warm_dir: Path) -> None:
    """The warm-up pass: two scoring tasks per core, so every Python worker
    is spawned and trains its langid and ppl models."""
    from spardaqus_spark.operators import stages

    w = spark.read.parquet(str(warm_dir))
    spread = w.repartition(spark.sparkContext.defaultParallelism * 2)
    stages.score(spread).write.format("noop").mode("overwrite").save()


def set_up(warm_dir: Path, tracer=None):
    """SETUPS cycles of (stop) -> session.get_spark -> warm-up; the first
    cycle also launches the JVM. -> (spark, {get_spark_s, setup_s samples})."""
    spark = None
    samples = {"get_spark_s": [], "setup_s": []}
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        span = tracer.span("session.setup") if tracer else nullcontext()
        with span:
            t0 = time.perf_counter()
            spark = start_session()
            t1 = time.perf_counter()
            warm_up(spark, warm_dir)
            t2 = time.perf_counter()
        samples["get_spark_s"].append(t1 - t0)
        samples["setup_s"].append(t2 - t0)
    return spark, samples


def measure(wl, ctx: Ctx, seconds: float) -> list[dict]:
    """Repeat the workload's timed call until ``seconds`` have passed
    (at least once); one record per call."""
    out = []
    deadline = time.perf_counter() + seconds
    while True:
        rec = one_op(wl, ctx, len(out))
        shutil.rmtree(rec.pop("op").dir, ignore_errors=True)
        out.append(rec)
        if time.perf_counter() >= deadline:
            return out


def jvm_pid(spark) -> int:
    """The driver JVM; the Python workers are its descendants."""
    return spark.sparkContext._gateway.proc.pid


def one_op(wl, ctx: Ctx, i: int, tracer=None) -> dict:
    """prepare (untimed) -> timed call under a memory sampler -> check.
    With a ``tracer`` the timed call is recorded as span ``op``."""
    rec: dict = {"error": None, "check": None}
    op = wl.prepare(ctx, i)
    span = tracer.span("op") if tracer is not None else nullcontext()
    with probes.PeakMemory(jvm_pid(ctx.spark)) as mem, span:
        cpu0 = probes.cpu_times()
        t0 = time.perf_counter()
        try:
            wl.timed(ctx, op)
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        rec["wall_s"] = time.perf_counter() - t0
        rec["steal_share"] = probes.steal_share(cpu0, probes.cpu_times())
    rec["peak_rss_mb"] = mem.peak / 2**20
    rec["procs_at_peak"] = mem.procs
    if rec["error"] is None:
        try:
            rec["check"] = wl.check(ctx, op)
        except Exception as e:
            rec["error"] = f"check: {type(e).__name__}: {e}"[:2000]
    rec["trigger_s"] = wl.trigger_s(op)
    rec["op"] = op
    return rec


def failed(rec: dict) -> bool:
    return rec["error"] is not None or not rec["check"].ok
