"""One Spark driver process of the benchmark (a fresh JVM per process).

Usage: python3 pipebench/worker.py <spec.json>

Modes (``spec["mode"]``):
  batch  - cold ``run_pipeline`` call, warm calls until call times settle,
           calls over the measured window, then a no-op rerun (resume=True)
           over the last output directory.
  stream - ``transcripts_stream`` + ``run_streaming_pipeline``, driven by
           commands on stdin (start / halt / restart / mark / delta / stop)
           while the generator process lands files.
  chain  - only the noop-sink prefix chain (the single-thread baseline).

Prints JSON lines on stdout; the last one is the result.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from procs import peak_rss_mb  # noqa: E402
from spans import Tracer  # noqa: E402

WARMUP_TINY = 2          # warm-up calls on the one-file slice
WARMUP_FULL = 2          # then full warm-up calls before the measured window
MEASURE_MIN = 2          # measured calls at least, however long they take
RERUNS = 1               # no-op reruns over the last measured call's output


def emit(obj) -> None:
    print(json.dumps(obj), flush=True)


def open_session(spec):
    sys.path.insert(0, spec["root"])
    from loongcollector_spark.session import get_spark

    spark = get_spark(
        app_name="pipebench", master=f"local[{spec['cores']}]",
        shuffle_partitions=2 * spec["cores"],
        extra_conf={
            "spark.local.dir": spec["tmp"],
            # fixed heap size: no heap resizing decisions in peak RSS
            "spark.driver.extraJavaOptions":
                f"-Xms{spec['driver_mem']} -Djava.io.tmpdir={spec['tmp']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def close_session(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# --- noop-sink prefix chain -------------------------------------------------

def prefix_frames(df):
    """scan -> +parse -> +enrich -> +route -> +pack_id/salted_repartition.
    A layer's self time is the difference between consecutive prefixes."""
    from loongcollector_spark import routing
    from loongcollector_spark.aggregate import with_pack_id
    from loongcollector_spark.plans.pipeline import enrich_stage, parse_stage, route_stage

    p = parse_stage(df)
    e = enrich_stage(p)
    r = route_stage(e)
    s = routing.salted_repartition(with_pack_id(r))
    return {"scan": df, "parse": p, "enrich": e, "route": r, "shuffle": s}


def time_noop(frame) -> float:
    t0 = time.perf_counter()
    frame.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def chain_times(frames: dict, names, reps: int, stats=None) -> dict:
    """Fastest noop time per prefix over ``reps`` rounds after one warm-up
    round; each round starts at the next prefix, so no prefix always runs
    right after the cheap scan. With ``stats``, also the Spark counters of
    one run per prefix."""
    names = list(names)
    for n in names:
        time_noop(frames[n])
    times = {n: [] for n in names}
    counters = {}
    for r in range(reps):
        for n in names[r % len(names):] + names[:r % len(names)]:
            mark = stats.mark() if stats and n not in counters else None
            times[n].append(time_noop(frames[n]))
            if mark:
                counters[n] = stats.since(mark)
    return {"s": {n: min(v) for n, v in times.items()}, "counters": counters}


def layer_probe(spark, df, stats) -> dict:
    """Prefix-chain self times plus counts taken where the work happens."""
    from pyspark.sql import functions as F

    from loongcollector_spark.routing import SINK_PREFIX

    frames = prefix_frames(df)
    chain = chain_times(frames, frames, reps=3, stats=stats)
    r = frames["route"]
    bits = [c for c in r.columns if c.startswith(SINK_PREFIX)]
    row = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_parse_ok").cast("long")).alias("ok"),
        F.sum(sum((F.col(b).cast("long") for b in bits), F.lit(0))).alias("copies"),
    ).first()
    plan = r._jdf.queryExecution().executedPlan().toString()
    s = frames["shuffle"].persist()
    s.count()
    cache_mb = stats.cached_mb()
    per_part = [x["count"] for x in s.select(F.spark_partition_id().alias("p"))
                .groupBy("p").count().collect()]
    s.unpersist()
    return {
        "chain_s": chain["s"],
        "shuffle_write_mb": chain["counters"]["shuffle"]["shuffle_write_mb"],
        "rows": row["n"], "parse_ok": row["ok"], "copies": row["copies"],
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "cache_mb": cache_mb,
        "skew_max_over_median": max(per_part) / statistics.median(per_part),
    }


# --- modes --------------------------------------------------------------------

def run_batch(spec, spark, df, tracer, stats) -> dict:
    """Cold call, then warm-up calls on a one-file slice of the input (the
    JIT settles per call, not per row, so cheaper calls do most of the
    settling), two full warm calls, the measured window and the rerun."""
    from loongcollector_spark.plans.pipeline import run_pipeline

    calls = []

    def call(phase, frame=df, resume=False, out=None, traced=False):
        out = out or os.path.join(spec["out"], f"c{len(calls):02d}")
        tracer.enabled = traced
        mark = stats.mark() if stats else None
        t0 = time.perf_counter()
        with tracer.span("call", root=True, n=len(calls)):
            run_pipeline(spark, frame, out, resume=resume)
        dt = time.perf_counter() - t0
        tracer.enabled = False
        rec = {"phase": phase, "s": dt, "out": out, "traced": traced}
        if mark:
            rec["spark"] = stats.since(mark)
        calls.append(rec)

    call("cold")
    tiny = spark.read.parquet(spec["warm_input"])
    for _ in range(WARMUP_TINY):
        call("warm_tiny", frame=tiny)
    for _ in range(WARMUP_FULL):
        call("warm")
    # measured window; a traced run alternates untraced / traced calls
    need = 4 if spec["trace"] else MEASURE_MIN
    t_meas, n = time.perf_counter(), 0
    while n < need or time.perf_counter() - t_meas < spec["seconds"]:
        call("measure", traced=bool(spec["trace"]) and n % 2 == 1)
        n += 1
    last = calls[-1]["out"]
    for _ in range(RERUNS):
        call("rerun", resume=True, out=last, traced=bool(spec["trace"]))
    res = {"calls": calls}
    if spec["trace"]:
        res["probe"] = layer_probe(spark, df, stats)
    return res


def progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def run_stream(spec, spark, tracer, stats) -> dict:
    from loongcollector_spark.streaming import run_streaming_pipeline, transcripts_stream

    sdf = transcripts_stream(spark, spec["input"])
    emit({"event": "ready", "t_ready": time.monotonic()})
    queries, q, mark, steady = [], None, None, None
    for line in sys.stdin:
        cmd = line.strip()
        if cmd in ("start", "restart"):
            t = time.time()
            q = run_streaming_pipeline(sdf, spec["out"], available_now=False)
            emit({"event": cmd, "t": t})
        elif cmd == "halt":
            queries.append(progress(q))
            q.stop()
            emit({"event": "halted"})
        elif cmd == "mark":       # start of the steady phase
            mark = stats.mark() if stats else None
            emit({"event": "marked"})
        elif cmd == "delta":      # end of the steady phase
            steady = stats.since(mark) if stats else None
            emit({"event": "delta"})
        elif cmd == "stop":
            break
    queries.append(progress(q))
    q.stop()
    res = {"progress": [p for qp in queries for p in qp], "spark": steady}
    if stats:
        res["probe"] = layer_probe(spark, spark.read.parquet(spec["input"]), stats)
    return res


def main():
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    spark = open_session(spec)
    stats = None
    tracer = Tracer()
    try:
        if spec["mode"] == "chain":
            df = spark.read.parquet(spec["input"])
            frames = prefix_frames(df)
            res = {"chain_s": chain_times(frames, ["scan", "shuffle"], reps=2)["s"]}
        else:
            if spec["trace"]:
                from sparkstats import StatusStore
                stats = StatusStore(spark)
                tracer.install(trace_batch=lambda b: b % 2 == 0)
            if spec["mode"] == "batch":
                df = spark.read.parquet(spec["input"])
                emit({"event": "ready", "t_ready": time.monotonic()})
                res = run_batch(spec, spark, df, tracer, stats)
            else:
                res = run_stream(spec, spark, tracer, stats)
        res["peak_rss_mb"] = peak_rss_mb(os.getpid())
        if spec["trace"]:
            tracer.dump(spec["spans"])
    finally:
        close_session(spark)
    emit(res)


if __name__ == "__main__":
    main()
