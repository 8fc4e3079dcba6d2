"""pipebench: the transcript pipeline benchmark.

Usage (from the repository root):
  python3 pipebench/run.py --workload batch_hot --seed 1 --seconds 10 --trace 0

Runs one named workload on inputs made from ``--seed``. Every Spark driver
is a fresh ``pipebench/worker.py`` process at ``local[nproc]`` with a 4g
driver. Every timed operation's output is checked against the pure-Python
reference (``check.py``). The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics (spans on,
noop-sink prefix chain, Spark status-store counters, local[1] baseline).
The line before it holds the details behind those numbers. Exit code 0 only
if every output matched.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from check import (Reference, check_batch_output, check_stream_output,  # noqa: E402
                   self_check, stream_batches)
from procs import kill_tree  # noqa: E402
from spans import children, self_s, union_s  # noqa: E402
from workloads import (STREAM_RESTARTS, STREAM_WARMUP_FILES,  # noqa: E402
                       WORKLOADS, dir_bytes, generate)

DRIVER_MEM = "4g"
RUN_DEADLINE_S = 170       # a run that is not done by then is killed

END_TO_END = {
    "setup_s": "s", "first_run_s": "s", "turns_per_s": "1/s",
    "latency_p50_s": "s", "rerun_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "scan.self_s": "s", "scan.files": "count", "scan.input_mb": "MB",
    "parse.self_s": "s", "parse.ok_ratio": "ratio",
    "enrich.self_s": "s",
    "route.self_s": "s", "route.copies_per_row": "ratio",
    "shuffle.self_s": "s", "shuffle.write_mb": "MB",
    "shuffle.skew_max_over_median": "ratio",
    "cache.mb": "MB",
    "sink.write_s": "s", "sink.jobs": "count", "sink.files": "count",
    "sink.mb_written": "MB", "sink.bytes_per_input_byte": "ratio",
    "checkpoint.commit_s": "s", "checkpoint.fingerprint_s": "s",
    "call.s_p50": "s", "call.files": "count",
    "exec.cpu_s": "s", "exec.cpu_util": "ratio", "jvm.gc_s": "s",
    "spill.mb": "MB", "spark.jobs_per_call": "count",
    "spark.tasks_per_call": "count",
    "scaling.efficiency": "ratio", "trace.overhead": "ratio",
}


class BenchError(Exception):
    pass


LIVE: set = set()   # workers to kill if the run overruns its deadline


def overrun() -> None:
    for wk in list(LIVE):
        kill_tree(wk.p.pid)


def median(xs):
    return statistics.median(xs)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Worker:
    """A ``worker.py`` child process; JSON lines in both directions."""

    def __init__(self, root: str, run_dir: str, name: str, spec: dict):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        spec = {"root": root, "tmp": tmp, "cores": cores(), "driver_mem": DRIVER_MEM, **spec}
        spec_path = os.path.join(run_dir, f"{name}.spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        self.log_path = os.path.join(run_dir, f"{name}.log")
        self._log = open(self.log_path, "w")
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, TMPDIR=tmp,
                   SPARK_LOCAL_DIRS=tmp, PYTHONUNBUFFERED="1")
        self.t_spawn = time.monotonic()
        LIVE.add(self)
        self.p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, cwd=root, env=env)

    def _fail(self, what: str):
        self.close()
        with open(self.log_path) as f:
            log = f.read().splitlines()
        errors = [x for x in log if not x.startswith("\t") and ("Error" in x or "Exception" in x)]
        raise BenchError(f"worker {what}; see {self.log_path}:\n" + "\n".join(errors[:5] + log[-5:]))

    def event(self) -> dict:
        line = self.p.stdout.readline()
        if not line:
            self._fail("ended early")
        return json.loads(line)

    def send(self, cmd: str) -> dict:
        self.p.stdin.write(cmd + "\n")
        self.p.stdin.flush()
        return self.event()

    def result(self) -> dict:
        lines = self.p.stdout.read().splitlines()
        if self.p.wait() != 0 or not lines:
            self._fail(f"exited with {self.p.returncode}")
        self._log.close()
        return json.loads(lines[-1])

    def close(self) -> None:
        if self.p.poll() is None:
            kill_tree(self.p.pid)
        self.p.wait()
        self._log.close()
        LIVE.discard(self)


def run_worker(root, run_dir, name, spec) -> tuple[float | None, dict]:
    """Spawn a non-interactive worker; (setup_s, result)."""
    w = Worker(root, run_dir, name, spec)
    try:
        setup = None
        if spec["mode"] != "chain":
            setup = w.event()["t_ready"] - w.t_spawn
        return setup, w.result()
    finally:
        w.close()


def tail_of(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    if len(xs) <= 10:
        return None, None
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


def sink_output(out_dir: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``out_dir/sinks``."""
    files = size = 0
    for dirpath, _d, names in os.walk(os.path.join(out_dir, "sinks")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def load_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f]


def span_metrics(spans: list[dict], roots: list[dict]) -> dict:
    """Per-call medians of the spans below each root span."""
    def med(fn):
        return median([fn(r) for r in roots]) if roots else 0.0

    def kid_s(name):
        return lambda r: union_s(children(spans, r, name))
    return {
        "sink.write_s": med(kid_s("sink.write")),
        "sink.jobs": med(lambda r: len(children(spans, r, "sink.write"))),
        "counters.s": med(kid_s("counters.write")),
        "lineage.s": med(kid_s("lineage.write")),
        "manifest.save_s": med(kid_s("manifest.save")),
        "checkpoint.manifest_saves": med(lambda r: len(children(spans, r, "manifest.save"))),
        "checkpoint.fingerprint_s": med(kid_s("fingerprint")),
    }


def probe_metrics(probe: dict, chain1: dict, cores_n: int) -> dict:
    c = probe["chain_s"]
    return {
        "scan.self_s": c["scan"],
        "parse.self_s": c["parse"] - c["scan"],
        "enrich.self_s": c["enrich"] - c["parse"],
        "route.self_s": c["route"] - c["enrich"],
        "shuffle.self_s": c["shuffle"] - c["route"],
        "parse.ok_ratio": probe["parse_ok"] / probe["rows"],
        "route.copies_per_row": probe["copies"] / probe["rows"],
        "shuffle.write_mb": probe["shuffle_write_mb"],
        "shuffle.skew_max_over_median": probe["skew_max_over_median"],
        "cache.mb": probe["cache_mb"],
        "scaling.efficiency": chain1["shuffle"] / (cores_n * c["shuffle"]),
    }


def exec_metrics(per_call: dict, call_s: float, cores_n: int) -> dict:
    return {
        "exec.cpu_s": per_call["cpu_s"],
        "exec.cpu_util": per_call["cpu_s"] / (call_s * cores_n),
        "jvm.gc_s": per_call["gc_s"],
        "spill.mb": per_call["spill_mb"],
        "spark.jobs_per_call": per_call["jobs"],
        "spark.tasks_per_call": per_call["tasks"],
    }


# --- batch ----------------------------------------------------------------------

def bench_batch(w, args, root, run_dir, pdf, paths):
    in_dir = os.path.dirname(paths[0])
    spans_path = os.path.join(run_dir, "spans.jsonl")
    setup, res = run_worker(root, run_dir, "batch", {
        "mode": "batch", "input": in_dir, "out": os.path.join(run_dir, "out"),
        "warm_input": paths[0], "trace": args.trace, "seconds": args.seconds,
        "spans": spans_path})
    calls = res["calls"]

    ref = Reference.build(pdf)
    one_file = slice(0, w.turns_per_file)
    want = {"full": (ref.summary(), ref.counters()),
            "tiny": (ref.summary(one_file), ref.counters(one_file))}
    problems = []
    checked = {}
    for c in calls:     # the rerun rewrites the last measured call's directory
        if c["out"] not in checked:
            checked[c["out"]] = check_batch_output(
                c["out"], *want["tiny" if c["phase"] == "warm_tiny" else "full"])
        problems += [f"{c['phase']} call: {p}" for p in checked[c["out"]]]
    failed = sum(1 for c in calls if checked[c["out"]])

    measured = [c for c in calls if c["phase"] == "measure" and not c["traced"]]
    call_s = median([c["s"] for c in measured])
    reruns = [c for c in calls if c["phase"] == "rerun"]
    input_bytes = dir_bytes(in_dir)
    timed = [c["s"] for c in calls if c["phase"] == "measure"]
    info = {
        # settled: the measured calls agree within 10%; warm_over_measured
        # shows how much the last warm-up call was still above them
        "settled": max(timed) <= 1.10 * min(timed),
        "warm_over_measured": [c["s"] for c in calls if c["phase"] == "warm"][-1] / median(timed),
        "call_s": {p: [round(c["s"], 3) for c in calls if c["phase"] == p]
                   for p in ("cold", "warm_tiny", "warm", "measure", "rerun")},
    }
    if not args.trace:
        metrics = {
            "setup_s": setup,
            "first_run_s": calls[0]["s"],
            "turns_per_s": w.turns / call_s,
            "latency_p50_s": call_s,
            "rerun_s": median([c["s"] for c in reruns]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        return metrics, info, problems, len(calls), failed

    _, chain1 = run_worker(root, run_dir, "chain1", {
        "mode": "chain", "input": in_dir, "trace": 0, "cores": 1})
    spans = load_spans(spans_path)
    roots = [s for s in spans if s["name"] == "call" and s["parent"] is None]
    measure_ids = {i for i, c in enumerate(calls) if c["phase"] == "measure" and c["traced"]}
    traced_roots = [r for r in roots if r["n"] in measure_ids]
    rerun_root = [r for r in roots if calls[r["n"]]["phase"] == "rerun"]
    sm = span_metrics(spans, traced_roots)
    traced_s = median([c["s"] for c in calls if c["phase"] == "measure" and c["traced"]])
    per_call = {k: median([c["spark"][k] for c in measured]) for k in measured[0]["spark"]}
    sink_files, sink_bytes = sink_output(measured[-1]["out"])
    with open(os.path.join(measured[-1]["out"], "_metrics", "part-00000.json")) as f:
        stage_rows = {r["stage"]: r for r in map(json.loads, f)}
    with open(os.path.join(reruns[0]["out"], "_metrics", "part-00000.json")) as f:
        rerun_rows = {r["stage"]: r for r in map(json.loads, f)}
    metrics = {
        "session.start_s": setup,
        "scan.files": w.files, "scan.input_mb": input_bytes / 1e6,
        **probe_metrics(res["probe"], chain1["chain_s"], cores()),
        "sink.write_s": sm["sink.write_s"], "sink.jobs": sm["sink.jobs"],
        "sink.files": sink_files, "sink.mb_written": sink_bytes / 1e6,
        "sink.bytes_per_input_byte": sink_bytes / input_bytes,
        "checkpoint.commit_s": sm["manifest.save_s"],
        "checkpoint.fingerprint_s": sm["checkpoint.fingerprint_s"],
        "call.s_p50": call_s, "call.files": w.files,
        **exec_metrics(per_call, call_s, cores()),
        "trace.overhead": traced_s / call_s - 1,
    }
    info["layers"] = {
        "counters.s": sm["counters.s"],
        "counters.rows": stage_rows["counters"]["out_rows"],
        "lineage.s": sm["lineage.s"],
        "checkpoint.manifest_saves": sm["checkpoint.manifest_saves"],
        "rerun.rows_recomputed": rerun_rows["parse+enrich+route"]["out_rows"],
        "rerun.manifest_saves": span_metrics(spans, rerun_root)["checkpoint.manifest_saves"],
        "enrich.broadcast_joins": res["probe"]["broadcast_joins"],
        "call.self_s": median([self_s(spans, r) for r in traced_roots]),
        "chain_s_local4": res["probe"]["chain_s"],
        "chain_s_local1": chain1["chain_s"],
    }
    return metrics, info, problems, len(calls), failed


# --- stream ---------------------------------------------------------------------

class Landing:
    """The generator side of the stream: lands pre-written files into the
    watched directory by atomic rename and reads commit times back from the
    query's checkpoint (file-source log + commit log)."""

    def __init__(self, gen_paths: list[str], watched: str, checkpoint: str):
        self.gen = gen_paths
        self.watched = watched
        self.ck = checkpoint
        self.next = 0
        self.landed: list[str] = []

    def land(self) -> tuple[str, float]:
        src = self.gen[self.next]
        name = os.path.basename(src)
        os.rename(src, os.path.join(self.watched, name))
        self.next += 1
        self.landed.append(name)
        return name, time.time()

    def wait(self, names: list[str], deadline: float) -> dict[str, float]:
        """name -> commit time of the micro-batch that carried it."""
        while True:
            batch_of = {f: b for b, fs in stream_batches(self.ck).items() for f in fs}
            out = {}
            for n in names:
                c = os.path.join(self.ck, "commits", str(batch_of.get(n, -1)))
                if n in batch_of and os.path.exists(c):
                    out[n] = os.stat(c).st_mtime
            if len(out) == len(names):
                return out
            if time.monotonic() > deadline:
                raise BenchError(f"files not committed in time: {sorted(set(names) - set(out))}")
            time.sleep(0.05)


def bench_stream(w, args, root, run_dir, pdf, gen_paths, deadline):
    ref = Reference.build(pdf)
    per = w.turns_per_file
    fsum = {os.path.basename(p): ref.summary(slice(i * per, (i + 1) * per))
            for i, p in enumerate(gen_paths)}
    watched = os.path.join(run_dir, "in")
    out = os.path.join(run_dir, "out")
    os.makedirs(watched)
    lands = Landing(gen_paths, watched, os.path.join(out, "_checkpoint"))
    spans_path = os.path.join(run_dir, "spans.jsonl")

    first, _ = lands.land()
    wk = Worker(root, run_dir, "stream", {
        "mode": "stream", "input": watched, "out": out, "trace": args.trace,
        "spans": spans_path})
    try:
        setup = wk.event()["t_ready"] - wk.t_spawn
        t_start = wk.send("start")["t"]
        first_run = lands.wait([first], deadline)[first] - t_start

        warm = []                       # closed loop
        for _ in range(STREAM_WARMUP_FILES):
            name, t = lands.land()
            warm.append(lands.wait([name], deadline)[name] - t)

        if args.trace:
            wk.send("mark")
        t0 = time.time() + 0.25         # open loop: file k is due at t0 + k*interval
        due, late = {}, []
        for k in range(w.steady_files):
            d = t0 + k * w.interval_s
            time.sleep(max(0.0, d - time.time()))
            name, t = lands.land()
            due[name] = d
            late.append(t - d)
        steady = lands.wait(list(due), deadline)
        lags = [steady[n] - due[n] for n in due]
        if args.trace:
            wk.send("delta")

        t_b = time.time()               # backlog lands at once
        backlog = [lands.land()[0] for _ in range(w.backlog_files)]
        drain = max(lands.wait(backlog, deadline).values()) - t_b

        reruns = []                     # restarts over the committed checkpoint
        for _ in range(0 if args.trace else STREAM_RESTARTS):
            wk.send("halt")
            name, _ = lands.land()
            t_restart = wk.send("restart")["t"]
            reruns.append(lands.wait([name], deadline)[name] - t_restart)
        wk.p.stdin.write("stop\n")
        wk.p.stdin.flush()
        res = wk.result()
    finally:
        wk.close()

    batches = stream_batches(lands.ck)
    attempted, failed, problems = check_stream_output(out, batches, fsum, lands.landed)

    batch_of = {f: b for b, fs in batches.items() for f in fs}
    steady_ids = sorted({batch_of[n] for n in due})
    prog = {p["batchId"]: p for p in res["progress"] if p["numInputRows"] > 0}
    dur = {b: prog[b]["durationMs"] for b in steady_ids if b in prog}

    def p50(key):
        return median([d.get(key, 0) for d in dur.values()]) / 1e3

    tail, tail_pct = tail_of(lags)
    info = {
        "warmup_commit_s": [round(x, 3) for x in warm],
        "lag_s": sorted(round(x, 3) for x in lags),
        "lag_tail_s": tail, "lag_tail_pct": tail_pct, "lag_samples": len(lags),
        "generator_late_max_s": max(late),
        "backlog_turns": w.backlog_files * per, "drain_s": drain,
        "restart_s": reruns,
        "stream.batches": len(batches),
        "stream.files_per_batch": median([len(batches[b]) for b in steady_ids]),
        "stream.trigger_s_p50": p50("triggerExecution"),
        "stream.add_batch_s_p50": p50("addBatch"),
        "stream.planning_s_p50": p50("queryPlanning"),
        "stream.wal_commit_s_p50": p50("walCommit"),
        "stream.backlog_files_max": max(len(v) for v in batches.values()),
    }
    if not args.trace:
        metrics = {
            "setup_s": setup,
            "first_run_s": first_run,
            "turns_per_s": w.backlog_files * per / drain,
            "latency_p50_s": median(lags),
            "rerun_s": median(reruns),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        return metrics, info, problems, attempted, failed

    _, chain1 = run_worker(root, run_dir, "chain1", {
        "mode": "chain", "input": watched, "trace": 0, "cores": 1})
    spans = load_spans(spans_path)
    roots = [s for s in spans if s["name"] == "stream.batch" and s["batch"] in dur]
    sm = span_metrics(spans, roots)
    call_s = p50("triggerExecution")
    traced = [d["triggerExecution"] for b, d in dur.items() if b % 2 == 0]
    untraced = [d["triggerExecution"] for b, d in dur.items() if b % 2 == 1]
    n_steady = len(steady_ids)
    per_call = {k: v / n_steady for k, v in res["spark"].items()}
    landed_bytes = dir_bytes(watched)
    sink_files, sink_bytes = sink_output(out)
    n_data = len(batches)
    metrics = {
        "session.start_s": setup,
        "scan.files": len(lands.landed), "scan.input_mb": landed_bytes / 1e6,
        **probe_metrics(res["probe"], chain1["chain_s"], cores()),
        "sink.write_s": sm["sink.write_s"], "sink.jobs": sm["sink.jobs"],
        "sink.files": sink_files / n_data, "sink.mb_written": sink_bytes / 1e6 / n_data,
        "sink.bytes_per_input_byte": sink_bytes / landed_bytes,
        "checkpoint.commit_s": p50("walCommit") + p50("commitOffsets"),
        "checkpoint.fingerprint_s": p50("latestOffset"),
        "call.s_p50": call_s, "call.files": info["stream.files_per_batch"],
        **exec_metrics(per_call, call_s, cores()),
        "trace.overhead": median(traced) / median(untraced) - 1,
    }
    info["layers"] = {"enrich.broadcast_joins": res["probe"]["broadcast_joins"],
                      "chain_s_local4": res["probe"]["chain_s"],
                      "chain_s_local1": chain1["chain_s"]}
    return metrics, info, problems, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("loongcollector_spark") is None:
        print(f"pipebench: no loongcollector_spark package under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    run_dir = os.path.join(root, ".pipebench", f"{w.name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    timer = threading.Timer(RUN_DEADLINE_S, overrun)
    timer.daemon = True
    timer.start()
    try:
        wrong = self_check(run_dir) if args.trace else []
        if wrong:
            print(f"pipebench: checker self-check failed: {wrong}", file=sys.stderr)
            return 3
        gen_dir = os.path.join(run_dir, "gen")
        pdf, paths = generate(w, args.seed, gen_dir)
        if w.mode == "batch":
            metrics, info, problems, attempted, failed = bench_batch(
                w, args, root, run_dir, pdf, paths)
        else:
            metrics, info, problems, attempted, failed = bench_stream(
                w, args, root, run_dir, pdf, paths, deadline)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(root, ".pipebench", f"spans-{w.name}.jsonl"))
    except BenchError as e:
        print(f"pipebench: {e}", file=sys.stderr)
        return 4
    finally:
        timer.cancel()
    shutil.rmtree(run_dir, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    assert set(metrics) == set(units), set(metrics) ^ set(units)
    print(json.dumps({"workload": w.name, "seed": args.seed, "turns": w.turns,
                      "files": w.files, "cores": cores(), "driver_mem": DRIVER_MEM,
                      "problems": problems[:20], **info}))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
