"""Output checks against the independent pure-Python reference.

The reference is ``loongcollector_spark.oracle`` (``parse_row`` /
``enrich_row`` / ``route_row``: plain ``re`` and ``json``, no Spark). Every
timed operation's output is compared off the clock:

* a batch call: per-sink row counts, per-sink order-insensitive key sums,
  the ``(sink, window_start, role)`` counters, ``_lineage`` present and
  ``_manifest.json`` finished;
* a stream micro-batch: each sink's rows carrying that ``_batch_id`` match
  the files the file-source log assigned to it, and every landed turn is in
  ``sink_default`` exactly once.

``python3 pipebench/check.py`` runs the checker's own check: outputs built
from the reference must pass, and each tampered copy must fail.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workloads import hash_sum, key_hashes  # noqa: E402

SINKS = ("sink_tool", "sink_errors", "sink_assistant", "sink_default")
HOUR_US = 3_600_000_000


@dataclass
class Reference:
    """Per-row reference results for one generated input."""
    hashes: np.ndarray                     # uint64 row identity
    member: dict[str, np.ndarray]          # sink -> bool mask
    window_us: np.ndarray                  # hour window start, epoch us
    role: np.ndarray

    @classmethod
    def build(cls, pdf) -> "Reference":
        from loongcollector_spark.oracle import enrich_row, parse_row, route_row

        n = len(pdf)
        member = {s: np.zeros(n, dtype=bool) for s in SINKS}
        cols = zip(pdf["text"].tolist(), pdf["tool"].tolist(), pdf["role"].tolist())
        for i, (text, tool, role) in enumerate(cols):
            row = parse_row(text)
            row["tool"], row["role"] = tool, role
            for s in route_row(enrich_row(row)):
                member[s][i] = True
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        return cls(
            hashes=key_hashes(pa.array(pdf["conv_id"]), pdf["turn_idx"].to_numpy()),
            member=member,
            window_us=ts_us // HOUR_US * HOUR_US,
            role=pdf["role"].to_numpy(dtype=object),
        )

    def summary(self, rows: slice | np.ndarray = slice(None)) -> "Summary":
        out = Summary()
        for s in SINKS:
            m = self.member[s][rows]
            out.rows[s] = int(m.sum())
            out.keysum[s] = hash_sum(self.hashes[rows][m])
        return out

    def counters(self, rows: slice = slice(None)) -> Counter:
        c: Counter = Counter()
        for s in SINKS:
            m = self.member[s][rows]
            c.update(zip([s] * int(m.sum()), self.window_us[rows][m].tolist(),
                         self.role[rows][m].tolist()))
        return c


@dataclass
class Summary:
    rows: dict = field(default_factory=dict)
    keysum: dict = field(default_factory=dict)

    def add(self, other: "Summary") -> None:
        for s in SINKS:
            self.rows[s] = self.rows.get(s, 0) + other.rows[s]
            self.keysum[s] = (self.keysum.get(s, 0) + other.keysum[s]) % (1 << 64)


def _read(path: str, columns: list[str]) -> pa.Table | None:
    if not os.path.isdir(path):
        return None
    return pq.read_table(path, columns=columns)


def check_batch_output(out_dir: str, want: Summary,
                       want_counters: Counter) -> list[str]:
    """Problems found in one ``run_pipeline`` output directory ([] = ok)."""
    bad = []
    for s in SINKS:
        t = _read(f"{out_dir}/sinks/{s}", ["conv_id", "turn_idx"])
        if t is None:
            bad.append(f"{s}: missing")
            continue
        got = (t.num_rows, hash_sum(key_hashes(t["conv_id"], t["turn_idx"])))
        if got != (want.rows[s], want.keysum[s]):
            bad.append(f"{s}: rows/keysum {got} != {(want.rows[s], want.keysum[s])}")
    t = _read(f"{out_dir}/counters", ["sink", "window_start", "role", "n_rows"])
    if t is None:
        bad.append("counters: missing")
    else:
        ws = t["window_start"].to_numpy().astype("datetime64[us]").astype(np.int64)
        got = Counter()
        for k, n in zip(zip(t["sink"].to_pylist(), ws.tolist(),
                            t["role"].to_pylist()), t["n_rows"].to_pylist()):
            got[k] += n
        if got != want_counters:
            bad.append(f"counters: {len(set(got.items()) ^ set(want_counters.items()))}"
                       " (sink, window_start, role) entries differ")
    if not os.path.exists(f"{out_dir}/_lineage/_SUCCESS"):
        bad.append("_lineage: missing")
    try:
        with open(f"{out_dir}/_manifest.json") as f:
            stages = json.load(f)["stages"]
        undone = [k for k in ("run", "counters", *(f"sink:{s}" for s in SINKS))
                  if stages.get(k, {}).get("status") != "done"]
        if undone:
            bad.append(f"_manifest.json: not done: {undone}")
    except (OSError, ValueError, KeyError) as e:
        bad.append(f"_manifest.json: {e!r}")
    return bad


def stream_batches(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> file names, from the file-source log (compacted or not)."""
    out: dict[int, list[str]] = {}
    src = f"{checkpoint}/sources/0"
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], []).append(os.path.basename(e["path"]))
    return {b: sorted(set(v)) for b, v in out.items()}


def check_stream_output(out_dir: str, batches: dict[int, list[str]],
                        file_summary: dict[str, Summary],
                        landed: list[str]) -> tuple[int, int, list[str]]:
    """Per micro-batch comparison: (batches attempted, batches failed,
    problems). Landed turns missing from or repeated in ``sink_default``
    count as one more failed operation."""
    bad, failed = [], 0
    got = {}
    for s in SINKS:
        t = _read(f"{out_dir}/sinks/{s}", ["conv_id", "turn_idx", "_batch_id"])
        got[s] = (np.zeros(0, np.uint64), np.zeros(0, np.int64)) if t is None else (
            key_hashes(t["conv_id"], t["turn_idx"]), t["_batch_id"].to_numpy())
    for b, files in sorted(batches.items()):
        want = Summary()
        for f in files:
            want.add(file_summary[f])
        n_bad = len(bad)
        for s in SINKS:
            h, bid = got[s]
            mine = h[bid == b]
            if (len(mine), hash_sum(mine)) != (want.rows[s], want.keysum[s]):
                bad.append(f"batch {b} {s}: rows {len(mine)} != {want.rows[s]} "
                           "or key sum differs")
        failed += len(bad) > n_bad
    committed = [f for fs in batches.values() for f in fs]
    missing = sorted(set(landed) - set(committed))
    h, _ = got["sink_default"]
    want_rows = sum(file_summary[f].rows["sink_default"] for f in landed)
    if missing or len(h) != want_rows or len(np.unique(h)) != len(h):
        failed += 1
        bad.append(f"sink_default: {len(h)} rows, {len(np.unique(h))} distinct, "
                   f"{want_rows} landed turns (each must appear exactly once); "
                   f"files never committed: {missing}")
    return len(batches), failed, bad


# --- the checker's own check -------------------------------------------------

def _write_sinks(out_dir: str, pdf, ref: Reference, batch_of_row=None) -> None:
    for s in SINKS:
        m = ref.member[s]
        cols = {"conv_id": pa.array(pdf["conv_id"][m]),
                "turn_idx": pa.array(pdf["turn_idx"][m].astype(np.int32))}
        if batch_of_row is not None:
            cols["_batch_id"] = pa.array(batch_of_row[m])
        os.makedirs(f"{out_dir}/sinks/{s}", exist_ok=True)
        pq.write_table(pa.table(cols), f"{out_dir}/sinks/{s}/part-00000.parquet")


def _write_batch_out(out_dir: str, pdf, ref: Reference) -> None:
    _write_sinks(out_dir, pdf, ref)
    c = ref.counters()
    keys = list(c)
    os.makedirs(f"{out_dir}/counters")
    pq.write_table(pa.table({
        "sink": [k[0] for k in keys],
        "window_start": pa.array(np.array([k[1] for k in keys], "datetime64[us]")),
        "role": [k[2] for k in keys],
        "n_rows": [c[k] for k in keys],
    }), f"{out_dir}/counters/part-00000.parquet")
    os.makedirs(f"{out_dir}/_lineage")
    open(f"{out_dir}/_lineage/_SUCCESS", "w").close()
    stages = {k: {"status": "done"} for k in ("run", "counters", *(f"sink:{s}" for s in SINKS))}
    with open(f"{out_dir}/_manifest.json", "w") as f:
        json.dump({"stages": stages}, f)


def _tamper_rows(path: str, how: str) -> None:
    t = pq.read_table(path)
    t = t.slice(1) if how == "drop" else pa.concat_tables([t, t.slice(0, 1)])
    pq.write_table(t, path)


def self_check(work_dir: str, seed: int = 1) -> list[str]:
    """Failures of the checker itself: a faithful output that does not pass,
    or a tampered one that does."""
    from loongcollector_spark.datagen import gen_transcripts_pdf

    pdf = gen_transcripts_pdf(n_turns=600, n_convs=60, hot_frac=0.3, seed=seed)
    ref = Reference.build(pdf)
    want, want_c = ref.summary(), ref.counters()
    tampers = {
        "faithful": None,
        "sink_tool row dropped": lambda d: _tamper_rows(f"{d}/sinks/sink_tool/part-00000.parquet", "drop"),
        "sink_default row duplicated": lambda d: _tamper_rows(f"{d}/sinks/sink_default/part-00000.parquet", "dup"),
        "counter changed": lambda d: _tamper_rows(f"{d}/counters/part-00000.parquet", "drop"),
        "_lineage removed": lambda d: shutil.rmtree(f"{d}/_lineage"),
        "manifest unfinished": lambda d: json.dump({"stages": {}}, open(f"{d}/_manifest.json", "w")),
    }
    wrong = []
    for name, tamper in tampers.items():
        d = os.path.join(work_dir, "selfcheck_batch")
        shutil.rmtree(d, ignore_errors=True)
        _write_batch_out(d, pdf, ref)
        if tamper:
            tamper(d)
        if bool(check_batch_output(d, want, want_c)) != (tamper is not None):
            wrong.append(f"batch checker: {name}")
        shutil.rmtree(d)

    # stream: rows 0..299 are file a (batch 0), the rest file b (batch 1)
    batch_of_row = np.where(np.arange(len(pdf)) < 300, 0, 1).astype(np.int64)
    fsum = {"a": ref.summary(slice(0, 300)), "b": ref.summary(slice(300, None))}
    for name, tamper in {
        "faithful": None,
        "sink_default row duplicated": lambda d: _tamper_rows(f"{d}/sinks/sink_default/part-00000.parquet", "dup"),
        "sink_errors row dropped": lambda d: _tamper_rows(f"{d}/sinks/sink_errors/part-00000.parquet", "drop"),
    }.items():
        d = os.path.join(work_dir, "selfcheck_stream")
        shutil.rmtree(d, ignore_errors=True)
        _write_sinks(d, pdf, ref, batch_of_row)
        if tamper:
            tamper(d)
        _, failed, bad = check_stream_output(d, {0: ["a"], 1: ["b"]}, fsum, ["a", "b"])
        if bool(bad) != (tamper is not None) or bool(failed) != bool(bad):
            wrong.append(f"stream checker: {name}")
        shutil.rmtree(d)
    return wrong


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    work = os.path.join(os.getcwd(), ".pipebench")
    os.makedirs(work, exist_ok=True)
    wrong = self_check(work)
    print("checker self-check:", "ok" if not wrong else f"FAILED {wrong}")
    sys.exit(1 if wrong else 0)
