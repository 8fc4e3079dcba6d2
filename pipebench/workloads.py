"""Workload definitions and seeded input generation.

Inputs are made by this (generator) process only: one
``datagen.gen_transcripts_pdf`` call per run, split into parquet files with
pyarrow. The program under test only ever sees those files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str                 # "batch" | "stream"
    turns_per_file: int
    files: int                # batch: input files; stream: files generated
    hot_frac: float
    # stream schedule (open loop, one generator thread, atomic renames)
    interval_s: float = 0.0   # steady-phase gap between file landings
    steady_files: int = 0
    backlog_files: int = 0

    @property
    def turns(self) -> int:
        return self.turns_per_file * self.files


# batch_hot: the production spark-submit shape. Parse carries most of the
# per-row work and the hot conversation (30% of turns) is what
# salted_repartition exists for; the no-op rerun drives the manifest read side.
# stream_tail: continuous-collector mode. One 4000-turn file per micro-batch,
# landed at about twice the warm micro-batch time, so each file rides its own
# batch, lag does not depend on arrival phase, and a slow spell of the host
# does not tip the stream into queueing; then a backlog lands at once and its
# drain rate stands in for sustainable throughput.
WORKLOADS = {
    "batch_hot": Workload("batch_hot", "batch", turns_per_file=2000, files=32,
                          hot_frac=0.3),
    "stream_tail": Workload("stream_tail", "stream", turns_per_file=4000,
                            files=23, hot_frac=0.0, interval_s=2.5,
                            steady_files=8, backlog_files=8),
}

# Stream warm-up is closed loop: the next file lands only after the previous
# one committed. A fixed count gives every run the same JIT history.
STREAM_WARMUP_FILES = 5
STREAM_RESTARTS = 1


def generate(w: Workload, seed: int, out_dir: str):
    """Write the workload's input as ``out_dir/part-NNNNN.parquet``.

    Returns the generated pandas frame (for the reference) and the list of
    file paths in landing order."""
    from loongcollector_spark.datagen import gen_transcripts_pdf

    pdf = gen_transcripts_pdf(
        n_turns=w.turns, n_convs=max(w.turns // 10, 2),
        hot_frac=w.hot_frac, seed=seed,
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.set_column(
        table.schema.get_field_index("ts"), "ts",
        table["ts"].cast(pa.timestamp("us", tz="UTC")),
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(w.files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * w.turns_per_file, w.turns_per_file), p)
        paths.append(p)
    return pdf, paths


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def key_hashes(conv_id, turn_idx) -> np.ndarray:
    """Order-insensitive row identity: splitmix64 of (conv number, turn).

    A sum of these over a row set (mod 2**64) catches a missing, extra or
    duplicated row where a plain count would not. ``conv_id`` is an arrow
    array of ``conv_NNNNNNNN`` strings."""
    conv = pc.cast(pc.utf8_slice_codeunits(conv_id, 5), pa.uint64()).to_numpy()
    z = (conv << np.uint64(20)) + np.asarray(turn_idx, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def hash_sum(h: np.ndarray) -> int:
    with np.errstate(over="ignore"):
        return int(h.sum(dtype=np.uint64))
