"""In-memory spans around the calls into each layer (traced runs only).

Spark is lazy, so these wrap only public calls that execute work: the
parquet writes of the sinks / counters / lineage, ``Manifest.load/save``,
``input_fingerprint`` and the streaming ``foreachBatch`` callback. Spans are
kept in memory and written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._call: int | None = None   # open root span; sink writes run on pool threads

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._call
        if root:
            self._call = sid
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if root:
                self._call = parent
            with self._lock:
                self.spans.append({"id": sid, "name": name, "parent": parent,
                                   "start": t0, "end": t1, **attrs})

    def install(self, trace_batch=lambda batch_id: True) -> None:
        """Patch the program's layer boundaries. ``trace_batch`` decides per
        stream micro-batch whether it is traced, so traced and untraced
        batches of one run can be compared for the tracing overhead."""
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from loongcollector_spark import checkpoint
        from loongcollector_spark.plans import pipeline

        def write_kind(path):
            path = str(path)
            if "/sinks/" in path:
                return "sink.write"
            if path.endswith("/counters"):
                return "counters.write"
            if path.endswith("/_lineage"):
                return "lineage.write"
            return "write"

        orig_parquet = DataFrameWriter.parquet

        def parquet(writer, path, *a, **k):
            with self.span(write_kind(path)):
                return orig_parquet(writer, path, *a, **k)
        DataFrameWriter.parquet = parquet

        orig_load = checkpoint.Manifest.load.__func__

        def load(cls, *a, **k):
            with self.span("manifest.load"):
                return orig_load(cls, *a, **k)
        checkpoint.Manifest.load = classmethod(load)

        orig_save = checkpoint.Manifest.save

        def save(manifest):
            with self.span("manifest.save"):
                return orig_save(manifest)
        checkpoint.Manifest.save = save

        orig_fp = pipeline.input_fingerprint

        def fingerprint(df):
            with self.span("fingerprint"):
                return orig_fp(df)
        pipeline.input_fingerprint = fingerprint

        orig_fb = DataStreamWriter.foreachBatch

        def foreach_batch(writer, func):
            def traced(df, batch_id):
                self.enabled = trace_batch(batch_id)
                with self.span("stream.batch", root=True, batch=batch_id):
                    return func(df, batch_id)
            return orig_fb(writer, traced)
        DataStreamWriter.foreachBatch = foreach_batch

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def children(spans: list[dict], root: dict, name: str | None = None) -> list[dict]:
    return [s for s in spans if s["parent"] == root["id"]
            and (name is None or s["name"] == name)]


def union_s(spans: list[dict]) -> float:
    """Wall time covered by possibly overlapping spans."""
    total, end = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["end"] > end:
            total += s["end"] - max(s["start"], end)
            end = s["end"]
    return total


def self_s(spans: list[dict], root: dict) -> float:
    """A span's duration minus the part its child spans cover."""
    return (root["end"] - root["start"]) - union_s(children(spans, root))
