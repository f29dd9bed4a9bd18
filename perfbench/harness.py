"""Run state shared by the workloads: the Spark session, timed calls into
the program, the measured loop and input ingest."""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from evlog import Tracer

SLOTS = ("primary", "secondary", "tertiary")


class Bench:
    """One run: times every call into the program as a span, counts the
    calls made while measuring, and keeps per-slot latency samples.

    A workload names up to three slots, the operations its end-to-end
    latency metrics report: ``primary``, ``secondary`` and ``tertiary``."""

    def __init__(self, spark, tracer: Tracer, workdir: str, seconds: float,
                 started: float):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seconds = seconds
        self.started = started  # perf_counter value at process start
        self.setup_s: float | None = None
        self.phase = "setup"  # then "warmup", "measure", "final"
        self.attempted = 0
        self.rounds = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.by_name: dict[str, list[float]] = defaultdict(list)
        self.recall: float | None = None
        self.info: dict[str, float] = {}

    # -- timed calls ------------------------------------------------------

    def call(self, name: str, fn, slot: str | None = None):
        """Time one public call into the program (``fn``'s result must be
        fully computed when it returns: collected or checkpointed)."""
        if self.measuring:
            self.attempted += 1
        with self.tracer.span(name, slot if self.measuring else None, self.phase) as sp:
            out = fn()
        self._record(name, slot, sp["seconds"])
        return out

    @contextmanager
    def group(self, name: str, slot: str):
        """A span over several calls that together make one operation."""
        with self.tracer.span(name, slot if self.measuring else None, self.phase) as sp:
            yield
        self._record(name, slot, sp["seconds"])

    @property
    def measuring(self) -> bool:
        return self.phase == "measure"

    def _record(self, name, slot, seconds) -> None:
        if self.measuring:
            self.by_name[name].append(seconds)
            if slot is not None:
                self.samples[slot].append(seconds)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.started
        self.phase = "warmup"

    def measure(self, one_round, round_s: float, finish=None) -> None:
        """Run ``seconds // round_s`` whole rounds (at least one), then
        ``finish`` once. ``round_s`` is the workload's nominal round time
        on the reference machine, so a run measures about ``seconds``;
        the round count depends on ``seconds`` alone, so every run makes
        the same calls however fast the host is that minute."""
        self.phase = "measure"
        t0 = time.perf_counter()
        for r in range(max(1, int(self.seconds // round_s))):
            one_round(r)
            self.rounds += 1
        if finish is not None:
            finish()
        self.phase = "final"
        self.info["measured_s"] = time.perf_counter() - t0

    def p50_ms(self, slot: str) -> float:
        return statistics.median(self.samples[slot]) * 1e3

    # -- inputs -----------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def vectors_frame(self, name: str, ids: np.ndarray, X: np.ndarray):
        """The generated vectors as a parquet-backed (id, vec) DataFrame."""
        return self._ingest(name, pa.table({"id": pa.array(ids, pa.int64()),
                                            "vec": pa.array(list(X), pa.list_(pa.float32()))}))

    def text_frame(self, name: str, ids: np.ndarray, texts: list[str]):
        return self._ingest(name, pa.table({"doc_id": pa.array(ids, pa.int64()),
                                            "text": pa.array(texts, pa.string())}))

    def _ingest(self, name: str, table):
        """Land the table as one parquet file per core and read it lazily:
        every operation scans its input from storage, as a batch job
        would."""
        d = self.path(name)
        os.makedirs(d)
        n = self.spark.sparkContext.defaultParallelism
        step = -(-table.num_rows // n)
        for i in range(n):
            pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:03d}.parquet"))
        return self.spark.read.parquet(d)

    def local_vectors(self, ids: np.ndarray, X: np.ndarray, id_col: str = "qid"):
        """A small in-driver DataFrame (queries, append waves)."""
        import pandas as pd

        pdf = pd.DataFrame({id_col: ids.astype(np.int64), "vec": list(X.astype(np.float32))})
        return self.spark.createDataFrame(pdf, f"{id_col} long, vec array<float>")
