"""The benchmark's workloads: seeded inputs, one timed unit of work each,
and the check of its outputs against the sequential oracle.

Inputs are a pure function of (workload, seed) through
``fixtures.make_transcripts``; the oracle's expected outputs are
computed once per run, before set-up, and every iteration is checked
against them.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.operators import aggregates, records
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.plans import pipeline
from sqlite_otel_spark.streaming import stream
from tracing import parse_time

TRANSCRIPTS = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
FACT_TABLES = ("spans", "log_records", "metric_data_points", "rejects")
CONFLICT_REASON = "spans PK violation"


@dataclass
class Outcome:
    """One timed iteration. ``commits`` are the (start, end) epoch times
    of its commit units: the whole run for a batch, one interval per
    micro-batch for a stream."""
    wall: float
    commits: list[tuple[float, float]]
    ok: bool
    out_dir: str
    aggregate_rows: int = 0


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _root(tracer, name: str):
    return tracer.span(name, root=True) if tracer is not None else nullcontext()


def _write(rows: list[dict], path: Path) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=TRANSCRIPTS), str(path))


def data_files(out_dir: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``out_dir``."""
    nbytes = nfiles = 0
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(dirpath, n))
                nfiles += 1
    return nbytes, nfiles


def kernel_probe(in_dir: Path, cfg: PipelineConfig, min_seconds: float) -> tuple[float, float]:
    """Drive ``operators.records.make_kernel`` on one core, without a JVM,
    over the Arrow batches Spark would hand it for this input: one batch
    per file (each file is one scan split), at most
    ``maxRecordsPerBatch`` rows, with the JVM-side ``ts_us``/``nb``
    projection of ``to_records`` reproduced in pyarrow. Returns
    (turns per second, emitted rows per turn)."""
    batches = []
    for path in sorted(in_dir.glob("*.parquet")):
        t = pq.read_table(path)
        t = pa.table({
            "conv_id": t["conv_id"], "turn_idx": t["turn_idx"], "role": t["role"],
            "tool": t["tool"], "ts_us": pc.cast(t["ts"], pa.int64()), "text": t["text"],
            "nb": pc.cast(pc.binary_length(t["text"]), pa.int32()),
        })
        batches.extend(t.to_batches(max_chunksize=50_000))
    kernel = records.make_kernel(records._pa_schema(extra_n_bytes=not cfg.emit_text),
                                 cfg.max_text_bytes, cfg.emit_text)
    turns = emitted = 0
    t0 = time.perf_counter()
    while True:
        for rb in kernel(iter(batches)):
            emitted += rb.num_rows
        turns += sum(b.num_rows for b in batches)
        elapsed = time.perf_counter() - t0
        if elapsed >= min_seconds:
            return turns / elapsed, emitted / turns


class BatchBulk:
    """One table through ``run_pipeline``, then ``sink_counts``,
    ``collect_aggregates`` and ``write_sinks`` to parquet."""

    name = "batch_bulk"
    n_turns = 12_000
    # span name -> layer, for the attribution rule in tracing.py
    labels = {"run_pipeline": "plan", "conflicts": "conflicts", "sink_counts": "fanout",
              "collect_aggregates": "aggregate", "write_sinks": "sink_write"}

    def __init__(self, work: Path, seed: int, nproc: int):
        self.work = work
        self.cfg = PipelineConfig()
        self.rows = make_transcripts(self.n_turns, seed=seed)
        self.in_dir = work / "in"
        self.in_dir.mkdir(parents=True)
        for i in range(nproc):  # one scan split per core
            _write(self.rows[i::nproc], self.in_dir / f"part-{i:03d}.parquet")
        self.n_input = len(self.rows)
        oracle = OracleDB(self.cfg.max_text_bytes).run(self.rows)
        self.expected = oracle.sink_counts()
        acc: dict = {}
        for rows, col in ((oracle.accepted, 1), (oracle.rejects, 3)):
            for r in rows:
                a = acc.setdefault(r["signal_type"], [r["signal_type"], 0, 0, 0, 0])
                a[col] += 1
                a[col + 1] += r["n_bytes"]
        self.expected_accounting = {tuple(a) for a in acc.values()}

    def run_once(self, spark, out_dir: str, tracer=None) -> Outcome:
        t0, e0 = time.perf_counter(), time.time()
        with _root(tracer, "run"):
            with _span(tracer, "run_pipeline"):
                src = spark.read.parquet(str(self.in_dir))
                result = pipeline.run_pipeline(spark, src, self.cfg)
            try:
                with _span(tracer, "sink_counts"):
                    counts = aggregates.sink_counts(result.sinks)
                with _span(tracer, "collect_aggregates"):
                    aggs = pipeline.collect_aggregates(result)
                with _span(tracer, "write_sinks"):
                    pipeline.write_sinks(result, out_dir, self.cfg)
            finally:
                result.unpersist()
        wall, e1 = time.perf_counter() - t0, time.time()
        ok = (counts == self.expected
              and set(map(tuple, aggs["accounting"])) == self.expected_accounting)
        return Outcome(wall, [(e0, e1)], ok, out_dir, len(aggs["by_time_bucket"]))

    def traced_extras(self, spark, tracer, outcome: Outcome) -> None:
        pass


class StreamMicrobatch:
    """The same generator's output, sorted into arrival order and split
    into files that ``start_stream`` drains with an availableNow trigger,
    one file per micro-batch."""

    name = "stream_microbatch"
    n_turns = 2_000
    n_files = 4
    timeout_s = 150
    labels = {"drain": "plan", "process_batch": "sink_write", "conflicts": "conflicts",
              "read_back": "fanout", "windowed_counts": "aggregate"}

    def __init__(self, work: Path, seed: int, nproc: int):
        self.work = work
        self.cfg = PipelineConfig(max_files_per_trigger=1)
        # Arrival order is file order, so the cross-batch span-PK state
        # matches the oracle's canonical (conv_id, turn_idx) order.
        self.rows = sorted(make_transcripts(self.n_turns, seed=seed),
                           key=lambda r: (r["conv_id"], r["turn_idx"]))
        self.in_dir = work / "in"
        self.in_dir.mkdir(parents=True)
        n = -(-len(self.rows) // self.n_files)
        base = time.time() - 3600
        for i in range(self.n_files):
            path = self.in_dir / f"part-{i:03d}.parquet"
            _write(self.rows[i * n:(i + 1) * n], path)
            os.utime(path, (base + i, base + i))  # file source admits by mtime
        self.n_input = len(self.rows)
        self.expected = OracleDB(self.cfg.max_text_bytes).run(self.rows).sink_counts()
        self._runs = 0

    def run_once(self, spark, out_dir: str, tracer=None) -> Outcome:
        self._runs += 1
        ckpt = str(self.work / f"ckpt-{self._runs}")
        t0 = time.perf_counter()
        with _root(tracer, "run"):
            with _span(tracer, "drain"):
                q = stream.start_stream(spark, str(self.in_dir), out_dir, self.cfg,
                                        checkpoint_dir=ckpt)
                done = q.awaitTermination(self.timeout_s)
        wall = time.perf_counter() - t0
        if not done:
            q.stop()
        commits = []
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                start = parse_time(p["timestamp"])
                commits.append((start, start + p["durationMs"]["triggerExecution"] / 1000))
        ok = done and q.exception() is None and len(commits) == self.n_files
        shutil.rmtree(ckpt, ignore_errors=True)
        if ok:
            with _root(tracer, "check"), _span(tracer, "read_back"):
                ok = self._read_back(spark, out_dir) == self.expected
        return Outcome(wall, commits, ok, out_dir)

    def _read_back(self, spark, out_dir: str) -> dict[str, int]:
        sinks = {t: spark.read.parquet(f"{out_dir}/{t}") for t in FACT_TABLES}
        sinks.update(stream.read_dims(spark, out_dir))  # dims deduplicated on read
        return aggregates.sink_counts(sinks)

    def traced_extras(self, spark, tracer, outcome: Outcome) -> None:
        """The streaming form of the time-bucket rollup
        (``stream.windowed_counts``) over the same files; its row total
        must equal the input's."""
        ckpt = str(self.work / "ckpt-windowed")
        with _root(tracer, "check"), _span(tracer, "windowed_counts"):
            q = (stream.windowed_counts(spark, str(self.in_dir)).writeStream
                 .format("memory").queryName("perfbench_windowed").outputMode("complete")
                 .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
            done = q.awaitTermination(self.timeout_s)
            rows = spark.table("perfbench_windowed").collect() if done else []
        shutil.rmtree(ckpt, ignore_errors=True)
        outcome.aggregate_rows = len(rows)
        outcome.ok = outcome.ok and done and sum(r.n_turns for r in rows) == self.n_input


WORKLOADS = {w.name: w for w in (BatchBulk, StreamMicrobatch)}
