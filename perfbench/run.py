"""Collector benchmark: one workload per call, one JSON result line.

    python3 perfbench/run.py --workload batch_bulk --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of the repository. It generates the
workload's inputs from the seed, computes the sequential oracle's
expected outputs, sets up a Spark session on ``local[<nproc>]`` with one
untimed warm-up iteration, then repeats the workload for ``--seconds``
and checks every iteration against the oracle. The last line of stdout
is ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of one extra traced
iteration with ``--trace 1``. Workloads and metrics are described in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "turns_per_s": "1/s",
    "commit_p50_s": "s",
    "commit_p75_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "parse.kernel_turns_per_s": "1/s",
    "parse.records_per_turn": "count",
    "parse.emit_mb": "MB",
    "parse.stage_s": "s",
    "parse.python_cpu_s": "s",
    "plan.s": "s",
    "conflicts.s": "s",
    "conflicts.jobs": "count",
    "conflicts.invalid_turns": "count",
    "fanout.s": "s",
    "fanout.shuffle_mb": "MB",
    "aggregate.s": "s",
    "aggregate.rows": "count",
    "sink_write.s": "s",
    "sink_write.mb": "MB",
    "sink_write.files": "count",
    "commit.jobs": "count",
    "commit.in_jobs_s": "s",
    "commit.outside_jobs_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "memory.peak_pss_mb": "MB",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}
KERNEL_PROBE_S = 2.0
DRIVER_HEAP = "2g"


def quartiles(values: list[float]) -> tuple[float, float]:
    """(median, third quartile); a single sample is both."""
    if len(values) < 2:
        return values[0], values[0]
    _, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q2, q3


class Session:
    """The Spark session and the JVM behind it; ``close`` stops the
    session, the JVM and the JVM's Python workers, and waits for them."""

    def __init__(self, work: Path, nproc: int):
        from sqlite_otel_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.host": "localhost",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_HEAP}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.gateway = SparkContext._gateway
        self.jvm_pid = self.gateway.proc.pid

    def close(self) -> None:
        import tracing
        from pyspark import SparkContext

        proc = self.gateway.proc
        kids = tracing.descendants(proc.pid)
        try:
            self.spark.stop()
        finally:
            self.gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            deadline = time.time() + 20
            while kids and time.time() < deadline:
                kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
                time.sleep(0.1)
            for p in kids:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass


def attempt(wl, spark, out_dir: str, tracer=None):
    """One checked iteration; None when it raised."""
    try:
        return wl.run_once(spark, out_dir, tracer)
    except Exception:
        traceback.print_exc()
        return None


def end_to_end(wl, done, setup_s: float) -> dict:
    wall_p50, _ = quartiles([r.wall for r in done])
    c50, c75 = quartiles([e - s for r in done for s, e in r.commits])
    return {"turns_per_s": wl.n_input / wall_p50, "commit_p50_s": c50,
            "commit_p75_s": c75, "setup_s": setup_s}


def per_layer(wl, session: Session, out_dir: str, untraced_wall: float, spans_path: Path):
    """One traced iteration; returns (outcome, metrics)."""
    import tracing
    from pyspark.sql import functions as F
    from sqlite_otel_spark.operators import records
    from sqlite_otel_spark.plans import pipeline
    from sqlite_otel_spark.streaming import stream
    from workloads import CONFLICT_REASON, data_files, kernel_probe

    spark, sc = session.spark, session.spark.sparkContext
    status = tracing.SparkStatus(sc)
    tracer = tracing.Tracer(run_id=spans_path.stem)
    acc = sc.accumulator([], tracing.ListParam())
    status.settle()
    gc0, cpu0 = status.gc_s(), tracing.python_cpu_s(session.jvm_pid)
    targets = [(pipeline, "resolve_span_conflicts", "conflicts"),
               (stream, "resolve_span_conflicts", "conflicts"),
               (stream, "process_batch", "process_batch")]
    make_kernel = records.make_kernel
    records.make_kernel = tracing.tag_kernel(make_kernel, acc)
    try:
        with tracer.patched(targets):
            outcome = attempt(wl, spark, out_dir, tracer)
            if outcome is None:
                return None, {}
            cpu1 = tracing.python_cpu_s(session.jvm_pid)
            status.settle()
            gc1 = status.gc_s()
            wl.traced_extras(spark, tracer, outcome)
    finally:
        records.make_kernel = make_kernel
    status.settle()
    tracer.dump(str(spans_path))

    spans = tracer.spans
    roots = [s for s in spans if s["parent"] is None]
    run = roots[0]
    jobs = status.jobs(run["start"], max(s["end"] for s in roots))
    stages = status.stages(sid for j in jobs for sid in j["stages"])
    tasks = acc.value
    parse_iv = [(stages[i]["start"], stages[i]["end"])
                for i in {t[0] for t in tasks} if i in stages]
    layers: dict[str, float] = {}
    for root in roots:
        for name, sec in tracing.attribute(spans, root, wl.labels, parse_iv).items():
            if root is run or name != "unattributed":
                layers[name] = layers.get(name, 0.0) + sec
    job_layer = {j["id"]: tracing.layer_at(spans, wl.labels, j["start"]) for j in jobs}
    run_jobs = [j for j in jobs if j["start"] <= run["end"]]
    run_stages = [stages[i] for j in run_jobs for i in j["stages"] if i in stages]
    job_iv = [(j["start"], j["end"]) for j in run_jobs]
    in_jobs = [tracing.union_s(job_iv, s, e) for s, e in outcome.commits]
    nbytes, nfiles = data_files(out_dir)
    invalid = (spark.read.parquet(f"{out_dir}/rejects")
               .filter(F.col("reason") == CONFLICT_REASON)
               .select("conv_id", "turn_idx").distinct().count())
    kernel_tps, records_per_turn = kernel_probe(wl.in_dir, wl.cfg, KERNEL_PROBE_S)
    metrics = {
        "parse.kernel_turns_per_s": kernel_tps,
        "parse.records_per_turn": records_per_turn,
        "parse.emit_mb": sum(t[1] for t in tasks) / 1e6,
        "parse.stage_s": layers.get("parse", 0.0),
        "parse.python_cpu_s": cpu1 - cpu0,
        "plan.s": layers.get("plan", 0.0),
        "conflicts.s": layers.get("conflicts", 0.0),
        "conflicts.jobs": sum(v == "conflicts" for v in job_layer.values()),
        "conflicts.invalid_turns": invalid,
        "fanout.s": layers.get("fanout", 0.0),
        "fanout.shuffle_mb": sum(stages[i]["shuffle_write"] for j in jobs
                                 if job_layer[j["id"]] == "fanout"
                                 for i in j["stages"] if i in stages) / 1e6,
        "aggregate.s": layers.get("aggregate", 0.0),
        "aggregate.rows": outcome.aggregate_rows,
        "sink_write.s": layers.get("sink_write", 0.0),
        "sink_write.mb": nbytes / 1e6,
        "sink_write.files": nfiles,
        "commit.jobs": len(run_jobs) / len(outcome.commits),
        "commit.in_jobs_s": statistics.median(in_jobs),
        "commit.outside_jobs_s": statistics.median(
            e - s - ij for (s, e), ij in zip(outcome.commits, in_jobs)),
        "spark.jobs": len(run_jobs),
        "spark.tasks": sum(j["tasks"] for j in run_jobs),
        "spark.gc_s": gc1 - gc0,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in run_stages) / 1e6,
        "spark.spill_mb": sum(s["spill"] for s in run_stages) / 1e6,
        "trace.unattributed_s": layers.get("unattributed", 0.0),
        "trace.overhead_s": outcome.wall - untraced_wall,
    }
    return outcome, metrics


def run(args, work: Path) -> dict:
    import tracing
    import workloads

    nproc = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload](work, args.seed, nproc)
    if args.perturb_expected:
        wl.expected = {**wl.expected, "spans": wl.expected["spans"] + 1}
    n_out = 0

    def out_dir() -> str:
        nonlocal n_out
        n_out += 1
        return str(work / f"out-{n_out}")

    def checked(outcome, what: str) -> bool:
        ok = outcome is not None and outcome.ok
        if outcome is not None:
            shutil.rmtree(outcome.out_dir, ignore_errors=True)
            print(f"perfbench: {what} {outcome.wall:.3f} s {'ok' if ok else 'WRONG OUTPUT'}",
                  file=sys.stderr)
        return ok

    t0 = time.perf_counter()
    session = Session(work, nproc)
    try:
        warm = attempt(wl, session.spark, out_dir())
        setup_s = time.perf_counter() - t0
        checks = [checked(warm, f"set-up {setup_s:.3f} s, warm-up")]
        sampler = tracing.MemorySampler(session.jvm_pid)
        sampler.start()
        runs = []
        t_loop = time.perf_counter()
        try:
            while not runs or time.perf_counter() - t_loop < args.seconds:
                runs.append(attempt(wl, session.spark, out_dir()))
                checks.append(checked(runs[-1], f"iteration {len(runs)}"))
        finally:
            sampler.stop()
        done = [r for r in runs if r is not None]
        if not done:
            return {"checks": checks, "metrics": {}}
        metrics = end_to_end(wl, done, setup_s)
        units = END_TO_END
        if args.trace:
            out_base = ROOT / ".perfbench_out"
            out_base.mkdir(exist_ok=True)
            outcome, metrics = per_layer(
                wl, session, out_dir(), statistics.median(r.wall for r in done),
                out_base / f"spans-{args.workload}-{args.seed}.json")
            checks.append(checked(outcome, "traced iteration"))
            metrics["memory.peak_pss_mb"] = sampler.peak_bytes / 1e6
            units = PER_LAYER
        return {"checks": checks,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()
                            if k in metrics}}
    finally:
        session.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch_bulk", "stream_microbatch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb-expected", action="store_true",
                    help="add one to an expected sink count: a mutation probe "
                         "that must make every check fail")
    args = ap.parse_args(argv)

    if not (ROOT / "sqlite_otel_spark").is_dir():
        print(f"perfbench: no sqlite_otel_spark package in {ROOT}; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Spark's Python workers import the repo and the tracing helpers; the
    # JVM, Spark and Python keep their scratch files inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # -UsePerfData: HotSpot would write /tmp/hsperfdata_<user> regardless
    # of java.io.tmpdir.
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # The driver heap is fixed (-Xms in Session), committed and pre-touched
    # at launch (session.get_spark adds AlwaysPreTouch with this variable):
    # on a microVM, first-touch page faults of a growing heap otherwise
    # land in timed iterations at random.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    checks = result["checks"]
    print(json.dumps({"correct": all(checks) and bool(result["metrics"]),
                      "attempted": len(checks), "failed": checks.count(False),
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
