"""Round-6 optimization measurement harness (bench.py is FROZEN — this
file carries the extra instrumentation the optimization round needs).

Two subcommands:

  queries [names...]   time declared queries with the frozen bench's own
                       methodology (.count(), min over k samples, steal%
                       gate) and additionally a noop-sink wall (guide
                       §1.4: eagerly computes every column, no sink
                       cost); writes one JSON line per query.
  explain [names...]   dump .explain('formatted') for each query to
                       plans/r06/<name>_<tag>.txt  (tag from --tag).

Usage:
  python bench_extra.py queries dp_minhash_lsh dp_ngram_jaccard
  python bench_extra.py explain --tag before dp_minhash_lsh
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

DEFAULT_QUERIES = [
    "q1_lineitem_rollup", "q3_top_revenue_orders", "q5_region_nation_rollup",
    "a3_time_bucket_counts", "a5_retention_topk", "d5_broadcast_enrichment",
    "w1_window_rank_orders", "dp_ngram_jaccard", "dp_minhash_lsh",
    "dp_simhash_neardup", "dp_ann_brute_topk", "dp_ann_lsh_topk",
    "dp_ann_ivf_topk", "dp_fingerprint", "dp_token_count",
    "dp_multimodal_features", "dp_text_normalize", "dp_pii_redact",
    "dp_doc_chunks", "dp_repetition_signals", "dp_decontaminate",
    "dp_sequence_pack", "extra_asof_join", "dp_train_split",
    "dp_mixture_weights", "dp_embedding_quantize",
]


def _session(rep: int | None = None):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from bench import new_session

    return new_session(f"local[{CPUS}]", rep or 2 * CPUS)


def cmd_queries(names: list[str], k: int, cold: bool = False) -> None:
    """``cold=True`` replicates the FROZEN bench's time_queries
    methodology: no per-query warm run, one session, queries in order —
    the first (and only) sample pays plan optimization + codegen
    compile, exactly like the driver's recorded walls."""
    from bench import _cpu_sample

    import sqlite_otel_spark.queries as Q

    spark = _session()
    for name in names:
        fn = Q.QUERIES[name]
        if not cold:
            fn(spark, SF_DIR).count()  # warm (JIT/codegen/broadcast)
        walls, noops, steals = [], [], []
        for _ in range(k):
            b0, s0 = _cpu_sample()
            t0 = time.monotonic()
            n = fn(spark, SF_DIR).count()
            walls.append(round(time.monotonic() - t0, 3))
            b1, s1 = _cpu_sample()
            steals.append(round(100.0 * (s1 - s0) / max(b1 - b0 + s1 - s0, 1), 2))
            if cold:
                noops.append(-1.0)
                continue
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            noops.append(round(time.monotonic() - t0, 3))
        print(json.dumps({
            "query": name, "rows": n, "count_walls": walls,
            "noop_walls": noops, "steal_pct": steals,
            "count_min": min(walls), "noop_min": min(noops),
        }), flush=True)


def cmd_explain(names: list[str], tag: str) -> None:
    spark = _session()
    import sqlite_otel_spark.queries as Q

    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = Q.QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["queries", "explain"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("-k", type=int, default=2)
    a = ap.parse_args()
    if a.cmd == "queries":
        cmd_queries(a.names or DEFAULT_QUERIES, a.k, cold=a.cold)
    else:
        cmd_explain(a.names or DEFAULT_QUERIES, a.tag)


if __name__ == "__main__":
    main()
