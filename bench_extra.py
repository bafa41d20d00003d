#!/usr/bin/env python
"""Per-query measurement harness for the optimization round (guide §1).

bench.py is FROZEN for driver measurement; this file is the working
bench: it times any subset of contract queries (and the extra bench
lines) with the same warm + trimmed-median protocol
(bench._timed_median), optionally through the noop sink (guide §1.4)
so the computation is timed without the collect, and dumps
`.explain("formatted")` plans to plans/r06/.

Usage:
  python bench_extra.py time   q1 q2 ...      # default: the heavy set
  python bench_extra.py plans  q1 q2 ...      # write plans/r06/<q>_<tag>.txt
  CVOCR_PLAN_TAG=before python bench_extra.py plans dedup_clusters

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), CVOCR_BENCH_QUERY_REPS (default 3),
CVOCR_NOOP=1 to time via the noop sink instead of collect().
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
NOOP = os.environ.get("CVOCR_NOOP", "0") == "1"
TAG = os.environ.get("CVOCR_PLAN_TAG", "before")

HEAVY = [
    "dedup_clusters",
    "pq_adc_topk",
    "dedup_incremental",
    "big_join_smj",
    "simhash64_neardup",
    "minhash_lsh_pairs_k128",
    "asof_join_marks",
    "ivf_ann_topk",
    "topk_per_group",
    "minhash_verified_dups",
    "equi_join_agg",
    "conditional_counts",
]


def _session():
    from cvocr_spark.session import build_session, ensure_shipped

    s = build_session(
        app="cvocr-bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    s.sparkContext.setLogLevel("ERROR")
    ensure_shipped(s)
    return s


def _extra_queries(spark):
    """The bench lines that are not contract slots (bench.py tail)."""
    from cvocr_spark.operators.similarity import cosine_topk as _ct

    out = {}
    out["cosine_topk"] = lambda s, d: _ct(s.read.parquet(f"{d}/embeddings.parquet"))
    return out


def main() -> None:
    from bench import _timed_median
    from cvocr_spark.contract import build_contract

    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or HEAVY
    spark = _session()
    contract = {n: fn for n, (fn, _sql) in build_contract().items()}
    contract.update(_extra_queries(spark))

    if mode == "plans":
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = contract[name](spark, SF_DIR)
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = f"plans/r06/{name}_{TAG}.txt"
            with open(path, "w") as f:
                f.write(p)
            print(f"wrote {path} ({len(p)} bytes)")
        spark.stop()
        return

    walls: dict[str, list[float]] = {}
    meds: dict[str, float] = {}
    for name in names:
        fn = contract[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if NOOP:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm

            def run():
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        else:
            fn(spark, SF_DIR).count()  # warm (bench.py protocol)

            def run():
                fn(spark, SF_DIR).collect()
        meds[name] = _timed_median(run, walls, name)
        print(f"{name}: {meds[name]} {walls[name]}", flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"medians": meds, "walls": walls, "noop": NOOP, "sf": SF_DIR}))
    spark.stop()


if __name__ == "__main__":
    main()
