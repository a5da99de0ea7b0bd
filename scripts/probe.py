"""Per-query timing probe: build vs sink split, helper timers, medians.

For each named query: one untimed warm pass, then ``--reps`` timed
passes. Each pass times the query-function call (the eager part: stage
writes, CAS commits, streaming drains) and the noop-sink evaluation of
the returned DataFrame separately, and the snapshot-protocol helpers
carry cumulative timers so the expensive step inside a build is
attributable. Ends with one JSON line of per-query medians.

The master is fixed per session, so ``--cpus`` applies to the whole
run: compare core counts with one run each, never concurrently (core
contention poisons both). At sf0.1 most queries are fixed-overhead
bound; the 10x fixture from scripts/make_sf1_fixture.py is the
smallest where parallel sections dominate.

Usage:
    python scripts/probe.py --sf DIR [--cpus N] [--reps N] name ...
    python scripts/probe.py --sf DIR --explain-dir plans/rNN --suffix before name ...

``--sf`` defaults to $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ACC: dict[str, list] = defaultdict(lambda: [0, 0.0])  # name -> [calls, secs]

_PIPELINE_HELPERS = (
    "_stage_version",
    "_commit_cas",
    "_read_visible",
    "_read_version",
    "_publish_version",
    "_commit_mor_delete",
    "_read_mor",
    "_local_manifest",
    "_spark_manifest",
    "_read_parts",
    "_write_layout",
    "_append_commit_log",
)


def _wrap(mod, fn_name: str) -> None:
    orig = getattr(mod, fn_name)

    def timed(*a, **kw):
        t0 = time.time()
        try:
            return orig(*a, **kw)
        finally:
            acc = _ACC[fn_name]
            acc[0] += 1
            acc[1] += time.time() - t0

    setattr(mod, fn_name, timed)


def _instrument() -> None:
    from dock_financial_data_pipelines_spark.plans import pipeline as pl
    from dock_financial_data_pipelines_spark.sources import sinks as sk

    for name in _PIPELINE_HELPERS:
        _wrap(pl, name)
    _wrap(sk, "write_partitioned")


def _explain(spark, df, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    with open(path, "w") as fh:
        fh.write(df._jdf.queryExecution().explainString(mode))
    print(f"  explain -> {path}", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N]; default $SPARK_GRAFT_CPUS")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None,
                    help="write df.explain('formatted') per query here")
    ap.add_argument("--suffix", default="probe",
                    help="filename suffix for --explain-dir files")
    ap.add_argument("--no-helpers", action="store_true")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf or $SPARK_GRAFT_SF_DIR is required")
    if args.cpus is not None:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)

    import dock_financial_data_pipelines_spark as engine
    from dock_financial_data_pipelines_spark.session import get_spark

    engine.load_all()
    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    # same warmups as bench.py so JIT/worker-pool state matches
    engine.QUERIES["a1_pricing_summary"](spark, args.sf).collect()
    engine.QUERIES["l_model_quality_scorer"](spark, args.sf).collect()
    if not args.no_helpers:
        _instrument()

    summary = {}
    for name in args.names:
        fn = engine.QUERIES[name]
        passes = []
        for rep in range(args.reps + 1):  # pass 0 is the warm pass
            _ACC.clear()
            spark.sparkContext.setJobDescription(f"probe:{name}#{rep}")
            t0 = time.time()
            df = fn(spark, args.sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            helper_bits = "  ".join(
                f"{k}={v[1]:.3f}s/{v[0]}x"
                for k, v in sorted(_ACC.items(), key=lambda kv: -kv[1][1])
                if v[1] >= 0.05
            )
            tag = "warm" if rep == 0 else f"rep{rep}"
            print(
                f"{name} {tag}: build={t1 - t0:.3f}s sink={t2 - t1:.3f}s "
                f"total={t2 - t0:.3f}s  {helper_bits}",
                flush=True,
            )
            if rep:
                passes.append((t1 - t0, t2 - t1, t2 - t0))
            elif args.explain_dir:
                _explain(
                    spark,
                    df,
                    os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"),
                )
        spark.sparkContext.setJobDescription(None)
        if passes:
            build, sink, total = (
                round(statistics.median(xs), 3) for xs in zip(*passes)
            )
            summary[name] = {
                "cpus": cpus, "build_s": build, "sink_s": sink,
                "total_s": total,
            }
    print(json.dumps(summary, sort_keys=True), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
