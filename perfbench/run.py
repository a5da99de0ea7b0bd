#!/usr/bin/env python3
"""Layered benchmark of the engine on local[4]: one client, a closed loop,
operations run one at a time.

    python3 perfbench/run.py --workload llm_pairs --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Each run:

1. computes the oracle cache over the kept input tables if it is not there
   yet (never part of any timed figure);
2. sets up, timed from process start: imports, ``session.get_spark`` (the
   JVM launch), ``engine.load_all`` and one fixed warm-up query;
3. runs one cold pass over the workload's operations in the fresh session,
   then one unmeasured warm-up pass, then measured warm passes until
   ``--seconds`` have passed since the cold pass began (at least MIN_WARM);
4. checks every operation's output against the engine's DuckDB oracle,
   outside the timed samples.

With ``--trace 0`` it reports the end-to-end metrics, every timing
steal-adjusted (``stats.steal_adjusted``: the CPU time the host took from
this machine's CPUs is taken out); with ``--trace 1`` it
records spans and Spark status-store figures and reports the per-layer
metrics (see WORKLOADS.md). The last line of stdout is one JSON object.
"""

from __future__ import annotations

import time

_T_PROCESS = time.time()
with open("/proc/stat") as _fh:
    _STAT_PROCESS = _fh.readline()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import oracles  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

PKG = "dock_financial_data_pipelines_spark"
CORES = 4
# The JIT is still speeding up the first warm pass by about a fifth; it runs,
# and is checked, but is not measured.
WARMUP_PASSES = 1
MIN_WARM = 3  # measured warm passes: with 8 operations a pass, 24 samples
TAIL_PCT = 58  # the highest percentile with at least 10 of 24 samples beyond it

END_TO_END = (
    "setup_s", "cold_pass_s", "warm_pass_s", "op_p50_s", f"op_tail_p{TAIL_PCT}_s",
    "ok_op_ratio",
)


def log(msg: str) -> None:
    print(f"[{time.time() - _T_PROCESS:7.2f}] {msg}", file=sys.stderr, flush=True)


def _configure_env(tmp: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``tmp``."""
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM, including spark-submit's launcher
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # the engine's own defaults: driver heap and shuffle partitions
    os.environ.pop("SPARK_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def _prepare(work: str) -> str:
    """The oracle cache, computed in a child process when missing."""
    cache = os.path.join(work, f"oracles-{oracles.cache_key()}.pkl")
    if not os.path.exists(cache):
        log("perfbench: computing oracle results")
        for stale in os.listdir(work):
            if stale.startswith("oracles-"):
                os.remove(os.path.join(work, stale))
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracles.py"), cache],
            check=True, cwd=ROOT, stdout=sys.stderr,
        )
    return cache


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _mark() -> tuple[float, float, float]:
    """(wall, busy, steal) now: the time, and the CPU seconds this
    machine's CPUs have been busy and stolen by its host, summed over CPUs."""
    with open("/proc/stat") as fh:
        return _stat_mark(time.time(), fh.readline())


def _stat_mark(t: float, stat_line: str) -> tuple[float, float, float]:
    """A mark from the time ``t`` and the first line of /proc/stat."""
    f = [int(x) for x in stat_line.split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return t, (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz


def _elapsed(m0: tuple, m1: tuple) -> tuple[float, float]:
    """(wall, steal-adjusted) seconds between two marks; see
    ``stats.steal_adjusted``."""
    wall = m1[0] - m0[0]
    return wall, stats.steal_adjusted(wall, m1[1] - m0[1], m1[2] - m0[2])


def _steal_share(m0: tuple, m1: tuple) -> float:
    """Share of the CPUs' non-idle time the host stole between two marks."""
    busy, steal = m1[1] - m0[1], m1[2] - m0[2]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Bench:
    def __init__(self, args, cache: str, tmp: str):
        self.args = args
        self.fixture = oracles.FIXTURE
        self.cache = cache
        self.out_root = os.path.join(tmp, "published")
        self.ops = workloads.operations(args.workload, args.seed)
        self.spark = None
        self.engine = None
        self.driver = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.expected: dict = {}
        self.setup_times: dict[str, float] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self, before: tuple[float, float], install_tracer: bool) -> None:
        """From process start to a session with the registry loaded and
        one warm-up query run: what the daily job pays before its work.
        ``before`` is the (wall, steal-adjusted) time from process start
        to the input check."""
        m0 = _mark()
        t0 = m0[0]
        from dock_financial_data_pipelines_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        if install_tracer:
            import tracing

            self.tracer = tracing.Tracer(spark)
            self.tracer.install()
        import dock_financial_data_pipelines_spark as engine
        from dock_financial_data_pipelines_spark import catalog, driver

        engine.load_all()
        t2 = time.time()
        catalog.load(spark, self.fixture, "region").collect()
        m3 = _mark()
        t3 = m3[0]
        self.spark, self.engine, self.driver = spark, engine, driver
        self.setup_times = {
            "setup_s": before[1] + _elapsed(m0, m3)[1],
            "setup.wall_s": before[0] + t3 - t0,
            "session.get_spark_s": t1 - t0,
            "registry.load_all_s": t2 - t1,
            "setup.warmup_s": t3 - t2,
        }

    # -- operations -------------------------------------------------------
    def execute(self, op):
        """Run one operation: a scheduled publish, or a query whose result
        is delivered to this client as a pandas frame."""
        if op.is_job:
            out = os.path.join(self.out_root, op.job)
            return self.driver.run_job(self.spark, op.job, self.fixture, op.day, out, force=True)
        tr = self.tracer
        with tr.span("operators.build") if tr else nullcontext():
            df = self.engine.QUERIES[op.name](self.spark, self.fixture)
        with tr.span("spark.exec") if tr else nullcontext():
            return df.toPandas()

    def rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python driver, in MB."""
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0

    def run_pass(self, index: int, traced: bool) -> dict:
        import tracing

        tr = self.tracer
        pt = None
        if tr is not None:
            tr.enabled = traced
            if traced:
                pt = tracing.PassTrace(CORES)
                listener = tr.listener()
                self.spark.streams.addListener(listener)
        samples, outputs = [], {}
        runs, published = [], 0
        m_pass = _mark()
        for op in workloads.pass_order(self.ops, self.args.seed, index):
            self.attempted += 1
            if pt is not None:
                tr.spans = []
                io0 = tr.io_bytes()
                n_stream = len(tr.stream_events)
            m_op = _mark()
            try:
                with tr.span("op") if pt else nullcontext() as root:
                    out = self.execute(op)
            except Exception:  # an operation failing is a measured outcome
                self.failed += 1
                log(f"perfbench: {op.name} failed in pass {index}:\n{traceback.format_exc()}")
                continue
            wall, adjusted = _elapsed(m_op, _mark())
            samples.append(adjusted)
            outputs[op] = out
            log(f"perfbench:   {op.name:44s} {adjusted:8.3f} s ({wall:.3f} s wall)")
            if pt is not None:
                if op.is_job:
                    runs.append(out)
                    published += _dir_bytes(os.path.join(out.out_path, f"report_date={op.day}"))
                tr.drain()
                op_spans = [s for s in tr.spans if s.op == root.id]
                jobs, totals = tr.job_spans(root.job_lo, root.job_hi, op_spans)
                io1 = tr.io_bytes()
                pt.fold_op(
                    root, op_spans, jobs, totals,
                    (io1[0] - io0[0], io1[1] - io0[1]),
                    tr.new_python_workers(), tr.stream_events[n_stream:],
                )
        m_end = _mark()
        wall, adjusted = _elapsed(m_pass, m_end)
        result = {
            "wall": wall, "adjusted": adjusted, "samples": samples, "outputs": outputs,
            "traced": traced, "marks": (m_pass, m_end),
        }
        if pt is not None:
            self.spark.streams.removeListener(listener)
            result["layers"] = pt.metrics(runs, published)
        if tr is not None:
            tr.enabled = False
        log(
            f"perfbench: pass {index} {'traced ' if traced else ''}{adjusted:.3f} s "
            f"({wall:.3f} s wall, {_steal_share(m_pass, m_end):.3f} of CPU time stolen, "
            f"VmHWM so far {self.rss_mb():.1f} MB)"
        )
        self.check_queries(outputs)
        return result

    # -- output check (outside the timed samples) ---------------------------
    def _failed_check(self, name: str, exc: Exception) -> None:
        self.failed += 1
        log(f"perfbench: output check failed for {name}: {exc}"[:4000])

    def check_queries(self, outputs: dict) -> None:
        """Every query result of the pass against its cached oracle result."""
        from tests._compare import compare_frames

        for op, got in outputs.items():
            if not op.is_job:
                try:
                    compare_frames(got, self.expected["queries"][op.name], op.name)
                except Exception as exc:  # a wrong output is a measured outcome
                    self._failed_check(op.name, exc)

    def check_published(self, outputs: dict) -> None:
        """Each published day, read back, against the oracle for that day;
        and a re-run of a published day without ``force`` must be skipped."""
        from tests._compare import compare_frames

        by_path: dict[str, list] = {}
        for op, res in outputs.items():
            if op.is_job:
                by_path.setdefault(res.out_path, []).append(op)
        for path, ops in by_path.items():
            published = self.spark.read.parquet(path).toPandas()
            published["report_date"] = published["report_date"].astype(str)
            for op in ops:
                try:
                    got = published[published["report_date"] == op.day]
                    want = self.expected["jobs"][(op.job, op.day)]
                    compare_frames(
                        got.drop(columns=["report_date"]).reset_index(drop=True),
                        want.drop(columns=["report_date"], errors="ignore"),
                        op.name,
                    )
                    again = self.driver.run_job(self.spark, op.job, self.fixture, op.day, path)
                    if not again.skipped:
                        raise AssertionError("re-run of a published day was not skipped")
                except Exception as exc:  # a wrong output is a measured outcome
                    self._failed_check(op.name, exc)

    # -- the run ----------------------------------------------------------
    def run(self, before_setup: tuple[float, float]) -> dict:
        trace = bool(self.args.trace)
        self.setup(before=before_setup, install_tracer=trace)
        self.expected = oracles.load(self.cache)
        log("perfbench: set up")
        t_measure = time.time()
        cold = self.run_pass(0, traced=trace)
        for index in range(1, 1 + WARMUP_PASSES):
            self.run_pass(index, traced=False)
        warm = []
        while True:
            # traced runs alternate traced and untraced warm passes; the
            # difference of their medians is the tracing overhead
            traced = trace and len(warm) % 2 == 0
            warm.append(self.run_pass(1 + WARMUP_PASSES + len(warm), traced))
            if len(warm) >= MIN_WARM and time.time() - t_measure >= self.args.seconds:
                break
        t = time.time()
        self.check_published(warm[-1]["outputs"])
        log(f"perfbench: published-day check {time.time() - t:.3f} s")
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        log("perfbench: set-up " + " ".join(f"{k}={v:.3f}" for k, v in self.setup_times.items()))
        rss_mb = self.rss_mb()
        log(f"perfbench: VmHWM jvm={_vm_hwm_kb(jvm_pid) / 1024:.1f} MB python={_vm_hwm_kb(os.getpid()) / 1024:.1f} MB")
        metrics = (
            self.layer_metrics(cold, warm, rss_mb) if trace
            else self.end_to_end(cold, warm, rss_mb)
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": min(self.failed, self.attempted),
            "metrics": metrics,
        }

    def end_to_end(self, cold: dict, warm: list[dict], rss_mb: float) -> dict:
        op_samples = [s for p in warm for s in p["samples"]]
        ok = 1.0 - min(self.failed, self.attempted) / self.attempted
        values = {
            "setup_s": (self.setup_times["setup_s"], "s"),
            "cold_pass_s": (cold["adjusted"], "s"),
            "warm_pass_s": (statistics.median([p["adjusted"] for p in warm]), "s"),
            "op_p50_s": (statistics.median(op_samples), "s"),
            f"op_tail_p{TAIL_PCT}_s": (stats.percentile(op_samples, TAIL_PCT), "s"),
            "ok_op_ratio": (ok, "ratio"),
        }
        log(
            f"perfbench: {self.args.workload} seed={self.args.seed} "
            f"warm passes={len(warm)} warm op samples={len(op_samples)} "
            f"failed_op_ratio={1.0 - ok:.4f} ratio "
            f"steal share={_steal_share(cold['marks'][0], warm[-1]['marks'][1]):.3f} "
            f"peak_rss_mb={rss_mb:.1f} MB"
        )
        for k, (v, u) in values.items():
            log(f"perfbench:   {k:16s} {v:12.4f} {u}")
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def layer_metrics(self, cold: dict, warm: list[dict], rss_mb: float) -> dict:
        import tracing

        traced = [p for p in warm if p["traced"]]
        plain = [p for p in warm if not p["traced"]]
        out = {}
        for key in ("session.get_spark_s", "registry.load_all_s", "setup.warmup_s"):
            out[key] = self.setup_times[key]
        for key in tracing.PASS_METRICS:
            out[f"cold.{key}"] = cold["layers"][key]
            out[f"warm.{key}"] = statistics.median([p["layers"][key] for p in traced])
        if not (out["cold.catalog.load_calls"] and out["warm.catalog.load_calls"]):
            raise RuntimeError(
                "traced passes recorded no catalog.load call: the wrappers "
                "were installed after the operator modules imported load"
            )
        if self.args.workload in workloads.WRITES_VIA_SINKS and not (
            out["cold.sources.sinks.write_calls"] and out["warm.sources.sinks.write_calls"]
        ):
            raise RuntimeError(
                "traced passes recorded no sources.sinks.write_* call: the "
                "wrappers missed the publish path"
            )
        out["failed_op_ratio"] = min(self.failed, self.attempted) / self.attempted
        out["trace.overhead_warm_pass_s"] = (
            statistics.median([p["adjusted"] for p in traced])
            - statistics.median([p["adjusted"] for p in plain])
        )
        out["host.steal_share"] = _steal_share(cold["marks"][0], warm[-1]["marks"][1])
        out["setup.wall_s"] = self.setup_times["setup.wall_s"]
        out["cold.pass_wall_s"] = cold["wall"]
        out["warm.pass_wall_s"] = statistics.median([p["wall"] for p in traced])
        # Per-layer, not end to end: at the engine's default heap settings
        # the JVM's heap sizing makes it spread past any bound (WORKLOADS.md).
        out["peak_rss_mb"] = rss_mb
        out["trace.evicted_records"] = float(self.tracer.evicted_records)
        units = {name: unit for name, unit, _ in tracing.per_layer_specs()}
        for k, v in out.items():
            log(f"perfbench:   {k:40s} {v:14.4f} {units[k]}")
        return {k: {"value": v, "unit": units[k]} for k, v in out.items()}

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"perfbench: no {PKG}/ next to perfbench/: run from a full checkout")
        return 2
    work = os.path.join(HERE, ".work")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _configure_env(tmp)
    os.chdir(ROOT)
    startup = _elapsed(_stat_mark(_T_PROCESS, _STAT_PROCESS), _mark())
    cache = _prepare(work)

    # Everything but the result line goes to stderr, including the JVM's
    # stdout, which it inherits from this process's file descriptor 1.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    bench = Bench(args, cache, tmp)
    try:
        result = bench.run(before_setup=startup)
    finally:
        bench.close()
        log("perfbench: closed")
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"perfbench: process wall {time.time() - _T_PROCESS:.3f} s")
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
