#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload covid_dashboard --seed 1 --seconds 16 --trace 0

Run from the repository root. Drives the engine only through its public
surface: ``registry()`` callables on a ``get_spark()`` session sized to
the host (``local[<cpus>]``, ``$SPARK_GRAFT_CPUS`` if set), each request
materialized with the ``noop`` sink. Inputs, Spark local dirs, ingest
staging and temp files all live under ``.perfbench_work/`` in the
working directory.

One run:

1. generates the seed's inputs (cached per seed; not in any metric);
2. sets up ``SETUPS`` times — ``get_spark`` plus one warm pass over the
   mix — and reports the median as ``setup_s``. The first set-up also
   launches the JVM, and its warm pass is the output check: every
   distinct query of the mix once against its ``oracle_sql()`` twin in
   DuckDB on the same inputs (a mismatch, an empty result or an
   exception is a failure). The others stop the session and build a
   new one;
3. runs ``WARMUP_ROUNDS`` untimed rounds of the workload's closed-loop
   clients, one whole pass per client each, then rounds for about
   ``--seconds``, untraced, and reports the figures ``end_to_end``
   defines from them;
4. with ``--trace 1``, runs a second, traced window of the same length
   and reports per-layer metrics from it, plus the tracing overhead
   (traced minus untraced end-to-end numbers).

Human-readable lines go first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import json
import os
import resource
import statistics
import sys
import tempfile
import threading
import traceback
from collections import defaultdict
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import sparkstats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, Workload, pass_order  # noqa: E402

#: Session set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: Untimed rounds between the set-ups and the timed window. The JIT is
#: still compiling after the set-ups (a corpus pass takes a third longer
#: then than a minute later); these rounds move the window onto the
#: flat part of that curve.
WARMUP_ROUNDS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: Modules that own registered queries; per-request phase metrics are
#: attributed to the module of the query's callable.
MODULES = (
    "operators.relational",
    "operators.windows",
    "operators.wrangling",
    "operators.simulation",
    "operators.covid",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.pipeline",
    "operators.ingest",
    "streaming",
)
MODULE_METRICS = ("build_s", "build_jobs", "plan_s", "exec_s", "exec_jobs", "tasks")
LAYER_METRICS = (
    "functions.caching.calls",
    "functions.caching.hits",
    "functions.caching.hit_ratio",
    "functions.caching.reset_s",
    "functions.caching.cached_bytes",
    "functions.partitioning.fan_out_calls",
    "functions.partitioning.fan_out_applied_ratio",
    "sources.input_bytes",
    "sources.input_rows",
    "sources.output_bytes",
    "sources.output_rows",
    "session.get_spark_s",
    "session.warmup_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.core_utilization",
    "spark.scheduler_delay_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_disk_bytes",
    "spark.jobs",
    "spark.stages",
    "spark.failed_tasks",
    "requests.failed_ratio",
    "trace.overhead_latency_p50_s",
    "trace.overhead_queries_per_s",
)


def per_layer_names() -> list[str]:
    return [f"{m}.{k}" for m in MODULES for k in MODULE_METRICS] + list(LAYER_METRICS)


def layer_unit(name: str) -> str:
    if name.endswith("queries_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_utilization")):
        return "ratio"
    return "count"


def module_of(fn) -> str:
    mod = fn.__module__.removeprefix("covid_engineering_spark.")
    return "streaming" if mod.split(".")[0] == "streaming" else mod


@dataclass
class Result:
    name: str
    request: str
    latency: float
    ok: bool


class Bench:
    """One workload's requests against one session and input set."""

    def __init__(self, spark, reg, data_dir: str, workload: Workload):
        from covid_engineering_spark.functions import caching

        self.spark = spark
        self.reg = reg
        self.data_dir = data_dir
        self.workload = workload
        self.caching = caching
        self.tracer: tracing.Tracer | None = None
        self.cached_bytes_peak = 0

    def request(self, name: str, req_id: str) -> Result:
        fn = self.reg[name]
        if self.workload.reset_caches:
            if self.tracer is None:
                self.caching.reset()
            else:
                with self.tracer.span("functions.caching.reset", request=req_id):
                    self.caching.reset()
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                fn(self.spark, self.data_dir).write.mode("overwrite").format("noop").save()
            else:
                self._traced(name, fn, req_id)
            ok = True
        except Exception:
            print(f"perfbench: request {name} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            ok = False
        return Result(name, req_id, time.perf_counter() - t0, ok)

    def _traced(self, name: str, fn, req_id: str) -> None:
        sc = self.spark.sparkContext
        span = self.tracer.span
        with span("request", request=req_id, query=name, module=module_of(fn)):
            sc.setJobGroup(f"{req_id}:build", name)
            with span("build"):
                df = fn(self.spark, self.data_dir)
            sc.setJobGroup(f"{req_id}:plan", name)
            with span("plan"):
                df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"{req_id}:exec", name)
            with span("exec"):
                df.write.mode("overwrite").format("noop").save()
        stored = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
        self.cached_bytes_peak = max(self.cached_bytes_peak, stored)

    def window(
        self, seed: int, seconds: float, tag: str, min_rounds: int = 1
    ) -> tuple[list[Result], list[float]]:
        """Closed loop in rounds: in each round every client runs one
        whole pass over the mix, concurrently with the others. The round
        count is ``seconds`` over the mean round time, rounded, which
        keeps it from flipping between runs whose round time sits near
        a divisor of ``seconds``, and at least ``min_rounds``. Returns
        the requests and each round's wall time."""
        w = self.workload

        def one_pass(c: int, n: int, out: list[Result]) -> None:
            for i, name in enumerate(pass_order(w, seed, c, n)):
                out.append(self.request(name, f"{tag}c{c}p{n}q{i}"))

        results: list[Result] = []
        rounds: list[float] = []
        n = 0
        while n < min_rounds or sum(rounds) * (1 + 0.5 / n) < seconds:
            t0 = time.perf_counter()
            outs: list[list[Result]] = [[] for _ in range(w.clients)]
            threads = [
                threading.Thread(target=one_pass, args=(c, n, outs[c]))
                for c in range(w.clients)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            rounds.append(time.perf_counter() - t0)
            results.extend(r for out in outs for r in out)
            n += 1
        return results, rounds


def start_session(cpus: int, work: dict[str, str]):
    from covid_engineering_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            # the machine is shared: a small heap keeps the footprint
            # (and peak_rss_mb) bounded, and a fixed one (-Xms = -Xmx)
            # keeps it steady: no timing-driven heap resizing
            "spark.driver.memory": "2g",
            "spark.local.dir": work["spark-local"],
            "spark.sql.warehouse.dir": work["warehouse"],
            # no hsperfdata files in the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work['tmp']} -XX:-UsePerfData -Xms2g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def check_outputs(bench: Bench) -> dict[str, str]:
    """Each distinct query once against its DuckDB oracle on the same
    inputs; returns name -> reason for every failure."""
    from covid_engineering_spark.queries import oracles
    from tests.oracle_check import compare, duck_con

    sql = oracles()
    con = duck_con(bench.data_dir)
    failures = {}
    try:
        for name in bench.workload.queries:
            if bench.workload.reset_caches:
                bench.caching.reset()
            try:
                res = compare(bench.reg[name](bench.spark, bench.data_dir), con, sql[name])
            except Exception as exc:
                failures[name] = repr(exc)[:300]
                continue
            if not res["match"]:
                failures[name] = f"mismatch: {json.dumps(res, default=str)[:300]}"
            elif res["spark_rows"] == 0:
                failures[name] = "empty result (the seed emptied a filter)"
    finally:
        con.close()
    return failures


def end_to_end(results: list[Result], rounds: list[float]) -> dict:
    """End-to-end figures of one window, each robust to the mix and to
    short stalls of the host.

    The mix holds queries whose latencies differ tenfold, so a median
    or percentile over all requests lands on whichever query sits at
    that rank and jumps between them from run to run. Instead:

    * ``latency_p50_s``: each query's median latency, geometric mean
      over the mix (every query weighs the same);
    * ``latency_tail_s``: ``latency_p50_s`` times the tail of the
      requests' latency over their own query's median, at the highest
      percentile with at least 10 samples beyond it (the maximum below
      21 samples);
    * ``queries_per_s``: requests completed per round over the median
      round time.
    """
    ok = [r for r in results if r.ok]
    if not ok:
        raise RuntimeError("no request completed")
    by_query = defaultdict(list)
    for r in ok:
        by_query[r.name].append(r.latency)
    med = {q: statistics.median(v) for q, v in by_query.items()}
    p50 = statistics.geometric_mean(med.values())
    ratios = sorted(r.latency / med[r.name] for r in ok)
    n = len(ratios)
    k = n - 11 if n >= 21 else n - 1
    return {
        "latency_p50_s": p50,
        "latency_tail_s": p50 * ratios[k],
        "tail_percentile": 100.0 * (k + 1) / n,
        "samples": n,
        "queries_per_s": n / len(rounds) / statistics.median(rounds),
    }


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def host_stamp() -> dict:
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return {"load1": os.getloadavg()[0], "total": sum(ticks), "steal": ticks[7]}


def contamination(before: dict, after: dict, cpus: int) -> list[str]:
    """Reasons to distrust a run: the host was busy before it started,
    or the hypervisor stole a noticeable share of CPU time during it."""
    reasons = []
    total = after["total"] - before["total"]
    steal = after["steal"] - before["steal"]
    if total > 0 and steal / total > 0.05:
        reasons.append(f"steal {steal / total:.1%} of CPU ticks")
    if before["load1"] > cpus:
        reasons.append(f"loadavg {before['load1']:.2f} at start on {cpus} cpus")
    return reasons


def layer_metrics(
    bench: Bench,
    results: list[Result],
    wall: float,
    cpus: int,
    stats: dict,
    setups: list[tuple[float, float]],
    untraced: dict,
    traced: dict,
) -> dict[str, float]:
    spans = bench.tracer.spans
    self_t = tracing.self_times(spans)
    module = {s.request: s.attrs["module"] for s in spans if s.name == "request"}
    n_req = defaultdict(int)
    for m in module.values():
        n_req[m] += 1
    sums: dict[tuple[str, str], float] = defaultdict(float)
    for s in spans:
        if s.name in ("build", "plan", "exec"):
            value = self_t[s.id] if s.name == "build" else s.duration
            sums[(module[s.request], f"{s.name}_s")] += value
    for j in stats["jobs"]:
        req, phase = j["jobGroup"].rsplit(":", 1)
        if phase in ("build", "exec"):
            sums[(module[req], f"{phase}_jobs")] += 1
        sums[(module[req], "tasks")] += j["numCompletedTasks"]
    out = {
        f"{m}.{k}": sums[(m, k)] / n_req[m] if n_req[m] else 0.0
        for m in MODULES
        for k in MODULE_METRICS
    }

    r = max(len(module), 1)
    stage_rows = [st for sts in stats["stages"].values() for st in sts]

    def total(key: str) -> float:
        return float(sum(st.get(key, 0) for st in stage_rows))

    caches = [s for s in spans if s.name == "functions.caching.evicting_cache"]
    hits = sum(1 for s in caches if s.attrs["hit"])
    fans = [s for s in spans if s.name == "functions.partitioning.fan_out"]
    resets = [s.duration for s in spans if s.name == "functions.caching.reset"]
    failed = sum(1 for x in results if not x.ok)
    out.update(
        {
            "functions.caching.calls": len(caches) / r,
            "functions.caching.hits": hits / r,
            "functions.caching.hit_ratio": hits / len(caches) if caches else 0.0,
            "functions.caching.reset_s": sum(resets) / r,
            "functions.caching.cached_bytes": float(bench.cached_bytes_peak),
            "functions.partitioning.fan_out_calls": len(fans) / r,
            "functions.partitioning.fan_out_applied_ratio": (
                sum(1 for s in fans if s.attrs["applied"]) / len(fans) if fans else 0.0
            ),
            "sources.input_bytes": total("inputBytes") / r,
            "sources.input_rows": total("inputRecords") / r,
            "sources.output_bytes": total("outputBytes") / r,
            "sources.output_rows": total("outputRecords") / r,
            "session.get_spark_s": statistics.median(g for g, _ in setups),
            "session.warmup_s": statistics.median(w for _, w in setups),
            "spark.executor_run_s": total("executorRunTime") / 1e3 / r,
            "spark.executor_cpu_s": total("executorCpuTime") / 1e9 / r,
            "spark.gc_s": total("jvmGcTime") / 1e3 / r,
            "spark.core_utilization": total("executorRunTime") / 1e3 / (wall * cpus),
            "spark.scheduler_delay_s": sum(stats["scheduler_delay_ms"].values()) / 1e3 / r,
            "spark.shuffle_read_bytes": total("shuffleReadBytes") / r,
            "spark.shuffle_write_bytes": total("shuffleWriteBytes") / r,
            "spark.spill_disk_bytes": total("diskBytesSpilled") / r,
            "spark.jobs": len(stats["jobs"]) / r,
            "spark.stages": len(stage_rows) / r,
            "spark.failed_tasks": total("numFailedTasks"),
            "requests.failed_ratio": failed / max(len(results), 1),
            "trace.overhead_latency_p50_s": traced["latency_p50_s"] - untraced["latency_p50_s"],
            "trace.overhead_queries_per_s": traced["queries_per_s"] - untraced["queries_per_s"],
        }
    )
    return out


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "covid_engineering_spark")):
        print(
            "perfbench: covid_engineering_spark/ not found; run from the repository root",
            file=sys.stderr,
        )
        return 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    base = os.path.join(root, ".perfbench_work")
    work = {k: os.path.join(base, k) for k in ("tmp", "spark-local", "warehouse", "inputs")}
    for d in work.values():
        os.makedirs(d, exist_ok=True)
    # Python workers import the package (applyInPandas kernels), and the
    # engine's staging dirs come from tempfile: both stay in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = work["tmp"]
    tempfile.tempdir = None
    sys.path.insert(0, root)

    host_before = host_stamp()
    phases = {"imports": time.perf_counter() - T_START}
    t0 = time.perf_counter()
    data_dir = os.path.join(work["inputs"], f"seed-{args.seed}")
    generated = inputs.ensure(args.seed, data_dir)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()

    from covid_engineering_spark.queries import registry

    reg = registry()
    unknown = [q for q in workload.queries if q not in reg]
    if unknown:
        raise SystemExit(f"perfbench: queries not in the registry: {unknown}")

    phases["registry"] = time.perf_counter() - t0
    spark = None
    try:
        attempted = failed = 0
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if spark is None:
                # The first set-up launches the JVM, and its warm pass is
                # the output check (every query once, collected and
                # compared); it is the slowest set-up, so the median
                # comes from the other two.
                spark = start_session(cpus, work)
                bench = Bench(spark, reg, data_dir, workload)
                t1 = time.perf_counter()
                failures = check_outputs(bench)
                attempted += len(workload.queries)
                failed += len(failures)
            else:
                bench.caching.reset()
                spark.stop()
                t0 = time.perf_counter()
                spark = bench.spark = start_session(cpus, work)
                t1 = time.perf_counter()
                for i, name in enumerate(pass_order(workload, args.seed, -1, k)):
                    res = bench.request(name, f"s{k}q{i}")
                    attempted += 1
                    failed += not res.ok
            setups.append((t1 - t0, time.perf_counter() - t1))

        warm, warm_rounds = bench.window(args.seed, 0, "w", min_rounds=WARMUP_ROUNDS)
        phases["warmup"] = sum(warm_rounds)
        attempted += len(warm)
        failed += sum(1 for r in warm if not r.ok)
        results, rounds = bench.window(args.seed, args.seconds, "u")
        phases["window"] = sum(rounds)
        attempted += len(results)
        failed += sum(1 for r in results if not r.ok)
        e2e = end_to_end(results, rounds)
        e2e["setup_s"] = statistics.median(g + w for g, w in setups)

        if args.trace:
            bench.tracer = tracing.Tracer()
            with tracing.traced_engine(bench.tracer):
                t_results, t_rounds = bench.window(args.seed, args.seconds, "t")
            attempted += len(t_results)
            failed += sum(1 for r in t_results if not r.ok)
            groups = {f"{r.request}:{p}" for r in t_results for p in ("build", "plan", "exec")}
            stats = sparkstats.collect(spark, groups)
            t_e2e = end_to_end(t_results, t_rounds)
            layers = layer_metrics(
                bench, t_results, sum(t_rounds), cpus, stats, setups, e2e, t_e2e
            )
        e2e["peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            shutdown(spark)
        phases["shutdown"] = time.perf_counter() - t0
    host_after = host_stamp()

    for name, reason in failures.items():
        print(f"perfbench: output check FAILED {name}: {reason}")
    phases["total"] = time.perf_counter() - T_START
    by_query = defaultdict(list)
    for r in results:
        by_query[r.name].append(r.latency)
    print(
        "perfbench: per-query p50 "
        + " ".join(f"{q}={statistics.median(v):.3f}s" for q, v in sorted(by_query.items()))
    )
    flags = contamination(host_before, host_after, cpus)
    print(
        f"perfbench: workload={workload.name} seed={args.seed} cpus={cpus} "
        f"inputs={'generated' if generated else 'cached'} in {gen_s:.2f}s; "
        f"output check {'passed' if not failures else 'FAILED'} "
        f"({len(workload.queries) - len(failures)}/{len(workload.queries)} queries match); "
        + " ".join(f"{k}={v:.1f}s" for k, v in phases.items())
        + " setups=" + ",".join(f"{g:.1f}+{w:.1f}s" for g, w in setups)
        + " rounds=" + ",".join(f"{r:.2f}s" for r in rounds)
    )
    print(
        f"perfbench: setup_s={e2e['setup_s']:.3f}s latency_p50_s={e2e['latency_p50_s']:.4f}s "
        f"latency_tail_s={e2e['latency_tail_s']:.4f}s (p{e2e['tail_percentile']:.1f} of "
        f"{e2e['samples']} samples in {len(rounds)} rounds) "
        f"queries_per_s={e2e['queries_per_s']:.3f}/s "
        f"failed_ratio={failed / attempted:.4f} ({failed}/{attempted}) "
        f"peak_rss_mb={e2e['peak_rss_mb']:.1f}MB"
    )
    print(
        f"perfbench: loadavg {host_before['load1']:.2f} -> {host_after['load1']:.2f}, "
        f"steal ticks {host_after['steal'] - host_before['steal']}; "
        + ("CONTAMINATED: " + "; ".join(flags) if flags else "host quiet")
    )
    if args.trace:
        metrics = {n: {"value": layers[n], "unit": layer_unit(n)} for n in per_layer_names()}
        print(
            f"perfbench: tracing overhead latency_p50_s "
            f"{layers['trace.overhead_latency_p50_s']:+.4f}s, queries_per_s "
            f"{layers['trace.overhead_queries_per_s']:+.3f}/s"
        )
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": not failures and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
