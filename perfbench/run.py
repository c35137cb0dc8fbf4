"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_joins --seed 1 --seconds 24 --trace 0

Run from the repository root.  The inputs are generated from
``--seed``; every timed result is checked against the registry's
DuckDB oracle; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
README.md).  Everything the run writes stays under
``perfbench/_work/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


@dataclass
class Record:
    """One executed query."""

    name: str
    oracle: str
    tables: tuple
    qid: str
    t0: float
    t1: float
    #: the collected pandas frame, or the JSON output directory until it
    #: is checked; None for a query that raised
    result: object = None
    rows: int = 0
    eager_jobs: int = 0
    plan: "dict | None" = None
    sink_files: int = 0
    sink_bytes: int = 0

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment(work: Path, trace: bool) -> None:
    """Keep every file Spark, its JVM and DuckDB write inside ``work``
    and, for a traced run, turn on the Spark event log — all through
    launch-time configuration; the library's session code is unchanged."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        (work / "eventlog").mkdir()
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{work / 'eventlog'}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    args = [a for c in confs for a in ("--conf", c)]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


class Runner:
    """Executes queries of one workload against one Spark session."""

    def __init__(self, spark, workload, data_dir: str, work: Path, oracle, tally):
        self.spark = spark
        self.wl = workload
        self.data_dir = data_dir
        self.out_dir = work / "out"
        self.oracle = oracle
        self.tally = tally
        self.tracer = None
        self._n = 0

    def execute(self, q) -> Record:
        """Build, plan (when traced) and deliver one query.  Exceptions
        propagate to the caller, which counts them."""
        from cassandra_join_library_spark.sources import sinks

        from .tracing import executed_plan, plan_counts

        self._n += 1
        qid = f"q{self._n}"
        rec = Record(q.name, q.oracle, q.tables, qid, time.perf_counter(), 0.0)
        tr = self.tracer
        sc = self.spark.sparkContext
        if tr is not None:
            tr.set_query(qid)
            sc.setJobGroup(qid, q.name)
            with tr.span("query.build"):
                df = q.build(self.spark, self.data_dir)
            rec.eager_jobs = len(sc.statusTracker().getJobIdsForGroup(qid))
            with tr.span("plans.catalyst"):
                rec.plan = plan_counts(executed_plan(df))
        else:
            df = q.build(self.spark, self.data_dir)
        if self.wl.delivery == "collect":
            rec.result = df.toPandas()
            rec.rows = len(rec.result)
        else:
            path = self.out_dir / qid
            sinks.write_json_lines(df, str(path))
            rec.result = path
        rec.t1 = time.perf_counter()
        return rec

    def _verify_written(self, rec: Record) -> None:
        from .oracle import check_written

        path = rec.result
        parts = list(path.glob("*.json"))
        rec.sink_files = len(parts)
        rec.sink_bytes = sum(p.stat().st_size for p in parts)
        rec.rows = check_written(rec.name, rec.oracle, str(path), self.oracle,
                                 self.tally)
        shutil.rmtree(path, ignore_errors=True)
        rec.result = None

    def window(self, seq, cycles: int) -> "tuple[list, float]":
        """One client running ``cycles`` whole cycles drawn from ``seq``,
        so every window holds each query of the workload equally often.
        Written results are checked after each query with the clock
        stopped; collected results are checked by the caller afterwards.
        Returns (records, query seconds: the sum of their latencies)."""
        records: "list[Record]" = []
        spent = 0.0
        for _ in range(cycles * len(self.wl.queries)):
            q = next(seq)
            t0 = time.perf_counter()
            try:
                rec = self.execute(q)
            except Exception as exc:  # counted, never skipped
                self.tally.raised(q.name, exc)
                rec = Record(q.name, q.oracle, q.tables, "-", t0, time.perf_counter())
            spent += rec.latency
            records.append(rec)
            if isinstance(rec.result, Path):
                self._verify_written(rec)
        self.tally.attempted += len(records)
        return records, spent


#: percentile reported as latency_tail_s
TAIL_PCT = 75
#: whole cycles of the workload run before the timed window (set-up)
WARMUP_CYCLES = 1


def timed_cycles(wl, seconds: float) -> int:
    """Whole cycles in a timed window of ``seconds``: the same number on
    every host, so every run measures the same work at the same stage
    of warm-up."""
    return max(1, round(seconds / wl.cycle_s))


def quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta((n+1)q,
    (n+1)(1-q))-weighted mean of all order statistics.  A workload is a
    mix of queries with different costs, so a single order statistic at
    the median or p75 sits on the edge between two queries' latencies
    and jumps with either; the weighted mean does not."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    k = 256  # midpoint-rule steps per order statistic
    t = (np.arange(n * k) + 0.5) / (n * k)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    w = np.exp(log_pdf - log_pdf.max()).reshape(n, k).sum(axis=1)
    return float(w @ x / w.sum())


def end_to_end(records, wall: float, input_rows, setup_s: float,
               tally) -> dict:
    lat = [r.latency for r in records]
    ok = [r for r in records if r.qid != "-"]
    rows_read = sum(input_rows[t] for r in ok for t in r.tables)
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "latency_tail_s": (quantile(lat, TAIL_PCT / 100), "s"),
        "queries_per_s": (len(ok) / wall, "1/s"),
        "input_rows_per_s": (rows_read / wall, "rows/s"),
        "success_rate": (1.0 - tally.error_rate, "ratio"),
    }


def per_layer(records, wall, wl, session, tracer, events, audits,
              overhead) -> "tuple[dict, list]":
    """Per-layer metrics of a traced window; also returns the names
    that do not apply to this workload (reported as 0)."""
    from . import eventlog

    n = len(records)
    ev = eventlog.totals(events, "q")
    rows_out = sum(r.rows for r in records) or 1
    cores = os.cpu_count()

    def mean_plan(k):
        return sum(r.plan[k] for r in records if r.plan) / n

    m = {
        "session.get_spark_s": (session["get_spark_s"], "s"),
        "session.warmup_s": (session["warmup_s"], "s"),
        "session.peak_rss_mb": (session["peak_rss"] / 2**20, "MB"),
        "sources.load_s": (tracer.total_s("sources.load") / n, "s"),
        "sources.loads_per_query": (len(tracer.outermost("sources.load")) / n, "count"),
        "sources.scan_rows": (ev["input_rows"] / n, "rows"),
        "sources.scan_bytes": (ev["input_bytes"] / n, "B"),
        "sources.rows_examined_per_result": (ev["input_rows"] / rows_out, "ratio"),
        "sources.sink_s": (tracer.total_s("sources.sink") / n, "s"),
        "sources.sink_bytes_per_row": (sum(r.sink_bytes for r in records) / rows_out, "B"),
        "sources.sink_files": (sum(r.sink_files for r in records) / n, "count"),
        "plans.build_s": (tracer.total_s("plans.build") / n, "s"),
        "plans.catalyst_s": (tracer.total_s("plans.catalyst") / n, "s"),
        "plans.pushed_filters": (mean_plan("pushed_filters"), "count"),
        "plans.exchanges": (mean_plan("exchanges"), "count"),
        "plans.broadcast_joins": (mean_plan("broadcast_joins"), "count"),
        "plans.nested_loop_joins": (mean_plan("nested_loop_joins"), "count"),
        # the query functions of corpus_dedup are the operators
        "operators.build_s": (tracer.total_s("query.build") / n, "s"),
        "operators.eager_jobs": (sum(r.eager_jobs for r in records) / n, "count"),
        "operators.posting_pairs": (audits.get("n_posting", 0), "count"),
        "operators.candidate_pairs": (audits.get("n_prefix", 0), "count"),
        "operators.verified_pairs": (audits.get("n_verified", 0), "count"),
        "operators.pair_yield": (
            audits["n_verified"] / audits["n_prefix"] if audits.get("n_prefix") else 0,
            "ratio"),
        "operators.lsh_recall_ppm": (audits.get("recall_ppm", 0), "ppm"),
        "operators.lsh_precision_ppm": (audits.get("cand_precision_ppm", 0), "ppm"),
        "spark.jobs_per_query": (ev["jobs"] / n, "count"),
        "spark.tasks_per_query": (ev["tasks"] / n, "count"),
        "spark.scheduler_delay_s": (ev["sched_delay_ms"] / 1e3 / n, "s"),
        "spark.core_busy_frac": (ev["run_ms"] / 1e3 / (wall * cores), "ratio"),
        "spark.executor_run_s": (ev["run_ms"] / 1e3 / n, "s"),
        "spark.executor_cpu_s": (ev["cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (ev["gc_ms"] / 1e3 / n, "s"),
        "spark.shuffle_write_bytes": (ev["shuffle_write_bytes"] / n, "B"),
        "spark.shuffle_read_bytes": (ev["shuffle_read_bytes"] / n, "B"),
        "spark.spill_bytes": (ev["spill_bytes"] / n, "B"),
        "spark.failed_tasks": (ev["failed_tasks"], "count"),
        "trace.overhead_frac": (overhead, "ratio"),
    }
    na = NOT_APPLICABLE[wl.name]
    for k in na:
        m[k] = (0, m[k][1])
    return m, sorted(na)


_SINK = ("sources.sink_s", "sources.sink_bytes_per_row", "sources.sink_files")
_OPS = ("operators.build_s", "operators.eager_jobs", "operators.posting_pairs",
        "operators.candidate_pairs", "operators.verified_pairs",
        "operators.pair_yield", "operators.lsh_recall_ppm",
        "operators.lsh_precision_ppm")
#: per-layer metrics a workload does not exercise (reported as 0)
NOT_APPLICABLE = {
    "bulk_joins": _OPS,
    "corpus_dedup": _SINK + ("plans.build_s",),
}


def run_audits(runner, oracle, tally) -> dict:
    """Funnel and LSH-quality counters for the corpus workload, each
    checked against its oracle (untimed)."""
    from .oracle import check_collected
    from .workloads import CORPUS_AUDITS, registered

    out = {}
    records = []
    for name in CORPUS_AUDITS:
        rec = runner.execute(registered(name))
        records.append(rec)
        out.update(rec.result.iloc[0].to_dict())
    tally.attempted += len(records)
    check_collected(records, oracle, tally)
    return {k: int(v) for k, v in out.items()}


def stop_spark() -> None:
    """Stop the session and the JVM behind it, if running, and wait
    until every process they started has exited (killing stragglers)."""
    from pyspark import SparkContext

    from .host import descendants

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while len(pids := descendants(os.getpid())) > 1:
            if time.time() > deadline:
                for pid in pids[1:]:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                break
            time.sleep(0.2)


def measure(args, wl, work: Path, import_s: float) -> "tuple[dict, dict]":
    """Generate inputs, set up (with warm-up), run the timed (and, with
    ``--trace 1``, the traced) window and check every result.  Returns
    the run record and the result object of the last output line."""
    import numpy as np
    import pyarrow.parquet as pq

    from cassandra_join_library_spark import get_spark

    from . import datagen, eventlog
    from .host import RssSampler
    from .oracle import Oracle, Tally, check_collected
    from .tracing import Tracer

    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    data_dir = str(work / "data")
    sizes = datagen.generate(data_dir, args.seed, wl.sf, wl.n_docs, wl.n_vecs)
    input_rows = {t: pq.ParquetFile(f"{data_dir}/{t}.parquet").metadata.num_rows
                  for t in sizes}
    oracle = Oracle(data_dir, sizes, str(work / "duck"))
    tally = Tally()
    phase("inputs_s")

    with RssSampler() as rss:
        spark = get_spark()
        phase("get_spark_s")
        runner = Runner(spark, wl, data_dir, work, oracle, tally)
        seq = wl.sequence(np.random.default_rng(args.seed))
        # warm-up: whole cycles of the workload, so the JVM has compiled
        # the hot paths before timing; checked and counted like the
        # timed queries, but the checks are not set-up time
        warm, warmup_s = runner.window(seq, WARMUP_CYCLES)
        phase("warmup_wall_s")
        setup_s = import_s + phases["get_spark_s"] + warmup_s
        records, wall = runner.window(seq, timed_cycles(wl, args.seconds))
        phase("timed_wall_s")

    if wl.delivery == "collect":
        check_collected(warm + records, oracle, tally)
    metrics = end_to_end(records, wall, input_rows, setup_s, tally)
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "input_rows": input_rows, "samples": len(records),
              "tail_percentile": TAIL_PCT, "query_s": wall,
              "peak_rss_mb": rss.peak / 2**20,
              "latencies": [(r.name, r.latency) for r in records],
              "end_to_end": {k: v[0] for k, v in metrics.items()}}
    if args.trace:
        tracer = Tracer()
        runner.tracer = tracer
        tracer.install()
        try:
            traced, traced_wall = runner.window(seq, timed_cycles(wl, args.seconds))
        finally:
            tracer.uninstall()
            runner.tracer = None
        if wl.delivery == "collect":
            check_collected(traced, oracle, tally)
        audits = run_audits(runner, oracle, tally) if wl.name == "corpus_dedup" else {}
        overhead = (statistics.median(r.latency for r in traced)
                    / statistics.median(r.latency for r in records) - 1.0)
        phase("traced_s")
        stop_spark()  # finalizes the event log
        metrics, na = per_layer(
            traced, traced_wall, wl,
            {"get_spark_s": phases["get_spark_s"], "warmup_s": warmup_s,
             "peak_rss": rss.peak}, tracer,
            eventlog.read(str(work / "eventlog")), audits, overhead)
        traces = HERE / "_work" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(traces / f"{wl.name}-seed{args.seed}.json"))
        record.update(traced_samples=len(traced), not_applicable=na)
    oracle.close()
    phase("check_s")
    record.update(phases=phases, error_rate=tally.error_rate,
                  errors=tally.notes[:20])
    return record, {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cassandra_join_library_spark" / "__init__.py").is_file():
        print(f"run.py: library package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    # the library import (pyspark, pandas, pyarrow) is part of set-up
    t_import = time.perf_counter()
    from . import host
    from .workloads import WORKLOADS

    import_s = time.perf_counter() - t_import

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = HERE / "_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conditions = host.conditions()
    configure_environment(work, bool(args.trace))
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    steal0, total0 = host.cpu_jiffies()
    try:
        record, result = measure(args, wl, work, import_s)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = host.cpu_jiffies()
    conditions["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    record["conditions"] = conditions
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if __package__ in (None, ""):
        # executed as a script: make the sibling modules importable as
        # the ``perfbench`` package
        sys.path.insert(0, str(ROOT))
        __package__ = "perfbench"
        import perfbench  # noqa: F401
    sys.exit(main())
