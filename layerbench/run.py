"""Layer benchmark entry point.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One workload per process, on a Spark
session built by ``session.get_spark`` with a fixed ``local[N]``. The
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it records the environment (cores, Spark and Java versions, seed).

``--trace 0`` measures rounds of the workload with the package's
functions called bare and reports the end-to-end metrics; the number of
rounds is fixed by ``--seconds`` and the workload's nominal round time,
so every run does the same work. ``--trace 1`` runs a round
bare, the same round traced (every public function in ``tracing.WRAPPED``
wrapped and Spark's listeners attached) and a round bare again, and
reports the per-layer metrics of the traced round; spans, self times and the per-operation
layer split are written to ``.layerbench/traces/``.

Everything the run writes stays under ``.layerbench/`` in the working
directory, and the work directory is removed at the end.
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

#: Spark's local parallelism; never above the machine's core count.
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"

WORKLOADS = ("hourly_ingest", "dashboard_sql", "stream_ingest")


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work directory
    and pin the session's parallelism before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # No hsperfdata file: the JVM would write it under /tmp.
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}'",
        "--conf spark.ui.enabled=false",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={os.path.join(work, 'local')}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def _rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _p(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method) of at least one value."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Harness:
    """Times operations; in a traced round, also records spans and the
    Spark layers of each operation."""

    def __init__(self, spark):
        self.spark = spark
        self.tracer = None
        self.probe = None
        self.tracing = False
        self.n_ops = 0
        self.per_op: list[dict] = []

    def start_tracing(self) -> None:
        import tracing

        self.tracer = tracing.Tracer()
        self.probe = tracing.SparkProbe(self.spark)
        self.tracer.install()
        self.tracing = True

    def stop_tracing(self) -> None:
        self.tracing = False
        self.tracer.uninstall()
        self.probe.drain()
        self.probe.close()

    def fetch(self):
        if not self.tracing:
            import contextlib

            return contextlib.nullcontext()
        return self.tracer.span("fetch", "fetch")

    def op(self, name: str, fn, after=None, windows=None):
        """Run ``fn`` (which returns whether its output passed its check)
        as one timed operation. In a traced round, ``after`` then adds the
        operation's counts to the tracer, outside the timed span, and
        ``windows``, when given, returns the intervals inside the span
        when the program was busy; each is attributed as an operation of
        its own."""
        from workloads import Op

        self.n_ops += 1
        if not self.tracing:
            t0 = time.perf_counter()
            ok = fn()
            return Op(time.perf_counter() - t0, 0, ok)
        import tracing

        group = f"layerbench-op-{self.n_ops}"
        self.probe.set_group(group)
        self.tracer.op = self.n_ops
        with self.tracer.span(name, "op") as span:
            ok = fn()
        self.probe.set_group("layerbench-idle")
        self.probe.drain()
        # Jobs of a windowed operation (a stream) run under their query's
        # own group: take every job submitted inside the span.
        jobs = self.probe.jobs(group, None if windows is None else (span.start, span.end))
        queries = self.probe.take_queries()
        inside = [s for s in self.tracer.spans
                  if s.op == self.n_ops and s.kind != "op"]
        phases = tracing.phase_intervals(queries)
        for lo, hi in ([(span.start, span.end)] if windows is None else windows()):
            self.per_op.append({
                "op": self.n_ops, "name": name, "wall_s": hi - lo,
                "layers_s": tracing.attribute(lo, hi, inside, jobs["intervals"], phases)})
        self.per_op[-1].update({
            "jobs": jobs["jobs"], "stages": jobs["stages"], "tasks": jobs["tasks"],
            "tasks_failed": jobs["tasks_failed"],
            "files_read": sum(q["scans"].get("parquet", 0) for q in queries)})
        if after is not None:
            after(self.tracer.counts)
            self.probe.drain()
            self.probe.take_queries()
        return Op(span.end - span.start, 0, ok)


def _make_workload(name, spark, work, seed, seconds):
    import workloads as w

    if name == "hourly_ingest":
        return w.HourlyIngest(spark, work, seed)
    if name == "dashboard_sql":
        return w.DashboardSql(spark, work, seed)
    return w.StreamIngest(spark, work, seed, seconds)


def _apply_verdicts(ops, verdicts: dict) -> None:
    """Ops whose check runs at the end take their verdict; ``ops`` and each
    key's verdicts are both in execution order."""
    cursor: dict = {}
    for op in ops:
        if op.ok is None:
            i = cursor.get(op.key, 0)
            cursor[op.key] = i + 1
            op.ok = verdicts.get(op.key, [])[i:i + 1] == [True]


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    sys.path.insert(0, root)
    try:
        import questdb_etl_jobs_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"layerbench: cannot import the package from {root}: {exc}",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".layerbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)

    spark = None
    try:
        from questdb_etl_jobs_spark.session import get_spark

        t = time.time()
        spark = get_spark(app_name=f"layerbench-{args.workload}",
                          master=f"local[{CORES}]")
        session_s = time.time() - t
        spark.sparkContext.setLogLevel("ERROR")
        result = _run(args, spark, work, session_s, base)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["info"]))
    print(json.dumps(result["out"]))
    return 0


def _run(args, spark, work, session_s, base) -> dict:
    harness = Harness(spark)
    wl = _make_workload(args.workload, spark, work, args.seed, args.seconds)

    t_prep = time.time()
    wl.prepare()
    t_warm = time.time()
    wl.warm_up(harness)
    t_first = time.time()

    rounds = []
    traced_ops = []
    if args.trace:
        # Bare, traced, bare: the two bare rounds bracket the traced one,
        # so a warming trend does not read as tracing overhead.
        rounds.append(wl.round(harness))
        harness.start_tracing()
        try:
            traced_ops = wl.round(harness)
        finally:
            harness.stop_tracing()
        rounds.append(wl.round(harness))
        every = rounds[0] + traced_ops + rounds[1]
    else:
        # A fixed number of rounds, sized to take about --seconds here, so
        # every run measures the same work whatever the machine's speed.
        for _ in range(max(1, round(args.seconds / wl.ROUND_S))):
            rounds.append(wl.round(harness))
        every = [op for r in rounds for op in r]

    t_fin = time.time()
    fin = wl.finish(harness)
    _apply_verdicts(every, fin.get("verdicts", {}))
    n_ok = sum(1 for op in every if op.ok)
    correct = n_ok == len(every) and bool(fin["checks_ok"])

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "nproc": os.cpu_count(), "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0], "ops": len(every),
        "checks_ok": bool(fin["checks_ok"]), "session_s": session_s,
        "prep_s": t_warm - t_prep, "warm_up_s": t_first - t_warm,
        "measured_s": t_fin - t_first, "finish_s": time.time() - t_fin,
    }
    if args.trace:
        metrics = _layer_metrics(harness, wl, rounds, traced_ops, session_s)
        import tracing

        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracing.write_trace(
            os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
            harness.tracer, harness.per_op, {"info": info, "metrics": metrics})
    else:
        lat = [op.latency_s for op in every]
        # Median over rounds of each round's rate: a round slowed by the
        # machine's neighbours does not move it.
        items_per_s = fin.get("items_per_s") or statistics.median(
            sum(op.items for op in r) / sum(op.latency_s for op in r)
            for r in rounds)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (_rss_kb("self") + _rss_kb(jvm_pid)) / 1024
        values = {
            "setup_s": (t_first - T_PROCESS, "s"),
            "items_per_s": (items_per_s, "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_p90_s": (_p(lat, 90), "s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "ok_share": (n_ok / len(every), "share"),
            "stored_bytes_per_input_byte":
                (fin["stored_bytes_per_input_byte"], "ratio"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
        info["items_unit"] = wl.unit
        info["round_busy_s"] = [sum(op.latency_s for op in r) for r in rounds]
    out = {"correct": correct, "attempted": len(every),
           "failed": len(every) - n_ok, "metrics": metrics}
    return {"info": info, "out": out}


def _layer_metrics(harness, wl, bare_rounds, traced_ops, session_s) -> dict:
    tr = harness.tracer
    per_op = harness.per_op
    layers = {}
    for rec in per_op:
        for k, v in rec["layers_s"].items():
            layers[k] = layers.get(k, 0.0) + v
    traced_sessions = [r for r in getattr(wl, "results", []) if r["traced"]]
    progress = harness.probe.progress
    values = {
        "build.s": (layers.get("build", 0.0), "s"),
        "catalyst.analysis_s": (layers.get("catalyst.analysis", 0.0), "s"),
        "catalyst.optimization_s": (layers.get("catalyst.optimization", 0.0), "s"),
        "catalyst.planning_s": (layers.get("catalyst.planning", 0.0), "s"),
        "execute.s": (layers.get("execute", 0.0), "s"),
        "fetch.s": (layers.get("fetch", 0.0), "s"),
        "execute.jobs": (sum(r.get("jobs", 0) for r in per_op), "count"),
        "execute.stages": (sum(r.get("stages", 0) for r in per_op), "count"),
        "execute.tasks": (sum(r.get("tasks", 0) for r in per_op), "count"),
        "execute.tasks_failed": (sum(r.get("tasks_failed", 0) for r in per_op), "count"),
        "trace.unaccounted_share_max": (max(
            (r["layers_s"]["unaccounted"] / r["wall_s"] for r in per_op
             if r["wall_s"] > 0),
            default=0.0), "share"),
        "session.get_spark_s": (session_s, "s"),
        "sql.questdb_sql_s": (tr.inclusive("sql.questdb_sql"), "s"),
        "plans.files_read": (sum(r.get("files_read", 0) for r in per_op), "count"),
        "pipeline.run_batch_s": (tr.inclusive("pipeline.run_batch"), "s"),
        "sources.read_purchases_csv_s":
            (tr.inclusive("sources.read_purchases_csv"), "s"),
        "plans.write_designated_ts_s":
            (tr.inclusive("plans.write_designated_ts"), "s"),
        "plans.files_written": (tr.counts["plans.files_written"], "count"),
        "plans.bytes_written": (tr.counts["plans.bytes_written"], "bytes"),
        "pipeline.rows_quarantined": (tr.counts["pipeline.rows_quarantined"], "count"),
        "operators.sample_by_s": (tr.inclusive("operators.sample_by"), "s"),
        "operators.latest_on_s": (tr.inclusive("operators.latest_on"), "s"),
        "operators.asof_join_s": (tr.inclusive("operators.asof_join"), "s"),
        "operators.topk_by_threshold_s":
            (tr.inclusive("operators.topk_by_threshold"), "s"),
        "functions.stable_id_s": (tr.inclusive("functions.stable_id"), "s"),
    }
    parts = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
             "get_batch_s": "getBatch", "latest_offset_s": "latestOffset",
             "query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
             "commit_offsets_s": "commitOffsets"}
    for metric, key in parts.items():
        values[f"streaming.{metric}"] = (
            sum(p["duration_ms"].get(key, 0) for p in progress) / 1e3, "s")
    values["streaming.batches"] = (
        len({(p["run_id"], p["batch"]) for p in progress if p["rows"]}), "count")
    values["streaming.state_rows"] = (
        max((p["state_rows"] for p in progress), default=0), "count")
    backlog = late = 0.0
    for res in traced_sessions:
        for t in res["due"]:
            backlog = max(backlog, sum(
                1 for d, c in zip(res["due"], res["commits"]) if d <= t < c))
        late = max([late] + res["gen_late_s"])
    values["streaming.backlog_files_max"] = (backlog, "count")
    values["streaming.gen_late_s_max"] = (late, "s")
    bare = statistics.mean(sum(op.latency_s for op in r) for r in bare_rounds)
    traced = sum(op.latency_s for op in traced_ops)
    values["trace.overhead_share"] = (traced / bare - 1.0, "share")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
