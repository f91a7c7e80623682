"""Layered benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client (this process)
drives a ``local[$SPARK_GRAFT_CPUS]`` Spark session through the package's
public entry points; see perfbench/README.md for the workloads and metrics.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, read from Spark's event log, and a spans file is written under
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "experimentsplan_datapipeline_spark"
OP_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 90.0
MIN_PASSES = 3
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "latency_p50_s": "s",
    "latency_p90_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "streaming.index_build_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "catalyst.plan_s": "s", "streaming.query_planning_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "exec.job_s": "s",
    "exec.gap_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.empty_task_ratio": "ratio",
    "exec.core_busy_ratio": "ratio",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes", "exchange.spill_bytes": "bytes",
    "exchange.fetch_wait_s": "s", "exchange.skew_ratio": "ratio",
    "pyworker.bytes_to_python": "bytes", "pyworker.bytes_from_python": "bytes",
    "pyworker.rows": "count", "pyworker.stage_s": "s",
    "pyworker.processes": "count",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "sources.files_read": "count",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.write_job_s": "s",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.get_batch_s": "s", "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s", "streaming.input_rows": "count",
    "streaming.state_files": "count", "streaming.state_bytes": "bytes",
    "trace.pass_s": "s", "process.peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "tiny"), default="bench",
                   help="input size; tiny is the self-test size")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test only: corrupt one checked output")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _progress(p, key):
    """StreamingQueryProgress field, whether PySpark hands back objects or
    dicts."""
    return p[key] if isinstance(p, dict) else getattr(p, key)


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Run:
    """One benchmark run: session, set-up, warm-up, timed passes."""

    def __init__(self, args, wl, scratch: str):
        import layers

        self.args, self.wl, self.scratch = args, wl, scratch
        self.layers = layers
        self.trace = bool(args.trace)
        self.spans = layers.Spans()
        self.records: list[dict] = []   # one per timed op
        self.passes: list[dict] = []    # one per timed pass
        self.samples: list[float] = []  # op latencies
        self.attempted = self.failed = 0
        self.problems: dict[str, str] = {}
        self.setup: dict[str, float] = {}

    # ------------------------------------------------------------ session

    def start_session(self) -> None:
        from experimentsplan_datapipeline_spark.session import get_session

        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.local.dir": os.path.join(self.scratch, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.scratch, 'tmp')}",
        }
        if self.trace:
            evdir = os.path.join(self.scratch, "eventlog")
            os.makedirs(evdir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_session(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        """Stop Spark and wait for the driver JVM (and with it every Python
        worker) to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort at exit
                proc.kill()
                proc.wait(timeout=10)

    def group(self, name: str) -> None:
        if self.trace:
            self.sc.setJobGroup(name, name)

    def guarded(self, fn):
        """Run ``fn`` with a watchdog that cancels its Spark jobs after
        OP_TIMEOUT_S, so a hung op fails instead of stalling the run."""
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        try:
            return fn()
        finally:
            timer.cancel()

    # --------------------------------------------------------------- batch

    def batch_warmup(self) -> None:
        """The untimed warm-up: one pass that collects each op's result,
        then the workload's ``extra_warmup_passes`` noop passes. The
        comparison with the expected results runs after the clock stops."""
        t0 = time.time()
        collected = {}
        for op in self.wl.ops:
            self.group(f"warmup:{op.name}")
            try:
                collected[op.name] = self.guarded(
                    lambda op=op: op.collect(op.build()))
            except Exception as e:  # noqa: BLE001 - counted as failed op
                self.problems[op.name] = f"raised {type(e).__name__}: {e}"
        for _ in range(self.wl.extra_warmup_passes):
            for op in self.wl.ops:
                if op.name in self.problems:
                    continue
                self.group(f"warmup:{op.name}")
                try:
                    df = self.guarded(op.build)
                    self.guarded(lambda: df.write.format("noop")
                                 .mode("overwrite").save())
                except Exception as e:  # noqa: BLE001 - counted as failed
                    self.problems[op.name] = (
                        f"raised {type(e).__name__}: {e}")
        self.setup["session.warmup_s"] = time.time() - t0
        for i, op in enumerate(self.wl.ops):
            if op.name not in collected:
                continue
            rows = collected[op.name]
            if self.args.corrupt and i == 0:
                rows = rows[:-1]
            problem = op.compare(rows)
            if problem:
                self.problems[op.name] = problem

    def batch_pass(self, seq: int) -> None:
        now = time.time
        p0 = now()
        for op in self.wl.ops:
            g = f"t{seq}:{op.name}"
            self.attempted += 1
            try:
                self.group(f"{g}:build")
                a = now()
                df = self.guarded(op.build)
                b = now()
                self.group(f"{g}:action")
                self.guarded(
                    lambda: df.write.format("noop").mode("overwrite").save())
                c = now()
            except Exception as e:  # noqa: BLE001 - counted as failed op
                self.failed += 1
                self.problems.setdefault(
                    op.name, f"raised {type(e).__name__}: {e}")
                continue
            if op.name in self.problems:
                self.failed += 1
            self.samples.append(c - a)
            self.records.append({"op": op.name, "group": g, "start": a,
                                 "built": b, "end": c, "frame": df,
                                 "pass": seq})
        p1 = now()
        self.passes.append({"wall": p1 - p0, "start": p0, "end": p1,
                            "seq": seq})

    def plan_probe(self) -> float:
        """Force ``executedPlan`` on each op's last timed frame. The noop
        write planned its own command, so the frame's own query execution
        is still unplanned here."""
        total = 0.0
        last = {r["op"]: r for r in self.records}
        for op in self.wl.ops:
            if op.name in last:
                a = time.time()
                last[op.name]["frame"]._jdf.queryExecution().executedPlan()
                total += time.time() - a
        return total

    # -------------------------------------------------------------- stream

    def stream_drain(self, seq: int, timed: bool) -> float:
        """Reset the state (untimed), drain the staged parts, check the
        result (untimed). Returns the drain's wall time."""
        now = time.time
        wl = self.wl
        self.group(f"reset{seq}")
        wl.reset(self.spark)
        self.group(f"t{seq}:build")
        p0 = now()
        writer = wl.writer(self.spark)
        p1 = now()
        self.group(f"t{seq}:drain")
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(DRAIN_TIMEOUT_S)
        if q.isActive:
            q.stop()
        p2 = now()
        exc = q.exception()
        progress = [p for p in q.recentProgress
                    if _progress(p, "numInputRows") > 0]
        self.group(f"check{seq}")
        committed, problem = wl.check(
            self.spark, self.args.corrupt and timed)
        if exc is not None and problem is None:
            problem = f"query failed: {exc}"
        if problem:
            self.problems.setdefault("funnel_epoch", problem)
        if not timed:
            return p2 - p0
        k = wl.epochs
        self.attempted += k
        # undrained epochs fail; a drain whose output is wrong fails whole
        self.failed += k if problem and committed == k else k - committed
        epochs = []
        for p in progress:
            d = _progress(p, "durationMs")
            start = _iso_to_epoch(_progress(p, "timestamp"))
            epochs.append({
                "batch": _progress(p, "batchId"), "start": start,
                "end": start + d.get("triggerExecution", 0) / 1000.0,
                "rows": _progress(p, "numInputRows"), "ms": dict(d),
            })
            self.samples.append(d.get("triggerExecution", 0) / 1000.0)
        files, size = wl.state_size()
        self.passes.append({
            "wall": p2 - p0, "start": p0, "built": p1, "end": p2,
            "epochs": epochs, "state_files": files, "state_bytes": size,
        })
        return p2 - p0

    # ----------------------------------------------------------------- run

    def run(self) -> None:
        now = time.time
        t0 = now()
        self.start_session()
        self.setup["session.start_s"] = now() - t0
        self.setup["streaming.index_build_s"] = 0.0
        stream = self.wl.kind == "stream"
        if stream:
            t1 = now()
            self.group("standup")
            self.wl.stand_up(self.spark, os.path.join(self.scratch, "stream"))
            self.setup["streaming.index_build_s"] = now() - t1
            self.setup["session.warmup_s"] = self.stream_drain(0, timed=False)
        else:
            self.wl.stand_up(self.spark)
            self.batch_warmup()
        # correctness checks run between the timed parts and stay out
        self.setup_s = sum(self.setup.values())
        self.measure_start = now()
        # At least MIN_PASSES whole passes, so the median never rests on
        # the first one, which still runs on a half-warm JVM; then more
        # while the next, at the median length so far (untimed reset and
        # check included), still ends within --seconds.
        seq, rounds = 0, []
        while len(rounds) < MIN_PASSES or (
                now() - self.measure_start + statistics.median(rounds)
                <= self.args.seconds):
            seq += 1
            r0 = now()
            if stream:
                self.stream_drain(seq, timed=True)
            else:
                self.batch_pass(seq)
            rounds.append(now() - r0)
        self.measure_end = now()
        self.plan_s = 0.0 if stream or not self.trace else self.plan_probe()


# ----------------------------------------------------------- per-layer


def layer_metrics(run: Run, sampler, cores: int):
    """(per-pass layer metrics, per-op medians, identity checks). Layer
    metrics come from the event log as medians or per-pass means over the
    timed passes; each identity check is (action wall, job_s) of one op."""
    L = run.layers
    log_ = L.EventLog(L.find_event_log(os.path.join(run.scratch, "eventlog")))
    n = len(run.passes)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(run.setup)
    stream = run.wl.kind == "stream"
    ops: dict[str, dict[str, list[float]]] = {}
    checks = []
    if stream:
        action_jobs, build_jobs = [], []
        for p in run.passes:
            drain = log_.jobs_where(
                lambda j, p=p: j.batch_id is not None
                and p["built"] <= j.start <= p["end"])
            action_jobs += drain
            build_jobs += log_.jobs_where(
                lambda j, p=p: j.group.endswith(":build")
                and p["start"] <= j.start <= p["end"])
            pid = run.spans.add("pass", p["start"], p["end"])
            bid = run.spans.add("build", p["start"], p["built"], pid)
            did = run.spans.add("drain", p["built"], p["end"], pid)
            drain_job_s = L.union_length([(j.start, j.end) for j in drain])
            checks.append((p["end"] - p["built"], drain_job_s))
            for e in p["epochs"]:
                eid = run.spans.add(f"epoch:{e['batch']}", e["start"],
                                    e["end"], did, rows=e["rows"])
                for j in drain:
                    if j.batch_id == e["batch"]:
                        run.spans.add(f"job:{j.id}", j.start, j.end, eid)
            for j in build_jobs:
                if p["start"] <= j.start <= p["built"]:
                    run.spans.add(f"job:{j.id}", j.start, j.end, bid)
            ops.setdefault("funnel_epoch", {"build_s": [], "exec_s": []})
            ops["funnel_epoch"]["build_s"].append(p["built"] - p["start"])
            ops["funnel_epoch"]["exec_s"] += [
                (e["end"] - e["start"]) for e in p["epochs"]]
        out["plans.build_s"] = sum(p["built"] - p["start"]
                                   for p in run.passes) / n
        action_wall = sum(p["end"] - p["built"] for p in run.passes)
        epochs = [e for p in run.passes for e in p["epochs"]]
        for name, key in [("trigger_s", "triggerExecution"),
                          ("add_batch_s", "addBatch"),
                          ("get_batch_s", "getBatch"),
                          ("latest_offset_s", "latestOffset"),
                          ("wal_commit_s", "walCommit"),
                          ("query_planning_s", "queryPlanning")]:
            out[f"streaming.{name}"] = statistics.median(
                e["ms"].get(key, 0) / 1000.0 for e in epochs
            ) if epochs else 0.0
        out["streaming.input_rows"] = sum(e["rows"] for e in epochs) / n
        out["streaming.state_files"] = statistics.median(
            p["state_files"] for p in run.passes)
        out["streaming.state_bytes"] = statistics.median(
            p["state_bytes"] for p in run.passes)
    else:
        by_group = {}
        for j in log_.jobs.values():
            by_group.setdefault(j.group, []).append(j)
        action_jobs, build_jobs = [], []
        pass_span = {p["seq"]: run.spans.add("pass", p["start"], p["end"])
                     for p in run.passes}
        for r in run.records:
            b_jobs = by_group.get(r["group"] + ":build", [])
            a_jobs = by_group.get(r["group"] + ":action", [])
            build_jobs += b_jobs
            action_jobs += a_jobs
            oid = run.spans.add(f"op:{r['op']}", r["start"], r["end"],
                                pass_span[r["pass"]], trace=r["group"])
            bid = run.spans.add("build", r["start"], r["built"], oid,
                                trace=r["group"])
            aid = run.spans.add("action", r["built"], r["end"], oid,
                                trace=r["group"])
            for j in b_jobs:
                run.spans.add(f"job:{j.id}", j.start, j.end, bid,
                              trace=r["group"])
            for j in a_jobs:
                run.spans.add(f"job:{j.id}", j.start, j.end, aid,
                              trace=r["group"])
            job_s = L.union_length([(j.start, j.end) for j in a_jobs])
            checks.append((r["end"] - r["built"], job_s))
            o = ops.setdefault(r["op"], {"build_s": [], "exec_s": []})
            o["build_s"].append(r["built"] - r["start"])
            o["exec_s"].append(r["end"] - r["built"])
        out["plans.build_s"] = sum(
            r["built"] - r["start"] for r in run.records) / n
        action_wall = sum(r["end"] - r["built"] for r in run.records)
        out["catalyst.plan_s"] = run.plan_s
    m = L.job_metrics(log_, action_jobs)
    for k in ("exec.jobs", "exec.tasks", "exec.task_run_s",
              "exec.task_cpu_s", "exec.gc_s",
              "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
              "exchange.spill_bytes", "exchange.fetch_wait_s",
              "sources.input_bytes", "sources.input_rows",
              "sinks.bytes_written", "sinks.write_job_s",
              "pyworker.bytes_to_python", "pyworker.bytes_from_python",
              "pyworker.rows", "pyworker.stage_s"):
        out[k] = m[k] / n
    # per-op job union, so jobs of one op never mask another op's gap
    job_s_total = sum(j for _, j in checks)
    out["exec.job_s"] = job_s_total / n
    out["exec.gap_s"] = (action_wall - job_s_total) / n
    out["exchange.skew_ratio"] = m["exchange.skew_ratio"]
    out["exec.empty_task_ratio"] = (
        m["exec.empty_tasks"] / m["exec.tasks"] if m["exec.tasks"] else 0.0)
    out["exec.core_busy_ratio"] = (
        m["exec.task_run_s"] / (job_s_total * cores) if job_s_total else 0.0)
    out["plans.build_jobs"] = len(build_jobs) / n
    out["sources.files_read"] = L.driver_metric(
        log_, action_jobs, "number of files read") / n
    out["sinks.files_written"] = L.driver_metric(
        log_, action_jobs, "number of written files") / n
    out["pyworker.processes"] = sampler.max_py_workers
    out["process.peak_rss_mb"] = sampler.peak_rss / 2**20
    out["trace.pass_s"] = statistics.median(p["wall"] for p in run.passes)
    per_op = {
        name: {k: statistics.median(v) if v else 0.0 for k, v in o.items()}
        for name, o in ops.items()
    }
    return out, per_op, checks


# ----------------------------------------------------------------- main


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        __import__(PACKAGE)
    except ImportError as e:
        log(f"cannot import {PACKAGE} from {ROOT}: {e}")
        return 2
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {workloads.WORKLOADS}")
        return 2
    nproc = len(os.sched_getaffinity(0))
    # Two task slots by default: an image op runs one task and a stream
    # epoch keeps its cores under half busy, so more slots add nothing but
    # threads competing with the JVM's own, the client's and other
    # tenants' on a small shared machine.
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or min(2, nproc))
    bench_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(bench_dir, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    # Python workers import the package from the checkout, wherever the
    # JVM starts them; staging helpers' temp dirs stay inside the run root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")

    try:
        wl = workloads.make(args.workload, args.size)
        t = time.time()
        wl.generate(os.path.join(bench_dir, "cache"), args.seed)
        wl.compute_oracle()
        gen_s = time.time() - t
        return report(args, Run(args, wl, scratch), nproc, cores, gen_s,
                      bench_dir)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def report(args, run: Run, nproc: int, cores: int, gen_s: float,
           bench_dir: str) -> int:
    """Run the workload, then print its metrics and the result line."""
    import layers

    sampler = layers.TreeSampler()
    try:
        with sampler:
            busy0, own0 = layers.cpu_snapshot()
            run.run()
            busy1, own1 = layers.cpu_snapshot()
            stamp = {
                "master": run.sc.master,
                "default_parallelism": run.sc.defaultParallelism,
                "shuffle_partitions": int(
                    run.spark.conf.get("spark.sql.shuffle.partitions")),
                "nproc": nproc,
                "spark_graft_cpus": cores,
                "driver_heap": run.sc.getConf().get("spark.driver.memory"),
                "spark": run.spark.version,
                "python": platform.python_version(),
            }
            run.stop_session()
    except Exception:  # noqa: BLE001 - report, then fail the run
        log(traceback.format_exc())
        if getattr(run, "spark", None) is not None:
            run.stop_session()
        return 1
    measured = run.measure_end - run.measure_start
    stamp["foreign_cores"] = round(
        max((busy1 - busy0) - (own1 - own0), 0) / layers.HZ
        / max(measured, 1e-9), 3)
    stamp.update({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "input_gen_s": round(gen_s, 4), "measured_s": round(measured, 3),
        "passes": len(run.passes), "latency_samples": len(run.samples),
        "pass_walls": [round(p["wall"], 3) for p in run.passes],
    })
    # the comparison's verdict covers every timed instance of a failed op
    correct = run.failed == 0 and not run.problems
    for name, problem in run.problems.items():
        log(f"FAILED {name}: {problem[:300]}")
    error_rate = run.failed / max(run.attempted, 1)

    if args.trace:
        metrics, per_op, checks = layer_metrics(run, sampler, cores)
        units = PER_LAYER
        out_dir = os.path.join(bench_dir, "out")
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        for name, o in sorted(per_op.items()):
            for k, v in o.items():
                print(f"op.{name}.{k} = {v:.6f} s")
        # time a batch pass spends outside its ops, from its own clock
        outside = max((abs(p["wall"] - sum(
            r["end"] - r["start"] for r in run.records
            if r["pass"] == p["seq"])) / p["wall"]
            for p in run.passes if "seq" in p), default=0.0)
        over = max(((j - a) / a for a, j in checks if a), default=0.0)
        print(f"identity: max |pass-sum(op)|/pass = {outside:.4f}; "
              f"max (job_s-action)/action = {over:.4f}")
        run.spans.dump(spans_path, {"stamp": stamp, "metrics": metrics,
                                    "per_op": per_op})
        print(f"spans: {os.path.relpath(spans_path, ROOT)}")
    else:
        metrics = {
            "setup_s": run.setup_s,
            "pass_s": statistics.median(p["wall"] for p in run.passes),
            "latency_p50_s": statistics.median(run.samples),
            "latency_p90_s": statistics.quantiles(
                run.samples, n=10, method="inclusive")[-1]
            if len(run.samples) > 1 else run.samples[0],
        }
        units = END_TO_END
        for k, v in run.setup.items():
            print(f"{k} = {v:.4f} s")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(f"error_rate = {error_rate:.6g} ratio "
          f"({run.failed} of {run.attempted} ops)")
    if not args.trace:
        print(f"peak_rss_mb = {sampler.peak_rss / 2**20:.6g} MB")
    print("stamp: " + json.dumps(stamp))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
