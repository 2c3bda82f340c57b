"""Lakehouse benchmark: closed-loop passes over registry entries.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]

One client runs one operation at a time on ``local[N]``, N the CPUs this
process may use.  An operation is one entry of ``__spark_entry__.queries()``:
the entry is built, planned and fully executed through the ``noop`` sink.
A run sets the session up, makes one warm-up pass, then makes timed
passes until ``--seconds`` have passed: always whole passes, and at
least two, so every run reports a median over as many passes.  Every
pass, the warm-up too, reads its inputs under a path no earlier pass
used.
After each timed operation, outside its timed interval, its output is
collected; at the end every output is compared with the entry's DuckDB
oracle twin.  A wrong output counts the operation as failed and makes
``correct`` false; an operation that raises counts as failed only.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones (see ``spans.py``).  Progress
goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import check
import inputs
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: Registry entries each workload runs, in pass order.  Why each
#: workload exists is in BENCHMARK.json; README.md gives the make-up.
WORKLOADS = {
    "warehouse_tables": [
        "pricing_summary", "order_revenue", "events_sessions", "table_checksums",
        "order_interval_overlaps", "merge_upsert_state", "merge_changes_feed",
    ],
    "loops_streams": [
        "dedup_clusters", "textrank_keywords", "kmeans_round", "kaplan_meier_streamed",
    ],
}


def fit_session_env(run_dir: str) -> None:
    """Size the program's session to this machine and keep every file a
    run writes inside ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) // 2**20
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{max(1, min(4, mem_gib // 4))}g",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
    )
    for var in ("SPARK_GRAFT_STREAM_PARTITIONS", "SPARK_GRAFT_UI"):
        os.environ.pop(var, None)


def start_session(run_dir: str):
    """Import the program and start its session; the first job makes it warm."""
    import __spark_entry__  # noqa: F401  (the registry and every module it uses)
    from beauty_lakehouse_spark import session

    # The warehouse location is a deployment path: keep it in the run dir.
    session.DEFAULT_CONF["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    spark = session.get_spark()
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM, and the Python workers the
    JVM started, to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM, in MiB."""
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def oracle_answers(inputs_dir: str, names: list[str], cache_dir: str) -> dict:
    """Every entry's oracle answer on these inputs, by name.

    Answers not yet cached are computed first, in a child process and
    before the session starts, so DuckDB never competes with the
    measured program for the cores."""
    missing = [n for n in names if not os.path.exists(os.path.join(cache_dir, f"{n}.json"))]
    if missing:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), inputs_dir, cache_dir, *missing],
            stdout=subprocess.DEVNULL, check=True,
        )
    answers = {}
    for n in names:
        with open(os.path.join(cache_dir, f"{n}.json"), encoding="utf-8") as f:
            answers[n] = json.load(f)
    return answers


class Runner:
    """Runs passes of one workload."""

    def __init__(self, spark, registry, names, inputs_dir, run_dir, tracer):
        self.spark, self.registry, self.names = spark, registry, names
        self.inputs_dir, self.run_dir = inputs_dir, run_dir
        self.clock = spans.Clock(spark)
        self.tracer = tracer
        self.passes = 0

    def _step(self, step: str, fn, op: dict):
        """Run one step of an operation and add its time and jobs to ``op``."""
        s0 = self.clock.stages()
        if self.tracer is not None and self.tracer.active:
            self.tracer.enter("entry", step)
            try:
                value = fn()
            finally:
                dur, jobs = self.tracer.exit()
            self.tracer.add(f"entry.{step}_s", dur)
            self.tracer.add(f"entry.jobs_{step}", jobs)
        else:
            j0, t0 = self.clock.jobs(), time.perf_counter()
            value = fn()
            dur, jobs = time.perf_counter() - t0, self.clock.jobs() - j0
        op["s"] += dur
        op["jobs"] += jobs
        op["stages"].append((s0, self.clock.stages()))
        return value

    def run_pass(self, collect: bool = True) -> dict:
        """One pass over the workload's entries on a fresh input path;
        with ``collect``, each operation's output is kept in canonical form."""
        path = inputs.link_pass(self.inputs_dir, os.path.join(self.run_dir, f"in{self.passes}"))
        ops = []
        for name in self.names:
            op = {"name": name, "s": 0.0, "jobs": 0, "stages": [], "failed": False,
                  "answer": None}
            try:
                df = self._step("build", lambda: self.registry[name](self.spark, path), op)
                self._step("plan", lambda: df._jdf.queryExecution().executedPlan(), op)
                self._step("sink", lambda: df.write.format("noop").mode("overwrite").save(), op)
                if collect:
                    op["answer"] = check.spark_answer(df)
            except Exception:  # an operation's failure is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                op["failed"] = True
            ops.append(op)
            print(f"pass {self.passes} {name}: {op['s']:.3f} s, {op['jobs']} jobs"
                  + (" FAILED" if op["failed"] else ""), file=sys.stderr)
        self.passes += 1
        return {"ops": ops, "s": sum(o["s"] for o in ops), "jobs": sum(o["jobs"] for o in ops)}


def judge(passes: list[dict], oracle: dict) -> int:
    """Compare every collected output with its oracle answer, mark each
    wrong operation failed and return how many were wrong."""
    wrong = 0
    for i, p in enumerate(passes):
        for op in p["ops"]:
            why = op["answer"] is not None and check.mismatch(op["answer"], oracle[op["name"]])
            if why:
                wrong += 1
                op["failed"] = True
                print(f"timed pass {i} {op['name']} is wrong: {why}", file=sys.stderr)
    return wrong


def per_layer(spark, spec, tracer, stats, timed, worker_cpu_s) -> dict:
    """Per-pass means of every per-layer metric over the timed passes."""
    st = spans.stage_totals(spark, [r for p in timed for o in p["ops"] for r in o["stages"]])
    tables = spans.stage_totals(spark, tracer.table_stages)
    v = dict(tracer.values)
    v.update(stats.values())
    v.update({
        "spark.stages": st["stages"],
        "spark.tasks": st["tasks"],
        "spark.executor_run_s": st["run_ms"] / 1e3,
        "spark.executor_cpu_s": st["cpu_ns"] / 1e9,
        "spark.shuffle_write_mb": st["shuffle_write"] / 2**20,
        "spark.shuffle_read_mb": st["shuffle_read"] / 2**20,
        "spark.spill_mb": st["spill"] / 2**20,
        "spark.stages_unrecorded": st["missing"],
        "tables.bytes_written_mb": tables["output"] / 2**20,
        "python_worker.cpu_s": worker_cpu_s,
        "trace.overhead_s": tracer.overhead_s,
        "trace.wall_s": sum(p["s"] for p in timed),
        "trace.spark_jobs": sum(p["jobs"] for p in timed),
    })
    return {m["name"]: {"value": v.get(m["name"], 0) / len(timed), "unit": m["unit"]}
            for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Terminated runs unwind too, so the session and its JVM are stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no program to measure: {ROOT}/__spark_entry__.py is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)

    names = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    inputs_dir = inputs.prepare(args.seed, WORK)
    oracle = oracle_answers(inputs_dir, names, os.path.join(WORK, f"oracle-seed{args.seed}"))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        fit_session_env(run_dir)
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        setup_s = time.perf_counter() - t0

        tracer = stats = None
        if args.trace:
            tracer = spans.Tracer(spans.Clock(spark))
            tracer.install()
        import __spark_entry__

        runner = Runner(spark, __spark_entry__.queries(), names, inputs_dir, run_dir, tracer)
        t1 = time.perf_counter()
        runner.run_pass(collect=False)  # warm-up
        print(f"setup {setup_s:.1f} s, warm-up {time.perf_counter() - t1:.1f} s",
              file=sys.stderr)

        if tracer is not None:
            stats = spans.StreamStats()
            spark.streams.addListener(stats)
            cpu0 = spans.descendants_cpu_s(jvm_pid(spark))
            tracer.active = True
        timed, t_start = [], time.perf_counter()
        while len(timed) < 2 or time.perf_counter() - t_start < args.seconds:
            timed.append(runner.run_pass())
        correct = judge(timed, oracle) == 0

        if tracer is not None:
            tracer.active = False
            metrics = per_layer(spark, spec, tracer, stats, timed,
                                spans.descendants_cpu_s(jvm_pid(spark)) - cpu0)
            spark.streams.removeListener(stats)
        else:
            op_s = [o["s"] for p in timed for o in p["ops"] if not o["failed"]]
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(p["s"] for p in timed),
                "op_p50_s": statistics.median(op_s) if op_s else float("nan"),
                "spark_jobs": statistics.median(p["jobs"] for p in timed),
                "peak_rss_mb": peak_rss_mb(spark),
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": correct,
        "attempted": sum(len(p["ops"]) for p in timed),
        "failed": sum(o["failed"] for p in timed for o in p["ops"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
