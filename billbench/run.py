"""Billing-run benchmark: one run of one workload.

    python3 billbench/run.py --workload month_close --seed 1 --seconds 20 --trace 0

Builds the program from source if needed (build.py), then:

  * starts the benchmark JVM (src/Bench.scala) in `gen` mode, which writes
    the seed's input files without Spark, then in `run` mode, which computes
    the oracle invoice, runs one cold billing job, the warm-up jobs, then
    jobs back to back for --seconds, checking every invoice against the
    oracle;
  * setup_s is the time from the `run` JVM's start to its ready
    SparkSession;
  * a JVM that has not finished by the deadline is killed, and the run
    exits without a result;
  * prints a diagnostics line, then as the last line one JSON object:
    {"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
    with --trace 0, the per-layer metrics with --trace 1.

Everything it writes goes under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import pathlib
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
WORK = build.OUT / "work"

# Pinned run settings: both sides of every comparison run with these.
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
DEADLINE_S = 170

E2E = {
    "setup_s": "s", "first_job_s": "s", "job_s_p50": "s", "events_per_s": "rows/s",
}
PER_LAYER = {
    "dumpfetch.select_s": "s",
    "dumpconvert.stage_s": "s", "dumpconvert.ddl_scan_s": "s", "dumpconvert.convert_s": "s",
    "dumpconvert.bytes_in": "bytes", "dumpconvert.rows_out": "rows",
    "dumpconvert.scan_amplification": "ratio",
    "ingest.s": "s", "ingest.rows": "rows", "ingest.bytes_read": "bytes",
    "enrich.s": "s", "enrich.rows_in": "rows", "enrich.rows_out": "rows", "enrich.gpu_rows": "rows",
    "runtimesql.state_runs_s": "s", "runtimesql.runs_per_event": "ratio",
    "runtimesql.excluding_s": "s", "runtimesql.interval_rows": "rows",
    "runtimesql.shuffle_bytes": "bytes", "runtimesql.spill_bytes": "bytes",
    "runtimesql.task_skew": "ratio",
    "billing.instance_su_self_s": "s", "billing.project_invoices_s": "s",
    "billing.instances_billed": "rows", "billing.invoice_rows": "rows",
    "invoicesink.csv_s": "s", "invoicesink.upload_s": "s", "invoicesink.csv_bytes": "bytes",
    "config.parse_s": "s", "config.outages": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_bytes": "bytes",
    "spark.codegen_compile_s": "s",
    "trace.overhead_s": "s",
}
WORKLOADS = ("month_close", "daily_dump", "outage_skew")

# Spark outside spark-submit on JDK 17 needs these (as build.sbt sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_cmd(classes, args):
    tmp = WORK / "tmp"
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xss4m",
             f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = f"{classes}{os.pathsep}{build.spark_jars()}"
    return ["java", *flags, "-cp", cp, "billbench.Bench", "--work", str(WORK),
            "--cores", str(CORES), *args]


def child_env():
    env = dict(os.environ)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS", "JAVA_TOOL_OPTIONS"):
            del env[k]
    return env


class Jvm:
    """One benchmark JVM whose stdout is read on a thread, so that a JVM
    that hangs without printing cannot hold the run past its deadline."""

    def __init__(self, classes, args, log, deadline):
        self.t0 = time.monotonic()
        self.log = log
        self.deadline = deadline
        self.p = subprocess.Popen(jvm_cmd(classes, args), cwd=ROOT, env=child_env(),
                                  stdout=subprocess.PIPE, stderr=log, text=True)
        self.lines = queue.Queue()
        self.reader = threading.Thread(target=self._pump, daemon=True)
        self.reader.start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def _next(self):
        """The next stdout line; None once stdout closed or the deadline passed."""
        try:
            return self.lines.get(timeout=max(0.0, self.deadline - time.monotonic()))
        except queue.Empty:
            return None

    def ready(self):
        """Seconds from process start until it printed BILLBENCH_READY."""
        while (line := self._next()) is not None:
            if line.strip() == "BILLBENCH_READY":
                return time.monotonic() - self.t0
            self.log.write(line)
        self.stop()
        sys.exit(f"billbench: no ready SparkSession before the deadline or exit; see {self.log.name}")

    def result(self):
        """The BILLBENCH_RESULT object, after the JVM exited."""
        result = None
        while (line := self._next()) is not None:
            if line.startswith("BILLBENCH_RESULT "):
                result = json.loads(line[len("BILLBENCH_RESULT "):])
            else:
                self.log.write(line)
        try:
            self.p.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        self.stop()
        if result is None or self.p.returncode != 0:
            sys.exit(f"billbench: no result (JVM exit {self.p.returncode}); see {self.log.name}")
        return result

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.reader.join()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a run stopped from outside still kills its JVM (Jvm.stop, via finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("billbench: terminated"))

    classes = build.build()
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    shutil.rmtree(WORK / "tmp", ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    log_path = WORK / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    common = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace)]
    with open(log_path, "w") as log:
        gen_jvm = Jvm(classes, ["--mode", "gen", *common], log, deadline)
        try:
            gen = gen_jvm.result()
        finally:
            gen_jvm.stop()
        run = Jvm(classes, ["--mode", "run", *common], log, deadline)
        try:
            setup_s = run.ready()
            result = run.result()
        finally:
            run.stop()

    measured = dict(result["metrics"], setup_s=setup_s)
    units = PER_LAYER if a.trace else E2E
    missing = [k for k in units if k not in measured]
    if missing:
        sys.exit(f"billbench: metrics missing from the run: {missing}")
    diag = dict(result["diag"], log=str(log_path.relative_to(ROOT)),
                gen=gen["diag"], run_wall_s=time.monotonic() - t_start)
    problems = gen["problems"] + result["diag"]["problems"]
    diag["problems"] = problems
    print(json.dumps({"billbench_diag": diag}, sort_keys=True))
    print(json.dumps({
        "correct": bool(result["correct"]) and not problems,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": measured[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
