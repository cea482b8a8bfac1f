"""Benchmark command: one workload, one seed, one JVM on local[N].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

    python3 perfbench/run.py --record <file>

Run from the repository root. It builds the program and the harness from
source (perfbench/build.py; reused while sources are unchanged), runs
perfbench.Main in one JVM with one closed-loop client, and prints as its
last stdout line one JSON object with the keys correct, attempted, failed
and metrics. With --trace 0 the metrics are the end-to-end set, with
--trace 1 the per-layer set (see perfbench/README.md). The gates read the
sf0.1 tables in perfbench/data/sf0.1, read-only.

--record runs every SparkEntry gate cold and then warm, and writes the
rows, digests and artifact roots that select_gates.py picks gates.json from.

Each run owns a scratch directory under perfbench/.runs/ that holds its
GRAFT_ARTIFACT_ROOT, java.io.tmpdir and spark.local.dir; it is removed when
the run ends. Traced runs keep their spans in perfbench/.out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = ["setup_s", "ops_per_s", "suite_s", "op_geomean_ms", "peak_rss_mb"]
PER_LAYER = [
    "meta.table_check_ms", "meta.ddl_ms", "meta.dict_load_ms",
    "nl.context_ms", "nl.prompt_ms", "nl.prompt_chars", "nl.llm_ms",
    "repair.extract_ms", "repair.canon_ms", "repair.fix_ms",
    "repair.changed_ratio",
    "exec.analyze_ms", "exec.optimize_ms", "exec.plan_ms", "exec.collect_ms",
    "exec.format_ms", "exec.jobs_per_ask", "exec.rows_fetched",
    "ops.build_ms", "ops.run_ms", "ops.jobs_per_gate", "ops.stages_per_gate",
    "ops.tasks_per_gate", "ops.driver_gap_ms", "ops.analysis_ms",
    "ops.planning_ms",
    "plan.exchanges", "plan.smj", "plan.bhj", "plan.wscg",
    "xchg.shuffle_write_mb", "xchg.shuffle_read_mb", "xchg.spill_mb",
    "xchg.task_skew", "xchg.executor_cpu_s",
    "artifact.built", "artifact.hit", "artifact.hit_ratio",
    "artifact.bytes_written_mb", "artifact.files_written",
    "jvm.gc_ms", "jvm.jit_ms", "jvm.code_cache_mb", "jvm.heap_after_gc_mb",
    "trace.uncovered_ms", "trace.overhead_ms", "error_rate",
]
DATA = os.path.join(HERE, "data", "sf0.1")  # gate tables, 600k lineitem rows
GATES = os.path.join(HERE, "gates.json")
QUEUEDATA_ROWS = 3000   # bridge_qa table rows
CPUS = min(4, os.cpu_count() or 1)  # local[N]
JVM_TIMEOUT_S = 165     # the whole run must end within 180 s


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def fail(msg):
    sys.stderr.write(f"[perfbench] error: {msg}\n")
    sys.exit(2)


def main():
    # SIGTERM unwinds like an exception, so the JVM is killed and the
    # run's scratch removed by the finally blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="askduckdbspark benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="record rows/digests/roots of every gate to FILE "
                         "instead of measuring")
    a = ap.parse_args()
    if a.record:
        a.workload, a.seed, a.seconds = "all", 0, 0.0
    elif None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    classes = os.path.join(build.build(), "classes")
    fixtures = os.path.join(ROOT, "src", "test", "resources", "llm_fixtures")
    if not os.path.isdir(fixtures):
        fail(f"missing LLM fixtures at {fixtures}")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"missing gate tables in {DATA}")
    with open(GATES) as fh:
        gate_workloads = json.load(fh)["workloads"]
    if not a.record and a.workload != "bridge_qa" and a.workload not in gate_workloads:
        fail(f"unknown workload {a.workload}")

    # set-up starts here: JVM, session, inputs, warm-up
    t0 = time.time()
    steal0, total0 = cpu_ticks()
    run = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("art", "tmp", "local"):
        os.makedirs(os.path.join(run, d))
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        result = run_jvm(a, classes, run, fixtures, out_dir, t0)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    if a.record:
        return
    setup_s = result["first_op_ms"] / 1000.0 - t0
    ms = result["metrics"]
    ms["setup_s"] = {"value": setup_s, "unit": "s"}
    attempted, failed = result["attempted"], result["failed"]
    wanted = END_TO_END if a.trace == 0 else PER_LAYER
    missing = [m for m in wanted if m not in ms]
    if missing:
        fail(f"metrics not produced: {missing}")
    steal1, total1 = cpu_ticks()
    steal = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    print(f"[perfbench] workload={a.workload} seed={a.seed} cpus={CPUS} "
          f"trace={a.trace} attempted={attempted} failed={failed} "
          f"error_rate={failed / max(attempted, 1):.6f} "
          f"setup_s={setup_s:.3f} peak_rss_mb={ms['peak_rss_mb']['value']:.1f} "
          f"host_steal_pct={steal:.1f}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: ms[m] for m in wanted},
    }), flush=True)


def run_jvm(a, classes, run, fixtures, out_dir, t0):
    spans = os.path.join(out_dir, f"{a.workload}-seed{a.seed}.spans.jsonl")
    res = os.path.join(run, "result.json")
    mode = "record" if a.record else "run"
    jars = os.path.join(build.spark_home(), "jars", "*")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # a fixed heap (-Xms = -Xmx): G1's timing-dependent heap growth moved
    # peak RSS by up to 500 MB between identical runs. The discovery run
    # includes the heaviest gates and gets more room.
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    heap = "3g" if a.record else "1g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(CPUS), "--run", run, "--data", DATA,
            "--gates", GATES, "--fixtures", fixtures,
            "--qrows", str(QUEUEDATA_ROWS), "--spans", spans, "--out", res,
            "--mode", mode, "--t0ms", str(int(time.time() * 1000))]
    env = dict(os.environ, GRAFT_ARTIFACT_ROOT=f"{run}/art",
               SPARK_LOCAL_DIRS=f"{run}/local")
    log_path = os.path.join(run, "jvm.log")
    # counted from the end of the build check: a first run in a fresh
    # checkout also compiles, and may take longer
    timeout = 3600 if a.record else max(30.0, JVM_TIMEOUT_S - (time.time() - t0))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run, env=env, stdout=subprocess.PIPE,
                             stderr=log, text=True)
        # forward the JVM's progress and failure lines as they come
        fwd = threading.Thread(target=lambda: [print(l, end="", flush=True)
                                               for l in p.stdout])
        fwd.start()
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
        fwd.join()
    if code is None or code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        fail(f"JVM {'timed out' if code is None else f'exited with {code}'}")
    if a.record:
        shutil.copyfile(res + ".record", a.record)
        return None
    with open(res) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
