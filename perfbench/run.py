#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload pages_to_graph --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root.  One closed-loop client: this process is
the Spark driver on local[nproc // 2] and runs one pass at a time.

--trace 0  set up (session + warm-up pass), then run TIMED_PASSES
           untraced passes; report the end-to-end metrics (medians
           over the passes).  --seconds is the nominal measuring time
           (one pass takes about 8-13 s on a 4-vCPU host); it does not
           change the pass count.
--trace 1  set up with Spark's event log on, run an untraced, a traced
           and another untraced pass, and report the per-layer metrics.

Every pass's output is checked (see oracle.py).  The last stdout line
is one JSON object {correct, attempted, failed, metrics}; a fuller
record (samples, set-up split, provenance, spans, AQE-final plans) is
written under perfbench/.work/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "project_discord_knowledge_graph_spark"
PASS_TIMEOUT_S = 120
TIMED_PASSES = 2
DRIVER_MEMORY = "2g"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def configure_environment() -> int:
    """Environment the session and its Python workers inherit; every
    temporary path stays inside the checkout.  Returns nproc.

    The session gets nproc // 2 task slots: each busy slot also runs a
    Python worker, and the JVM's JIT, GC and driver threads need the
    rest, so the process tree asks for about nproc cores at its peak
    and a pass does not queue behind itself when the host takes some
    of them away (a pass is bound by per-job latency and runs as fast
    on 2 slots as on 4)."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc // 2))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    return nproc


def session(app: str, log_dir: str | None, java_opts: str = ""):
    from project_discord_knowledge_graph_spark.session import get_spark
    tmp = os.path.join(WORK, "tmp")
    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.local.dir": tmp,
             "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
             # fixed heap (G1 otherwise sizes it by GC timing) and fixed
             # JIT compiler threads (procstat subtracts their CPU)
             "spark.driver.extraJavaOptions":
                 f"-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads"
                 f' -Djava.io.tmpdir="{tmp}" {java_opts}'}
    if log_dir:
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": log_dir})
    spark = get_spark(app, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it: PySpark
    leaves the gateway JVM running until it sees EOF on its stdin."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def class_archive(wl, seed: int) -> str:
    """JVM option that maps the workload's application class-data
    archive (JDK AppCDS: the Spark classes a pass loads, pre-parsed),
    built first when the checkout has none, by a child process whose
    untimed session runs the warm-up pass and dumps the classes it
    loaded at exit.  Class loading from jars is most of a cold session
    start.

    The JVM archives no class path that holds a non-empty directory,
    and Spark puts its conf directory on the class path, so sessions
    run with an empty SPARK_CONF_DIR; where Spark's conf directory
    holds more than templates, that would drop real settings, and no
    archive is used ("")."""
    import pyspark
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    conf = os.path.join(home, "conf")
    if os.path.isdir(conf) and any(not n.endswith(".template")
                                   for n in os.listdir(conf)):
        log(f"{conf} holds settings: no class-data archive")
        return ""
    jvm = os.path.join(WORK, "jvm")
    os.makedirs(os.path.join(jvm, "conf"), exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = os.path.join(jvm, "conf")
    path = os.path.join(jvm, f"{wl.name}.jsa")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", wl.name, "--seed", str(seed),
                        "--seconds", "0", "--dump-classes", tmp],
                       cwd=ROOT, stdout=sys.stderr, timeout=600)
        if not os.path.exists(tmp):
            log("no class-data archive was written")
            return ""
        os.replace(tmp, path)
        log(f"class-data archive built in {time.perf_counter() - t0:.1f} s")
    return f'-XX:SharedArchiveFile="{path}"'


def run_pass(spark, wl, inp, out, want, tracer=None) -> dict:
    """One untraced pass: wall, process-tree CPU and peak memory from
    the first call into the package until the output is written and
    read back; then the output check (not timed)."""
    from procstat import PeakMemory, cpu_seconds
    pid = os.getpid()
    timer = threading.Timer(PASS_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    counts, error = None, None
    with PeakMemory(pid) as mem:
        cpu0, t0 = cpu_seconds(pid), time.perf_counter()
        try:
            counts = wl.untraced(spark, inp, out, tracer)
        except Exception as e:  # a failed pass is a result, not a crash
            error = f"{type(e).__name__}: {e}"[:2000]
        wall = time.perf_counter() - t0
        cpu = cpu_seconds(pid) - cpu0
    timer.cancel()
    cpu -= mem.cpu_s
    sample = {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": mem.peak,
              "counts": counts}
    finish_check(sample, wl, out, want, error)
    return sample


def finish_check(sample, wl, out, want, error) -> None:
    if error:
        errors = [error]
    else:
        try:
            errors = wl.check(out, want, sample["counts"])
            if os.path.isdir(f"{out}/graph/nodes"):
                from oracle import graph_fingerprint
                sample["graph_fp"] = graph_fingerprint(f"{out}/graph/nodes")
        except Exception as e:  # unreadable output fails the check
            errors = [f"check raised {type(e).__name__}: {e}"[:2000]]
    sample["ok"], sample["errors"] = not errors, errors
    log(json.dumps(sample, default=str))
    shutil.rmtree(out, ignore_errors=True)


def source_digest() -> str:
    """Digest of the package sources: identifies the code under test
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return h.hexdigest()


def cpu_times() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(start: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor since `start`:
    a high value marks a run taken while the machine was shared."""
    delta = [b - a for a, b in zip(start, cpu_times())]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def provenance(spark, seed: int, load_start, nproc: int) -> dict:
    import pyarrow
    import pyspark
    try:
        git = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        commit = git.stdout.strip() if git.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        commit = "unknown"
    return {"seed": seed, "loadavg_start": load_start,
            "nproc": nproc, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "python": platform.python_version(),
            "git_commit": commit, "source_sha256": source_digest()}


def verify_probes() -> None:
    import gen
    with open(os.path.join(HERE, "manifest.json")) as f:
        want = json.load(f)["probe_digests"]
    got = gen.probe_digests()
    if got != want:
        raise SystemExit(f"input generator output changed: {got} != "
                         f"{want} (see perfbench/manifest.json)")


def layer_metrics(wl, spans, counts, untraced, traced_wall, events):
    """-> (per-layer metrics, event-log collection).  Counts taken by
    the traced pass win over event-log counters of the same name.
    `untraced` holds the walls of the untraced passes run before and
    after the traced one."""
    import eventlog
    from spans import layer_wall
    from workloads import GENERIC, LAYERS, PY, per_layer_units
    spans = spans + wl.derived_spans(spans, eventlog.jobs(events))
    col = eventlog.collect(events, spans)
    walls = layer_wall(spans, LAYERS)
    empty = eventlog.new_layer()
    # the parse UDF's Python-node counters, wherever the traced pass
    # ran it (fused into the stage-1 write on pages_to_graph)
    py = {m: sum(col["layers"].get(src, empty)[m]
                 for src in wl.classify_layers) for m in PY}
    vals = {}
    for layer, extra in LAYERS.items():
        c = col["layers"].get(layer, empty)
        measured = {**c, "wall_s": walls[layer],
                    "task_skew": eventlog.task_skew(c["task_s"])}
        if layer == "classify":
            measured.update(py)
        for m in GENERIC + extra:
            key = f"{layer}.{m}"
            vals[key] = counts.get(key, measured.get(m, 0))
    # useful-to-attempted parse evaluations, from the untraced plan
    group = col["layers"].get(wl.classify_group, empty)
    vals["classify.evals_per_page"] = (
        group["rows_by_node"].get("ArrowEvalPython", 0) / wl.n)
    base = statistics.mean(untraced)
    vals["trace.wall_s"] = traced_wall
    vals["trace.untraced_wall_s"] = base
    vals["trace.overhead_s"] = traced_wall - base
    vals["trace.layer_sum_frac"] = sum(walls.values()) / traced_wall
    units = per_layer_units()
    return {k: {"value": vals[k], "unit": u} for k, u in units.items()}, col


def measure(spark, wl, inp, want, runs):
    """TIMED_PASSES untraced passes; metrics are medians over them."""
    samples = [run_pass(spark, wl, inp, os.path.join(runs, f"p{i}"), want)
               for i in range(TIMED_PASSES)]
    stop(spark)
    metrics = {k: {"value": statistics.median(s[k] for s in samples),
                   "unit": u}
               for k, u in (("wall_s", "s"), ("cpu_s", "s"),
                            ("peak_rss_mb", "MB"))}
    metrics["ok_frac"] = {"value": sum(s["ok"] for s in samples)
                          / len(samples), "unit": "ratio"}
    return samples, metrics


def measure_traced(spark, wl, inp, want, runs, log_dir, record):
    """An untraced, a traced and another untraced pass, then the event
    log.  The first untraced pass runs in an `untraced` job group, so
    its parse evaluations can be counted; the tracing overhead compares
    the traced wall with the mean of the passes on either side."""
    import eventlog
    from spans import Tracer
    tracer = Tracer(spark.sparkContext, record["run_id"])
    before = run_pass(spark, wl, inp, os.path.join(runs, "before"),
                      want, tracer)
    counts = dict.fromkeys(("extract.rows_out", "link.rows_out",
                            "dedup.rows_in", "dedup.rows_out"), 0)
    out = os.path.join(runs, "traced")
    traced, error, state = {"counts": None}, None, None
    with tracer.span("pass") as root:
        try:
            traced["counts"], state = wl.traced(spark, tracer, inp, out,
                                                counts)
        except Exception as e:  # a failed pass is a result, not a crash
            error = f"{type(e).__name__}: {e}"[:2000]
    traced["wall_s"] = root["end"] - root["start"]
    if state is not None:
        wl.after_trace(spark, tracer, state, counts)
    finish_check(traced, wl, out, want, error)
    after = run_pass(spark, wl, inp, os.path.join(runs, "after"), want)
    stop(spark)
    metrics, col = layer_metrics(wl, tracer.spans, counts,
                                 [before["wall_s"], after["wall_s"]],
                                 traced["wall_s"],
                                 eventlog.read_events(log_dir))
    record["spans"] = tracer.spans
    record["jobs_by_layer"] = {k: v["jobs"] for k, v in col["layers"].items()}
    # Python-node counters of every span, the untraced ones included
    record["py_by_layer"] = {
        k: {m: v[m] for m in ("py_time_s", "py_sent_mb", "py_rows")}
        for k, v in col["layers"].items() if v["py_rows"]}
    return ([before, traced, after], metrics,
            eventlog.final_plans(col["executions"]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump-classes", metavar="PATH",
                    help="only run a warm-up pass and write the JVM's "
                         "class-data archive to PATH (see class_archive)")
    args = ap.parse_args()
    load_start, ticks_start = os.getloadavg(), cpu_times()
    nproc = configure_environment()
    sys.path.insert(0, HERE)

    verify_probes()
    from workloads import WORKLOADS, load_oracle
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    inp = wl.inputs(cache, args.seed)
    warm_inp = wl.warm_inputs(cache, args.seed)
    if args.dump_classes:
        spark = session(f"perfbench-{wl.name}-classes", None,
                        f'-XX:ArchiveClassesAtExit="{args.dump_classes}"')
        wl.untraced(spark, warm_inp, os.path.join(WORK, "runs", "classes"))
        stop(spark)
        shutil.rmtree(os.path.join(WORK, "runs", "classes"),
                      ignore_errors=True)
        return
    want = load_oracle(cache, wl, args.seed)

    run_id = uuid.uuid4().hex[:12]
    runs = os.path.join(WORK, "runs", run_id)
    log_dir = os.path.join(runs, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)

    java_opts = class_archive(wl, args.seed)
    # set-up: session (JVM launch, Python worker spawn) plus one pass
    # over a small input of the same workload (first codegen, JIT)
    t0 = time.perf_counter()
    spark = session(f"perfbench-{wl.name}", log_dir, java_opts)
    t1 = time.perf_counter()
    wl.untraced(spark, warm_inp, os.path.join(runs, "warmup"))
    t2 = time.perf_counter()
    setup_s = t2 - t0
    log(f"setup_s {setup_s:.3f} (session {t1 - t0:.3f}, "
        f"warm-up pass {t2 - t1:.3f})")
    prov = provenance(spark, args.seed, load_start, nproc)
    prov["class_archive"] = bool(java_opts)

    record = {"workload": wl.name, "trace": args.trace, "run_id": run_id,
              "seconds": args.seconds, "setup_s": setup_s,
              "session_s": t1 - t0, "warmup_s": t2 - t1, "provenance": prov}
    if args.trace:
        samples, metrics, plans = measure_traced(spark, wl, inp, want, runs,
                                                 log_dir, record)
    else:
        samples, metrics = measure(spark, wl, inp, want, runs)
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    prov["loadavg_end"] = os.getloadavg()
    prov["steal_frac"] = steal_frac(ticks_start)
    failed = sum(not s["ok"] for s in samples)
    record.update(samples=samples, metrics=metrics)
    out_dir = os.path.join(WORK, "results", wl.name)
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"s{args.seed}_t{args.trace}_{run_id}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(stem + "_plans.txt", "w") as f:
            f.write(plans)
    log(f"record {stem}.json")
    shutil.rmtree(runs, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(samples),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
