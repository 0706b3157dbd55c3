#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark runner from source with sbt (only
when a source changed since the last build), then starts one local Spark
JVM with a fixed heap on every core this process may use. The JVM
writes its inputs from the seed, runs the workload, checks every output
and writes `artifact.json` (plus `spans.json` when traced) into a run
directory under `.bench_build/runs/`. The last line printed is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the `end_to_end` metrics of BENCHMARK.json for `--trace 0` and the
`per_layer` ones for `--trace 1`.

Extra options: `--scale tiny` for the self-test size, `--pins <file>` to
check against other pinned outputs, `--record` to re-pin the query
outputs of the current code into perfbench/expected.json.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
PINS = BENCH / "expected.json"
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ("nemsis_etl", "sql_analytics", "llm_curation")

# Unit of every metric the JVM reports.
UNITS = {
    "setup_s": "s", "wall_s": "s", "op_s_iqm": "s",
    "etl.ingest_elements_per_s": "elements/s", "etl.upsert_batch_s_p50": "s",
    "etl.lake_query_s": "s", "etl.lake_bytes_per_xml_byte": "ratio",
    "etl.parse_ns_per_element": "ns", "etl.bulk.output_bytes": "B",
    "etl.bulk.output_files": "count", "etl.upsert.rows_written_per_row_in": "ratio",
    "etl.upsert.bytes_written_per_xml_byte": "ratio", "etl.upsert.no_task_s": "s",
    "etl.lake_files": "count", "etl.read.input_bytes": "B",
    "etl.wide_views.discover_s": "s", "etl.wide_views.force_s": "s",
    "etl.wide_views.jobs": "count", "etl.evicted_rows": "count",
    "queries.plan_s": "s", "queries.exec_s": "s",
    "sources.input_bytes_per_query": "B",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.codegen_compiles": "count",
    "jvm.codegen_compile_s": "s", "jvm.heap_peak_mb": "MB",
    "bench.trace_overhead_frac": "ratio",
}
for fam in ("repeat", "graph", "dedup"):
    UNITS.update({f"ops.{fam}.s": "s", f"ops.{fam}.jobs": "count",
                  f"ops.{fam}.no_task_s": "s", f"ops.{fam}.core_busy_frac": "ratio",
                  f"ops.{fam}.shuffle_write_bytes": "B", f"ops.{fam}.spill_bytes": "B"})
UNITS.update({f"spark.{k}": u for k, u in (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("core_busy_frac", "ratio"),
    ("no_task_s", "s"), ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"), ("output_bytes", "B"),
    ("stage_skew_max", "ratio"))})

# Per-layer metrics a workload measures, by name prefix; the others are
# reported as 0 on it (for example no `ops.*` work runs in sql_analytics).
COMMON_PREFIXES = ("spark.", "jvm.", "bench.")
MEASURED_PREFIXES = {
    "nemsis_etl": ("etl.",),
    "sql_analytics": ("queries.", "sources."),
    "llm_curation": ("ops.", "queries.", "sources."),
}

# Spark 4 on JDK 17 outside spark-submit, as in the root build.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    program = ROOT / "src" / "main"
    if not (program / "scala").is_dir():
        raise BenchError(f"program sources not found under {program}")
    files = [p for d in (program, BENCH / "src") for p in d.rglob("*") if p.is_file()]
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return sorted(files)


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = digest.hexdigest()
    cp_file = BUILD / "target" / "classpath.txt"
    stamp_file = BUILD / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("building (sbt writeClasspath)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        code = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    if code != 0 or not cp_file.exists():
        raise BenchError(f"build failed (exit {code}); see {BUILD / 'build.log'}")
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp_file.read_text().strip()


def tables_dir(classpath, scale):
    """Where the generated tables of `scale` are cached. They depend only on
    the table generator and the Spark version, not on the program under
    test, so the key is a hash of those two."""
    digest = hashlib.sha256((BENCH / "src/main/scala/graft/perfbench/TableGen.scala").read_bytes())
    for jar in sorted(pathlib.Path(e).name for e in classpath.split(os.pathsep)):
        if jar.startswith("spark-"):
            digest.update(jar.encode() + b"\0")
    return BUILD / "tables" / f"{scale}-{digest.hexdigest()[:16]}"


def run_process(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout
    the whole group is killed and reaped. Returns the exit code."""
    proc = subprocess.Popen(cmd, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def cpu_busy(interval=0.5):
    """Share of this machine's CPU time that was busy over `interval`."""
    def sample():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]
    try:
        t0, i0 = sample()
        time.sleep(interval)
        t1, i1 = sample()
        return 1.0 - (i1 - i0) / max(1, t1 - t0)
    except OSError:
        return -1.0


def loadavg():
    try:
        return float(pathlib.Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return -1.0


def run_jvm(classpath, run_dir, args, cores, extra):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    launch_ms = int(time.time() * 1000)
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={cores}",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}", *ADD_OPENS,
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", str(run_dir), "--data-dir", str(tables_dir(classpath, args.scale)),
           "--scale", args.scale, "--pins", str(args.pins),
           "--launch-ms", str(launch_ms), "--cores", str(cores), *extra]
    with open(run_dir / "jvm.log", "w") as out:
        try:
            t0 = time.time()
            code = run_process(cmd, cwd=run_dir, stdout=out, timeout=JVM_TIMEOUT_S)
            log(f"JVM ran {time.time() - t0:.1f}s")
        except subprocess.TimeoutExpired:
            raise BenchError(f"run exceeded {JVM_TIMEOUT_S}s; see {run_dir / 'jvm.log'}")
    if code != 0:
        raise BenchError(f"benchmark JVM exited {code}; see {run_dir / 'jvm.log'}")


def clean_inputs(run_dir):
    """Keeps the run's artifacts and log; drops its data."""
    for p in run_dir.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)


def select_metrics(spec, art, workload, trace):
    names = spec["per_layer" if trace else "end_to_end"]
    values = {**art["per_layer"]} if trace else {**art["end_to_end"]}
    measured = COMMON_PREFIXES + MEASURED_PREFIXES[workload]
    out = {}
    for m in names:
        name = m["name"]
        if name not in UNITS:
            raise BenchError(f"BENCHMARK.json names unknown metric {name}")
        if name in values:
            value = values[name]
        elif trace and not name.startswith(measured):
            value = 0.0
        else:
            raise BenchError(f"workload {workload} did not report {name}")
        out[name] = {"value": value, "unit": UNITS[name]}
    return out


def record(args, classpath, cores):
    """Re-pins the current code's query outputs at `args.scale`."""
    run_dir = new_run_dir(args)
    run_jvm(classpath, run_dir, args, cores, ["--record", "1"])
    pins = json.loads((run_dir / "pins.json").read_text())
    all_pins = json.loads(PINS.read_text()) if PINS.exists() else {}
    all_pins.setdefault(args.scale, {}).update(pins)
    all_pins[args.scale] = dict(sorted(all_pins[args.scale].items()))
    PINS.write_text(json.dumps(all_pins, indent=1, sort_keys=True) + "\n")
    clean_inputs(run_dir)
    log(f"pinned {len(pins)} outputs at {args.scale} into {PINS}")


def new_run_dir(args):
    run_dir = BUILD / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    run_dir.mkdir(parents=True)
    return run_dir


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", choices=("sf0.01", "tiny"))
    ap.add_argument("--pins", type=pathlib.Path, default=PINS)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classpath = build()
    cores = len(os.sched_getaffinity(0))
    if args.record:
        record(args, classpath, cores)
        return 0

    if args.workload != "nemsis_etl" and not (tables_dir(classpath, args.scale) / "_COMPLETE").exists():
        # the tables are generated once per checkout, in a JVM of their
        # own, so that no run's setup_s includes their generation
        log("generating tables")
        prep_dir = new_run_dir(args)
        run_jvm(classpath, prep_dir, args, cores, ["--prepare-only", "1"])
        shutil.rmtree(prep_dir, ignore_errors=True)

    busy_before = cpu_busy()
    load_before = loadavg()
    run_dir = new_run_dir(args)
    run_jvm(classpath, run_dir, args, cores, [])
    art = json.loads((run_dir / "artifact.json").read_text())
    art["record"].update({
        "heap": HEAP, "loadavg_before": load_before, "loadavg_after": loadavg(),
        "cpu_busy_before": busy_before,
        # another process was using more than a core when the run started
        "load_tag": "loaded" if busy_before > 1.0 / cores else "clean",
    })
    (run_dir / "artifact.json").write_text(json.dumps(art, indent=1))
    clean_inputs(run_dir)
    metrics = select_metrics(spec, art, args.workload, args.trace)
    log(f"artifact: {run_dir / 'artifact.json'} ({art['record']['load_tag']})")
    print(json.dumps({"correct": art["correct"], "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
