#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads over the graft engine.

Run from the root of a checkout:

    python3 graftbench/run.py --workload analytics|pipeline|etl \
        --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --self-test

The first run builds the program and the benchmark from source with
scalac (Spark's jars and Scala compiler, from $SPARK_HOME or the Spark
install whose spark-submit is on PATH) and generates the synthetic
tables; later runs reuse both while the sources are unchanged.
Everything is written under
$CARGO_TARGET_DIR/graftbench (default .bench_build/graftbench), and each
run works in its own scratch directory there, deleted at exit.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is the full record: every end-to-end
metric including fail_frac, sample counts and environment readings.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
HEAP = "3g"
RUN_TIMEOUT_S = 170

E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "fail_frac": "ratio", "retained_heap_mb": "MB",
}
# end-to-end metrics on the result line; fail_frac is carried there by
# "attempted" and "failed" (it reads 0 on a healthy run)
RESULT_E2E = [m for m in E2E_UNITS if m != "fail_frac"]
# per-layer metrics on the traced result line: those that read above zero
# on every workload. The rest (zero where a workload never calls the
# layer, as queries.* and bridge.* on etl or sinks.* on pipeline, or
# where a warm pass can do none of it, as codegen.compiles on etl or
# exec.spill_mb) are in the record and the trace file only.
RESULT_LAYERS = [
    "plans.optimize_s", "plans.plan_s", "codegen.run_compiles",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s", "exec.core_busy",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "tables.scan_mb", "tables.rows_read",
]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "exec.core_busy":
        return "ratio"
    return "count"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BenchError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars under {jars}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise BenchError("no program sources under src/main/scala (run from the checkout root)")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    tests = sorted(glob.glob(os.path.join(BENCH_DIR, "test", "**", "*.scala"), recursive=True))
    return main + bench + tests


def digest_files(root, paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java_cmd(jars, classes, *extra):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens, *extra, "-cp", f"{classes}:{jars}/*"]


def run_jvm(cmd, cwd, log, timeout):
    """Run one JVM to completion (killed at the timeout); return stdout."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"timed out after {timeout:.0f} s: {' '.join(cmd[-12:])}")
    if p.returncode != 0:
        with open(log, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        raise BenchError(f"exit {p.returncode}: {' '.join(cmd[-12:])}\n{tail}")
    return out.decode(errors="replace")


def build(root, out_root, jars):
    """Compile the program and the benchmark once per source state."""
    srcs = sources(root)
    classes = os.path.join(out_root, "classes-" + digest_files(root, srcs))
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = ":".join(os.path.join(jars, f"scala-{x}-2.13.17.jar") for x in ("compiler", "library", "reflect"))
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", scala, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", f"{jars}/*", "-d", tmp, "@" + argfile]
    print(f"[graftbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout.decode(errors="replace")[-4000:])
    os.rename(tmp, classes)
    return classes


def tables(root, out_root, jars, classes):
    """Generate the synthetic tables once per generator version."""
    gen = os.path.join(BENCH_DIR, "src", "graftbench", "DataGen.scala")
    data = os.path.join(out_root, "data-" + digest_files(root, [gen]))
    if os.path.isdir(data):
        return data
    for old in glob.glob(os.path.join(out_root, "data-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = data + ".tmp"
    scratch = os.path.join(out_root, "runs", f"datagen-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(scratch)
    print("[graftbench] generating tables", file=sys.stderr)
    try:
        run_jvm(java_cmd(jars, classes, f"-Djava.io.tmpdir={scratch}") + ["graftbench.Main", "datagen", tmp, scratch],
                cwd=scratch, log=os.path.join(scratch, "jvm.log"), timeout=600)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    os.rename(tmp, data)
    return data


def one_jvm(args, jars, classes, data, scratch, trace_out, timeout):
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    cmd = java_cmd(jars, classes, f"-Djava.io.tmpdir={scratch}/tmp",
                   f"-Dderby.system.home={scratch}", f"-Dderby.stream.error.file={scratch}/derby.log")
    cmd += ["graftbench.Main", "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--scratch", scratch,
            "--data", data, "--bench", BENCH_DIR, "--trace-out", trace_out]
    out = run_jvm(cmd, cwd=scratch, log=os.path.join(scratch, "jvm.log"), timeout=timeout)
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if not lines:
        raise BenchError("the run printed no result")
    return json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])


def bench(args, root):
    out_root = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench"))
    os.makedirs(out_root, exist_ok=True)
    jars = spark_jars()
    classes = build(root, out_root, jars)
    data = tables(root, out_root, jars, classes)
    started = time.monotonic()
    run_dir = os.path.join(out_root, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    trace_out = os.path.join(out_root, "traces", f"{args.workload}-seed{args.seed}.json")
    try:
        result = one_jvm(args, jars, classes, data, run_dir, trace_out,
                         RUN_TIMEOUT_S - (time.monotonic() - started))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        metrics = {k: {"value": result["layers"][k], "unit": layer_unit(k)} for k in RESULT_LAYERS}
        result["trace_file"] = os.path.relpath(trace_out, root)
        result["zero_layers"] = [k for k in RESULT_LAYERS if not result["layers"][k] > 0]
        if result["zero_layers"]:
            print(f"[graftbench] per-layer metrics at zero: {', '.join(result['zero_layers'])}", file=sys.stderr)
    else:
        metrics = {k: {"value": result[k], "unit": E2E_UNITS[k]} for k in RESULT_E2E}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "metrics": {k: {"value": result[k], "unit": u} for k, u in E2E_UNITS.items()}}
    record.update({k: v for k, v in result.items() if k not in E2E_UNITS})
    print(json.dumps(record))
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


def self_test(root):
    out_root = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench"))
    os.makedirs(out_root, exist_ok=True)
    jars = spark_jars()
    classes = build(root, out_root, jars)
    scratch = os.path.join(out_root, "runs", f"selftest-{os.getpid()}")
    os.makedirs(scratch)
    try:
        out = run_jvm(java_cmd(jars, classes, f"-Djava.io.tmpdir={scratch}") + ["graftbench.SelfTest"],
                      cwd=scratch, log=os.path.join(scratch, "jvm.log"), timeout=300)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(out, end="")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["analytics", "pipeline", "etl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    try:
        if args.self_test:
            self_test(root)
        elif args.workload:
            bench(args, root)
        else:
            ap.error("--workload or --self-test is required")
    except BenchError as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
