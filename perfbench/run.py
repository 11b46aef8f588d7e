"""Pipeline benchmark: times `graft.service.Pipeline.runPipeline` as users
call it (YAML config, real SparkIO, local[cores], one process).

    python3 perfbench/run.py --workload etl_lineitem --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness from source into `.bench_build/perfbench/`; each (workload, seed,
size) input is generated once into the same tree. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer split. The line before it stamps host evidence. See
perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

# Input rows per workload: the largest sizes the run budget allows for the
# workloads in BENCHMARK.json (see "Budget and sizing" in README.md).
ROWS = {"etl_lineitem": 300_000, "ordered_events": 12_000, "curation_docs": 500}
HEAP = "3g"
RUN_TIMEOUT = 170  # seconds for all JVMs of one run, after build and input

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jvm(cp, work, args, log, deadline):
    # -XX:-UsePerfData: no hsperfdata file under /tmp; the run writes only
    # inside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    spawn_ms = int(time.time() * 1000)
    with open(log, "ab") as lf:
        proc = subprocess.Popen(cmd + [f"spawn_ms={spawn_ms}"], stdout=lf, stderr=lf,
                                stdin=subprocess.DEVNULL,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local"))
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT} s; see {log}")
    if code != 0:
        fail(f"JVM exited {code}; see {log}")
    with open(args["out"]) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the half-size record uses 0.5)")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala is missing")
    base = os.path.join(root, ".bench_build", "perfbench")
    cp = build.build(root, base)

    rows = int(ROWS[a.workload] * a.scale)
    # keyed by the generator's source too, so a changed generator never
    # serves an input (or planted facts) made by an older one
    gen_key = build._digest([os.path.join(HERE, "gen.py")])
    data = os.path.join(base, "data", f"{a.workload}-s{a.seed}-n{rows}-g{gen_key}")
    if not os.path.isdir(data):
        gen.generate(a.workload, a.seed, rows, data)

    work = os.path.join(base, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(base, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    open(log, "w").close()
    cores = os.cpu_count() or 4
    deadline = time.time() + RUN_TIMEOUT
    common = {"workload": a.workload, "data": data, "work": work, "cores": cores,
              "seconds": a.seconds}
    mode = "trace" if a.trace else "timed"
    try:
        r = jvm(cp, work, dict(common, mode=mode, out=f"{work}/result.json"), log, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        metrics = {k: (v, u) for k, (v, u) in r["metrics"].items()}
        metrics["config.parse_ms"] = (r["config.parse_ms"], "ms")
    else:
        metrics = {
            "setup_s": (r["setup_s"], "s"),
            "cold_run_s": (r["cold_run_s"], "s"),
            "run_s": (r["run_s"], "s"),
            "rows_per_s": (r["rows_per_s"], "1/s"),
            "out_bytes_per_in_byte": (r["out_bytes_per_in_byte"], "ratio"),
        }
        r["host"].update({k: r[k] for k in ("setup_s", "cold_run_s", "warm_s")})
    attempted, failed, failures = r["attempted"], r["failed"], r["failures"]
    for f in failures:
        print(f"perfbench: {f}", file=sys.stderr)
    stamp = dict(r["host"], workload=a.workload, seed=a.seed, rows=rows, cores=cores)
    print(json.dumps({"host": stamp}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
