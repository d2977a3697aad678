#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark driver
from source into `.bench_build/perfbench` (reused while the sources are
unchanged), generates the workload's inputs and expected answers from the
seed, runs the driver on `local[<cores>]` from one client thread, checks
every operation's result, and prints one JSON object as the last line:
with `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
metrics of a traced re-run of the same operations.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("operator_pipeline", "connector_roundtrip")
SETUPS = 2                 # set-ups per run (a cold and a warm one); setup_s takes their median
DEADLINE_S = 170           # the whole run, build excluded
JAVA_OPTS = ["-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution (a `bin/spark-submit` next to `jars/`) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    fail("no Spark distribution found: set SPARK_HOME")


def sources(root):
    files = []
    for base in ("src/main/scala", "src/main/resources", os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(os.path.join(root, base)):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp_of(paths):
    h = hashlib.sha256()
    for f in paths:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def up_to_date(stamp_file, stamp):
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            return fh.read() == stamp
    return False


def build(root, out):
    """Compile src/main/scala plus the driver with scalac from the Spark
    distribution, dump the oracle SQL the pipeline checks against and
    compute its answers on the pipeline's corpus; each step is redone only
    when its inputs changed. Returns the classes directory."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("no src/main/scala here: run from the repository root")
    import workloads
    srcs = sources(root)
    classes = os.path.join(out, "classes")
    oracle = os.path.join(out, "oracle_sql.json")
    cp = ":".join(spark_jars())
    jvm = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}"]
    stamp, stamp_file = stamp_of(srcs), os.path.join(out, "stamp")
    if not up_to_date(stamp_file, stamp):
        t0 = time.time()
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        args_file = os.path.join(out, "scalac.args")
        with open(args_file, "w") as fh:
            fh.write("\n".join(["-nowarn", "-classpath", cp, "-d", classes] +
                               [f for f in srcs if f.endswith(".scala")]))
        r = subprocess.run([*jvm, "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "@" + args_file], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail("build failed:\n" + r.stdout[-4000:])
        res = os.path.join(root, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, classes, dirs_exist_ok=True)
        subprocess.run([*jvm, "-cp", classes + ":" + cp, "perfbench.Bench", "--oracle-sql",
                        oracle, *workloads.ORACLE_KEYS], check=True, stdout=subprocess.DEVNULL)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    # the corpus answers depend only on the oracle SQL and the generator
    answers = os.path.join(out, "corpus_answers.json")
    stamp = stamp_of([oracle] + [os.path.join(HERE, f) for f in ("warehouse.py", "workloads.py")])
    stamp_file = os.path.join(out, "corpus_answers.stamp")
    if not up_to_date(stamp_file, stamp):
        t0 = time.time()
        with open(oracle) as fh:
            workloads.corpus_answers(answers, json.load(fh))
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"perfbench: corpus answers in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def end_to_end(res, launch_s):
    ops = res["ops"]
    ms = [o["ms"] for o in ops]
    reads = [o for o in ops if o["kind"] == "read"]
    writes = [o for o in ops if o["kind"] == "write"]

    def mb_per_s(xs, field):
        t = sum(o["ms"] for o in xs) / 1000.0
        return sum(o[field] for o in xs) / 1e6 / t if t > 0 else 0.0

    jvm_start_s = res["main_entry_ms"] / 1000.0 - launch_s
    setup_s = jvm_start_s + (statistics.median(res["setup_ms"]) + res["prime_ms"]) / 1000.0
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / (sum(ms) / 1000.0), "1/s"),
        "read_mb_per_s": (mb_per_s(reads, "bytes_read"), "MB/s"),
        "write_mb_per_s": (mb_per_s(writes, "bytes_written"), "MB/s"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full run record (JSON line) to this file")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()
    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("no BENCHMARK.json here: run from the repository root")
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)
    started = time.time()

    import workloads
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(out, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        with open(os.path.join(out, "corpus_answers.json")) as fh:
            answers = json.load(fh)
        wh = os.path.join(work, "warehouse")
        t0 = time.time()
        plan, bindings, sizes = workloads.make_plan(a.workload, a.seed, wh, cores, answers)
        inputs_s = time.time() - t0
        plan.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                    warehouse=wh, work=work, cores=cores, setups=SETUPS)
        plan_file = os.path.join(work, "plan.json")
        with open(plan_file, "w") as fh:
            json.dump(plan, fh)
        result_file = os.path.join(work, "result.json")
        cp = classes + ":" + os.path.join(os.path.dirname(spark_jars()[0]), "*")
        cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work}/tmp",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}", "-cp", cp,
               "perfbench.Bench", plan_file, result_file]
        launch_s = time.time()
        with open(os.path.join(work, "driver.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("the benchmark process ran past its deadline and was stopped")
        java_s = time.time() - launch_s
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(work, "driver.log")) as fh:
                tail = fh.read()[-3000:]
            fail(f"the benchmark process exited with {rc}:\n{tail}")
        with open(result_file) as fh:
            res = json.load(fh)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    with open(bench_json) as fh:
        spec = json.load(fh)
    attempted = len(res["ops"]) + (len(res["ops"]) if a.trace else 0)
    failed = sum(not o["ok"] for o in res["ops"]) + res["traced_failed"]
    e2e = end_to_end(res, launch_s)
    if a.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  cores=cores, input_rows=sizes, inputs_s=round(inputs_s, 3),
                  bindings=bindings, rounds=res["rounds"], samples=len(res["ops"]),
                  failed_ratio=failed / attempted, failures=res["failures"],
                  probes=res["probes"],
                  setup_ms=res["setup_ms"], prime_ms=res["prime_ms"], self_ms=res["self_ms"],
                  wall_s=round(time.time() - started, 1), java_s=round(java_s, 1),
                  end_to_end={k: v[0] for k, v in e2e.items()}, metrics=metrics)
    if a.record:
        with open(a.record, "a") as fh:
            fh.write(json.dumps(record) + "\n")
    print(f"perfbench: {a.workload} seed={a.seed} rounds={res['rounds']} "
          f"operations={len(res['ops'])} failed_ratio={failed}/{attempted} "
          f"median latency={statistics.median(o['ms'] for o in res['ops']):.1f} ms")
    for f in res["failures"]:
        print(f"perfbench: failed: {f}")
    for name, n in sorted(res["probes"].items()):
        print(f"perfbench: probe {name}: {n}")
    if a.trace:
        for name, ms in sorted(res["self_ms"].items()):
            print(f"perfbench: self time {name}: {ms:.1f} ms")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
