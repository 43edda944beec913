"""The repository benchmark: one command, named seeded workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--scale full|double|smoke] [--cpus N] [--corrupt]

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), makes the workload's inputs from the seed
(perfbench/gen.py, cached), runs the JVM side (perfbench.Main) and prints
one JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced pass. Everything the benchmark writes lives under
`.bench_build/` in the working directory.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["users_full_load", "users_resync", "corpus_curate", "ann_serve"]
JVM_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load_spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def jvm(classes, work, args, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main"] + args
    with open(log, "a") as err:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("perfbench: the JVM run exceeded %ds; see %s" % (JVM_TIMEOUT_S, log))
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("perfbench: the JVM run failed (exit %d); see %s" % (p.returncode, log))
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "double", "smoke"], default="full")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the cold pass's output (self-test of the checks)")
    a = ap.parse_args()

    spec = load_spec()
    root = os.path.join(os.getcwd(), ".bench_build")
    os.makedirs(root, exist_ok=True)
    classes = build.build(root)
    data = gen.generate(a.workload, a.seed, a.scale, os.path.join(root, "data"))
    work = os.path.join(root, "work", "%s-%s-%d" % (a.workload, a.scale, a.seed))
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "jvm.log")
    open(log, "w").close()
    run = jvm(classes, work, ["--workload", a.workload, "--data", data, "--work", work,
                              "--cpus", str(a.cpus), "--seed", str(a.seed), "--seconds", str(a.seconds),
                              "--trace", str(a.trace)] + (["--corrupt"] if a.corrupt else []), log)
    with open(os.path.join(work, "run.json"), "w") as f:
        json.dump(run, f)
    with open(log) as f:
        for line in f:
            if line.startswith("CHECK FAILED"):
                sys.stderr.write(line)

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {k: v["value"] for k, v in run["per_layer"].items()}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = dict(run["e2e"], setup_s=run["setup_s"])
    metrics = {n: {"value": values.get(n), "unit": units[n]} for n in names}
    complete = all(isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"correct": run["failed"] == 0 and complete, "attempted": run["attempted"],
                      "failed": run["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
