"""Self-test of the benchmark at the tiny smoke size.

For every workload: a plain run must report correct output with every
end-to-end metric, and a run whose cold-pass output is deliberately
damaged (`--corrupt`) must be caught by the output checks. Then the
benchmark must refuse to run, without a result line, in a directory
holding only BENCHMARK.json and perfbench/ (no program sources).

    python3 perfbench/selftest.py [workload ...]      # from the repo root
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def bench(args, cwd=None):
    r = subprocess.run([sys.executable, os.path.join(cwd or os.getcwd(), "perfbench", "run.py")]
                       + args, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), r.stderr


def main():
    spec = json.load(open("BENCHMARK.json"))
    e2e = {m["name"] for m in spec["end_to_end"]}
    failures = []
    for w in sys.argv[1:] or WORKLOADS:
        base = ["--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0", "--scale", "smoke"]
        code, out, err = bench(base)
        if code != 0 or not out or not out["correct"] or set(out["metrics"]) != e2e \
                or any(not isinstance(m["value"], (int, float)) for m in out["metrics"].values()):
            failures.append("%s: plain run not correct: %s %s" % (w, out, err[-2000:]))
        code, out, err = bench(base + ["--corrupt"])
        if code != 0 or not out or out["correct"] or out["failed"] < 1 or "CHECK FAILED" not in err:
            failures.append("%s: corrupted output not caught: %s" % (w, out))
        print("%s: ok" % w if not failures else "%s: %d failure(s) so far" % (w, len(failures)))
    bare = os.path.join(os.getcwd(), ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out, _ = bench(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                          "--trace", "0"], cwd=bare)
    if code == 0 or out is not None:
        failures.append("a checkout without the program's sources did not fail")
    shutil.rmtree(bare, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest: %s" % ("FAILED" if failures else "passed"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
