"""Repository benchmark: one seeded workload, timed end to end or traced.

    python3 perfbench/run.py --workload kg_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), then runs one JVM. Everything it reads
and writes stays under the root: .bench_build (classes), .bench_work
(inputs and standing state of the run, removed at the end) and .bench_out
(a detail record per run, same-seed digests per build, JVM logs). The last line of
stdout is the JSON result; the lines before it are a human-readable copy.

    python3 perfbench/run.py --selftest   # the benchmark's own test
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["kg_corpus", "stream_ingest"]
JVM_TIMEOUT_S = 170
HEAP = "3g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    stamp = build.build(root)
    tag = "selftest" if a.selftest else "%s_seed%d_trace%s" % (
        a.workload, a.seed, a.trace)
    work = os.path.join(root, ".bench_work", "run%d" % os.getpid())
    out = os.path.join(root, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    cmd = build.java_cmd(root, HEAP, os.path.join(work, "tmp")) + [
        "perfbench.Main", "--work", work, "--out", out,
        "--build", stamp[:16]]
    if a.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace]
    log_path = os.path.join(out, "logs", tag + ".log")
    timeout = 900 if a.selftest else JVM_TIMEOUT_S
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, cwd=root)
            try:
                stdout, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print("perfbench: run timed out", file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if a.selftest:
        print("\n".join(lines))
        return proc.returncode
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print("perfbench: run failed (exit %d)" % proc.returncode,
              file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
