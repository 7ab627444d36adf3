"""graft's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <headline|replay_fold|scoreboard_stream>
        --seed <n> --seconds <s> --trace <0|1>
        [--profile full|tiny] [--reference <file>]

Run from anywhere inside a checkout of the repository. The first run
builds the engine and the benchmark from source (see build.py); later
runs reuse the build while no source changed. One JVM runs the workload
at local[<cores>]; its last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones, with the names and units BENCHMARK.json declares. The
line before it carries the workload's own metric names (perfbench/README.md)
and, for headline, each query's (rows, hash) in the reference file's form.
--profile tiny runs the self-test sizes with one set-up. Each run works in
its own directory under .bench_build/perfbench/runs, removed at the end;
the traced run's span file is kept under .bench_build/perfbench/spans.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("headline", "replay_fold", "scoreboard_stream")
# the run (not the build) must end within this many seconds
RUN_BUDGET_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--profile", default="full", choices=("full", "tiny"))
    ap.add_argument("--reference", default=None,
                    help="headline reference (default: the profile's recorded one)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("perfbench: engine sources not found next to perfbench/", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    classes, jars = build.ensure()
    built_s = time.monotonic() - t_start

    sf = "sf0.001" if a.profile == "tiny" else "sf0.01"
    data = os.path.join(HERE, "data", sf)
    reference = a.reference or os.path.join(HERE, "reference", f"headline_{sf}.tsv")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(build.OUT, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(cores()), "--work", work, "--data", data,
              "--reference", reference,
              "--benchmark", os.path.join(ROOT, "BENCHMARK.json"),
              "--profile", a.profile])
    log_path = os.path.join(build.OUT, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    # a TERM to this process must not orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(
                timeout=RUN_BUDGET_S - (time.monotonic() - t_start - built_s))
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_BUDGET_S} s; log {log_path}", file=sys.stderr)
            return 4
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        keep = os.path.join(build.OUT, "spans", tag + ".jsonl")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.move(spans, keep)
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: the run printed no result (exit {proc.returncode}); log {log_path}",
              file=sys.stderr)
        return 3
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
