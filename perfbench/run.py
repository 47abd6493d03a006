"""The repo benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--scope full] [--record]

Builds the program and the harness if needed (perfbench/build.py), runs
one workload in a fresh JVM, prints the run record (a line starting with
RECORD) and, as the last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

--scope full runs every registry query of a workload instead of the
benchmark's fixed subset; --record writes the outputs it sees into
perfbench/goldens.json instead of checking them.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["batch", "transit_stream", "dedup_graph", "analytics", "nightly"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def parse(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scope", choices=["subset", "full"], default="subset")
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


def wanted_metrics(trace):
    """(name, unit) of each metric BENCHMARK.json asks for."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"])
            for m in spec["per_layer" if trace else "end_to_end"]]


def result_line(result, wanted, trace):
    """The last output line, from the harness's RESULT object. A missing
    end-to-end metric is an error. A per-layer metric of a layer the
    workload does not run (a stream counter on a batch workload) is 0."""
    have = dict(result["per_layer"])
    have.update(result["end_to_end"])
    missing = [n for n, _ in wanted if n not in have]
    if missing and not trace:
        raise ValueError(f"harness did not report {missing}")
    for n in missing:
        have[n] = 0.0
    return json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": have[n], "unit": u} for n, u in wanted}})


def main(argv):
    a = parse(argv)
    wanted = wanted_metrics(a.trace)
    try:
        classpath, data = build.build()
    except (build.BuildError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")
    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-XX:ReservedCodeCacheSize=512m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work,
              "--goldens", os.path.join(HERE, "goldens.json")]
           + (["--scope", "full"] if a.scope == "full" else [])
           + (["--record"] if a.record else []))
    log = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S if a.scope == "subset"
                                      else None)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"{a.workload}: harness timed out, log in {log}")
    if a.trace and os.path.exists(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(
            build.OUT, "work", f"spans-{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    record = [l for l in lines if l.startswith("RECORD ")]
    result = [l for l in lines if l.startswith("RESULT ")]
    if proc.returncode != 0 or not result:
        sys.exit(f"{a.workload}: harness exited {proc.returncode}, log in {log}")
    if record:
        print(record[-1])
    print(result_line(json.loads(result[-1][len("RESULT "):]), wanted, a.trace))


if __name__ == "__main__":
    main(sys.argv[1:])
