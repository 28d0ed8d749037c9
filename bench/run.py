"""Run one benchmark workload end to end.

    python3 bench/run.py --workload search|ingest|curate --seed N \\
        --seconds S --trace 0|1

Builds the engine and the benchmark from the working tree (see build.py),
runs the workload in one JVM, checks the result and prints, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` its per-layer metrics; each metric carries the unit that
BENCHMARK.json gives it. Exits non-zero, printing no result, when the
build or the run fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

import build

BENCH = build.BENCH
ROOT = build.ROOT
WORKLOADS = ("search", "ingest", "curate")
# a run must end within 180 s; leave room to stop the JVM and report
RUN_TIMEOUT_S = 165

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run] {msg}", file=sys.stderr, flush=True)


def commit():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "none (not a git checkout)"


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def shape(result, trace, bench_spec):
    """Attach units from BENCHMARK.json; every metric of the mode must be
    present. Per-layer metrics of a layer the workload never calls read 0."""
    wanted = bench_spec["per_layer" if trace else "end_to_end"]
    raw = result["metrics"]
    unknown = set(raw) - {m["name"] for m in wanted}
    if unknown:
        raise ValueError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        if m["name"] in raw:
            value = raw[m["name"]]
        elif trace:
            value = 0.0
        else:
            raise ValueError(f"end-to-end metric {m['name']} missing")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def fresh_work_dir(name):
    """An empty scratch directory for one run, inside the benchmark."""
    work = BENCH / ".work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def jvm_command(main_class, work, args):
    """The JVM command line for `main_class`, built first if stale."""
    classes, jars = build.build()
    return (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}"]
            + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", main_class]
            + args + ["--work", str(work)])


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args(argv)

    bench_spec = spec()
    print(f"commit {commit()}", flush=True)
    work = fresh_work_dir(f"{a.workload}-{a.seed}-t{a.trace}")
    cmd = jvm_command("graftbench.Main", work,
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", a.trace])
    jvm_log = work / "jvm.log"
    try:
        with open(jvm_log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                log(f"run exceeded {RUN_TIMEOUT_S} s; log: {jvm_log}")
                return 3
    finally:
        # keep the log and the spans; drop the stores and Spark's scratch
        for d in work.iterdir():
            if d.is_dir():
                shutil.rmtree(d, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = jvm_log.read_text(errors="replace").splitlines()[-40:]
        log(f"JVM exited with {proc.returncode}; last log lines:\n" + "\n".join(tail))
        return 4
    for line in lines[:-1]:
        print(line)
    result = shape(json.loads(lines[-1]), a.trace == "1", bench_spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except build.BuildError as e:
        log(f"build failed: {e}")
        sys.exit(2)
