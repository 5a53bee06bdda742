#!/usr/bin/env python3
"""Pipeline benchmark: one command builds the program from source, generates
seeded inputs, runs a workload against the program's public functions, checks
every output against DuckDB, and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload dense --seed 1 --seconds 10 --trace 0

`--trace 0` prints the end-to-end metrics of BENCHMARK.json; `--trace 1`
runs an untraced, a traced and an untraced cycle and prints the per-layer
metrics, including the tracing overhead. Everything the run writes goes under
`.bench_build/` in the repository root.

`setup_s` is the run's one set-up, cold: the JVM has loaded no Spark or
program class yet. Runs with other seeds give the repeats.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import oracle  # noqa: E402
import workloads  # noqa: E402

# a run must end within this many seconds of its start, build excluded
RUN_LIMIT_S = 170
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the repository's build compiles against: the
    `unmanagedBase` of build.sbt, else `$SPARK_HOME/jars`."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        fail("build.sbt not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    found = sorted(jars.glob("*.jar")) if jars.is_dir() else []
    if not found:
        fail(f"no Spark jars in {jars}")
    return found


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    if not main:
        fail("src/main/scala holds no sources: nothing to benchmark")
    return main, bench


def scalac(jars, out, srcs, extra_cp=()):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cp = os.pathsep.join([str(p) for p in extra_cp] + [str(j) for j in jars])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp] + [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")


def build():
    """Compiles the program, then the harness against it, each only when
    its sources changed since the last build; returns the class path."""
    jars = spark_jars()
    main, bench = sources()
    classes, harness = BUILD / "classes", BUILD / "harness"
    h = hashlib.sha256()
    for srcs, out in ((main, classes), (bench, harness)):
        for p in srcs:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
        stamp = out.with_suffix(".stamp")
        if not (stamp.is_file() and stamp.read_text() == h.hexdigest()):
            stamp.unlink(missing_ok=True)
            scalac(jars, out, srcs, extra_cp=[classes] if out == harness else [])
            stamp.write_text(h.hexdigest())
    return [harness, classes] + jars


def prepare(name, seed, trace, seconds, run):
    """Generates the inputs of one run into `run` and writes the harness's
    run description; returns its path and the input files."""
    if run.exists():
        shutil.rmtree(run)
    run.mkdir(parents=True)
    lines, files = workloads.build(name, seed, run / "inputs")
    cpus = len(os.sched_getaffinity(0))
    spec = run / "spec.tsv"
    spec.write_text("\n".join(lines + [
        f"seconds\t{seconds}", f"trace\t{trace}", f"cpus\t{cpus}",
        f"work\t{run / 'work'}"]) + "\n")
    return spec, files


def harness(cp, spec, run, limit_s):
    """Runs the harness JVM on `spec`; returns its result."""
    out = run / "result.json"
    tmp = run / "tmp"
    tmp.mkdir()
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS],
           "-Djdk.reflect.useDirectMethodHandleAccessor=false",
           "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(str(p) for p in cp),
           "perfbench.PerfBench", str(spec), str(out)]
    log = run / "harness.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=run)
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded its time limit; log: {log}")
        finally:
            # also on a signal to this process: the JVM does not outlive it
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.is_file():
        lines = [l for l in log.read_text().splitlines() if " INFO " not in l]
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"harness exited with {rc}")
    return json.loads(out.read_text())


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(res):
    ops = [o for o in res["ops"] if not o["traced"]]

    def times(kind):
        return [o["s"] for o in ops if o["kind"] == kind]

    def rate(kind):
        return median([int(o["detail"]) / o["s"] for o in ops
                       if o["kind"] == kind])
    return {
        "setup_s": (res["setup_s"], "s"),
        "backfill_points_per_s": (rate("backfill"), "points/s"),
        "stream_points_per_s": (rate("stream"), "points/s"),
        "store_bytes_per_point": (median(res["store_bytes_per_point"]), "bytes"),
        "tick_s": (median(times("tick")), "s"),
        "fresh_panel_s": (median(times("fresh_panel")), "s"),
        "noop_tick_s": (median(times("noop")), "s"),
        "panel_p50_s": (median(times("panel")), "s"),
    }


def per_layer(res):
    return {k: (v, u) for k, (v, u) in (res.get("layers") or {}).items()}


def declared():
    """Workload and metric names of BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ([w["name"] for w in spec["workloads"]],
            [m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser(description="pipeline benchmark")
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminating signal unwinds like an error, so the harness JVM is
    # stopped before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_build = time.monotonic()
    cp = build()
    t_start = time.monotonic()
    run = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    spec, files = prepare(a.workload, a.seed, a.trace, a.seconds, run)
    t_inputs = time.monotonic()
    res = harness(cp, spec, run, max(10.0, RUN_LIMIT_S - (t_inputs - t_start)))
    t_harness = time.monotonic()

    attempted, failed, notes = oracle.check(res, files)
    attempted += len(res["ops"]) + len(res["failures"])
    failed += len(res["failures"])
    for n in notes + res["failures"]:
        print(f"[perfbench] {n}", file=sys.stderr)
    print(f"[perfbench] build {t_start - t_build:.1f} s, inputs "
          f"{t_inputs - t_start:.1f} s, harness {t_harness - t_inputs:.1f} s, "
          f"checks {time.monotonic() - t_harness:.1f} s", file=sys.stderr)
    metrics = per_layer(res) if a.trace else end_to_end(res)
    names, e2e, layers = declared()
    if sorted(names) != sorted(workloads.SHAPES) or \
            list(metrics) != (layers if a.trace else e2e):
        fail("metric or workload names differ from BENCHMARK.json")
    keep = BUILD / "spans"
    if a.trace and (run / "work" / "spans.jsonl").is_file():
        keep.mkdir(exist_ok=True)
        shutil.copy(run / "work" / "spans.jsonl",
                    keep / f"{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(run)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a figure with no operation behind it (a failed run) prints as null
        "metrics": {k: {"value": v if v is not None and math.isfinite(v) else None,
                        "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
