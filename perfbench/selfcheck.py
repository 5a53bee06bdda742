#!/usr/bin/env python3
"""The benchmark's own checks, without Spark:

- the input generator writes byte-identical files for a given seed, and
  different files for another seed;
- the workload names and the end-to-end metric names the benchmark prints
  equal those in BENCHMARK.json (per-layer names are checked by every
  traced run, against the same file).

Usage: python3 perfbench/selfcheck.py   (exit 1 on the first failure)
"""
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def inputs_digest(name, seed, root):
    if root.exists():
        shutil.rmtree(root)
    lines, _ = workloads.build(name, seed, root)
    files = sorted(p for p in root.rglob("*.csv"))
    rel = "\n".join(str(p.relative_to(root)) for p in files)
    return gen.digest(files), rel, [l.replace(str(root), "") for l in lines]


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def main():
    work = run.BUILD / "selfcheck"
    names, e2e, _ = run.declared()
    check(sorted(names) == sorted(workloads.SHAPES),
          f"workloads {sorted(workloads.SHAPES)} match BENCHMARK.json")
    for name in sorted(workloads.SHAPES):
        a = inputs_digest(name, 1, work / "a")
        b = inputs_digest(name, 1, work / "b")
        c = inputs_digest(name, 2, work / "c")
        check(a == b, f"{name}: seed 1 twice gives byte-identical inputs")
        check(a[0] != c[0], f"{name}: seed 2 gives other inputs")
    fake = {"setup_s": 1.0, "store_bytes_per_point": [1.0], "ops": [
        {"kind": k, "s": 1.0, "traced": False, "detail": "1"}
        for k in ("backfill", "stream", "tick", "fresh_panel", "noop", "panel")]}
    check(list(run.end_to_end(fake)) == e2e,
          "end-to-end metric names match BENCHMARK.json")
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
