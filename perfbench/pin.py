"""Regenerate pins.json: the result digest of one pass per workload and
seed, at each workload's default scale.

    python3 perfbench/pin.py --seeds 0-20

A pin records what the program returned when it was made. Make pins only
on a commit whose results are trusted, and never to make a failing run
pass. One Spark driver per workload, started the way run.py starts one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def _child(name: str, seeds: list[int], out: str) -> None:
    from maskmypy_spark.session import get_spark

    w = workloads.WORKLOADS[name]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = w.conf
    spark = get_spark(app=f"perfbench-pin-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    digests = {}
    for seed in seeds:
        inp = w.build(spark, seed, w.scale)
        res = w.run(inp)
        if res.problems:
            raise RuntimeError(f"{name} seed {seed}: {res.problems}")
        digests[str(seed)] = res.digest
        for df in inp.frames.values():
            df.unpersist(blocking=True)
    spark.stop()
    with open(out, "w") as f:
        json.dump(digests, f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 0-20")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    ap.add_argument("--out", help=argparse.SUPPRESS)
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    if a.child:
        _child(a.child, seeds, a.out)
        return 0

    path = os.path.join(HERE, "pins.json")
    with open(path) as f:
        pins = json.load(f)
    for name, w in workloads.WORKLOADS.items():
        work = os.path.join(HERE, "_work", f"{os.getpid()}-{name}")
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "digests.json")
        try:
            code, _ = run.supervise(
                [sys.executable, os.path.abspath(__file__), "--seeds", a.seeds,
                 "--child", name, "--out", out],
                run.child_env(work), timeout_s=3600.0,
            )
            if code != 0:
                print(f"pinning {name} failed (exit {code})", file=sys.stderr)
                return 1
            with open(out) as f:
                pins.setdefault(f"{w.scale:g}", {}).setdefault(name, {}).update(json.load(f))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(f"pinned {name}: seeds {a.seeds}", file=sys.stderr)
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
