"""Seeded closed-loop benchmark of the maskmypy_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in one Spark driver process at local[<cores available>]
(worker.py) and prints a report, then, as the last line of standard
output, one JSON object: ``correct``, ``attempted``, ``failed`` and the
``metrics`` listed in BENCHMARK.json (``end_to_end`` with ``--trace 0``,
``per_layer`` with ``--trace 1``). Peak RSS of the driver process tree
(Python + JVM) is sampled from /proc by this process, from outside.

Everything the run writes (Spark local dirs, temp files, the event log)
lives under perfbench/_work/<pid> and is removed at exit. Workloads, their
layers and the predicted effects are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170.0
SAMPLE_S = 0.05
# driver heap (initial = cap, in place of the program's default 8g cap)
# and young generation; see "Driver memory" in README.md
DRIVER_HEAP, DRIVER_YOUNG = "2g", "512m"

sys.path.insert(0, HERE)
from spans import LAYER_UNITS  # noqa: E402


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, start time) of a live process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), fields[19]


def _tree(root: int) -> dict[int, str]:
    """pid -> start time of ``root`` and all its live descendants."""
    parents: dict[int, list[int]] = {}
    starts: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                parents.setdefault(st[0], []).append(int(name))
                starts[int(name)] = st[1]
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in starts:
            out[pid] = starts[pid]
            todo.extend(parents.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop(procs: dict[int, str], grace_s: float) -> None:
    """Wait for every tracked process to end; kill what outlives the grace."""
    deadline = time.monotonic() + grace_s
    while alive := [p for p, s in procs.items() if (_stat(p) or (0, None))[1] == s]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def child_env(work: str) -> dict:
    """Environment of a Spark driver whose files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # every JVM of the tree, the spark-submit launcher too
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # a fixed heap and young generation: with a heap G1 may grow, the
        # RSS high-water mark follows when G1 chose to grow it
        SPARK_GRAFT_EXTRA_CONF=(
            f"spark.driver.extraJavaOptions=-Xms{DRIVER_HEAP} -Xmn{DRIVER_YOUNG}"
        ),
    )


def supervise(cmd: list[str], env: dict, timeout_s: float = TIMEOUT_S) -> tuple[int, float]:
    """Run ``cmd``; return (exit code, peak summed RSS in MB) of its
    process tree, sampled every SAMPLE_S. Every process of the tree has
    ended when this returns."""
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
    seen: dict[int, str] = {}
    peak_kb, t0, tick = 0, time.monotonic(), 0
    try:
        while child.poll() is None:
            if tick % 5 == 0:  # re-scan the tree every 5 samples
                tree = _tree(child.pid)
                seen.update(tree)
            peak_kb = max(peak_kb, sum(_rss_kb(p) for p in tree))
            if time.monotonic() - t0 > timeout_s:
                print(f"{cmd[1]} exceeded {timeout_s:.0f} s", file=sys.stderr)
                return 1, 0.0
            tick += 1
            time.sleep(SAMPLE_S)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        _stop(seen, 15.0)
    return child.returncode, peak_kb / 1024.0


def _tail(walls: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    if len(walls) > 1:
        qs = statistics.quantiles(walls, n=100, method="inclusive")
        for p in (99, 95, 90, 75, 50):
            if sum(t > qs[p - 1] for t in walls) >= 10:
                return f"p{p} {qs[p - 1]:.4f} s"
    return f"no percentile has 10 samples beyond it (n={len(walls)})"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplier on the workload's input size (tests use a tiny one)")
    ap.add_argument("--pins", default=os.path.join(HERE, "pins.json"),
                    help="pinned result digests, by scale, workload and seed")
    a = ap.parse_args()

    # a terminated run still stops its worker tree (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--scale", str(a.scale), "--pins", os.path.abspath(a.pins),
        "--work", work, "--out", result,
    ]
    try:
        code, peak_mb = supervise(cmd, child_env(work))
        if code != 0 or not os.path.exists(result):
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    walls = r["wall"]
    wall = statistics.median(walls)
    attempted, failed = r["attempted"], r["failed"]
    print(f"perfbench {a.workload} seed={a.seed} scale={r['scale']:g} "
          f"local[{r['cores']}] closed loop, 1 client, trace={a.trace}")
    print(f"  wall_s       {wall:.4f} s  median of {len(r['wall'])} passes; {_tail(walls)}")
    print(f"  warm-up      {' '.join(f'{t:.3f}' for t in r['warmup'])} s")
    print(f"  passes       {' '.join(f'{t:.3f}' for t in r['wall'])} s")
    print(f"  rows_per_s   {r['rows'] / wall:.1f} 1/s  ({r['rows']} input rows)")
    print(f"  setup_s      {r['setup_s']:.4f} s  (session {r['session_s']:.3f} s + median "
          f"of {len(r['gen_s'])} input builds {statistics.median(r['gen_s']):.3f} s)")
    print(f"  peak_rss_mb  {peak_mb:.1f} MB")
    print(f"  failed_ratio {failed}/{attempted} = {failed / attempted:.4f}")
    print(f"  digest       {r['digest']} ({'pinned' if r['pinned'] else 'not pinned'})")
    if a.trace:
        for s in r["spans"]:
            print("  span " + " ".join(f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}"
                                       for k, v in s.items()))
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in r["layers"].items()}
    else:
        metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": r["rows"] / wall, "unit": "1/s"},
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
