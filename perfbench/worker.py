"""One benchmark run inside one Spark driver process (started by run.py).

Sets up the session and the seeded inputs, runs closed-loop passes of one
workload for the requested time, checks every pass's result, and writes a
JSON summary to ``--out``. With ``--trace 1`` it also runs traced passes
under Spark's event log and derives the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

SETUP_REPEATS = 3  # input builds per run; setup_s takes their median
# untimed (but checked) passes before the timed ones: pass times keep
# falling for 10-25 s while codegen and the JIT settle
WARMUP_S = 12.0
MIN_PASSES = 1  # passes per phase even if its time has run out


def _event_log_conf(directory: str) -> str:
    return ";".join([
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{directory}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ])


class Checker:
    """Counts passes and failures. A pass fails if it raises, breaks a
    structural invariant, or returns a digest other than the pinned one
    (or, without a pin, the digest of the run's first pass)."""

    def __init__(self, pinned: str | None):
        self.want = pinned
        self.pinned = pinned is not None
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn) -> tuple[float, bool]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:  # a failing pass is counted, the run goes on
            traceback.print_exc()
            ok = False
        else:
            if self.want is None:
                self.want = res.digest
            ok = not res.problems and res.digest == self.want
            if not ok:
                print(f"pass {self.attempted} failed: digest {res.digest} "
                      f"(want {self.want}), problems {res.problems}", file=sys.stderr)
        wall = time.perf_counter() - t0
        self.failed += not ok
        return wall, ok


def _timed(checker: Checker, fn, seconds: float) -> list[float]:
    """Closed loop: the next pass starts only after the previous pass's
    result was collected. Walls of the passes that succeeded, or of all
    passes if none did."""
    passes, t0 = [], time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(checker.attempt(fn))
    return [w for w, ok in passes if ok] or [w for w, _ in passes]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--pins", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    import workloads
    from maskmypy_spark.session import get_spark

    if a.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[a.workload]
    scale = w.scale * a.scale
    evdir = os.path.join(a.work, "evlog")
    conf = [w.conf, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")]
    if a.trace:
        os.makedirs(evdir)
        conf.append(_event_log_conf(evdir))
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, conf))

    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext

    gen_s, inp = [], None
    for _ in range(SETUP_REPEATS):
        if inp is not None:
            for df in inp.frames.values():
                df.unpersist(blocking=True)
        sc.setJobDescription("sources")
        t0 = time.perf_counter()
        inp = w.build(spark, a.seed, scale)
        gen_s.append(time.perf_counter() - t0)
    sc.setJobDescription(None)

    with open(a.pins) as f:
        pins = json.load(f)
    pinned = pins.get(f"{scale:g}", {}).get(a.workload, {}).get(str(a.seed))
    chk = Checker(pinned)
    run = lambda: w.run(inp)  # noqa: E731
    warmup = _timed(chk, run, WARMUP_S)

    out = {
        "rows": inp.rows, "scale": scale, "cores": sc.defaultParallelism,
        "session_s": session_s, "gen_s": gen_s, "warmup": warmup,
        "setup_s": session_s + statistics.median(gen_s),
    }
    if not a.trace:
        out["wall"] = _timed(chk, run, a.seconds)
        spark.stop()
    else:
        import evlog
        from spans import Tracer, cell_join_pairs, layer_metrics, span_table

        # untraced passes first, in the same session, as the base of
        # trace.overhead_ratio; then traced passes
        out["wall"] = _timed(chk, run, a.seconds / 2)
        tr = Tracer(sc)

        def traced():
            with tr.traced_pass():
                return w.run_traced(inp, tr)

        traced_walls = _timed(chk, traced, a.seconds / 2)
        # counted on the last traced pass's frames, outside every span
        sc.setJobDescription("cell joins")
        pairs = {name: cell_join_pairs(df) for name, df in tr.frames.items()}
        spark.stop()  # flushes the event log
        log = evlog.EventLog(evlog.find(evdir))
        overhead = statistics.median(traced_walls) / statistics.median(out["wall"])
        out["layers"] = layer_metrics(log, tr, pairs, statistics.median(gen_s), overhead)
        out["spans"] = span_table(log, tr)
    out.update(attempted=chk.attempted, failed=chk.failed, digest=chk.want, pinned=chk.pinned)
    with open(a.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
