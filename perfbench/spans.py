"""Spans around the benchmark's calls into each layer, and the per-layer
metrics derived from them and from Spark's event log.

A span sets the Spark job description to ``<name>#<pass>`` while it is
open, so every job, stage, task and SQL operator the layer runs is
attributed to it in the event log (``evlog.EventLog``). Spans are kept in
memory; the log is read after the session stops.

Candidate pairs are the one count the log cannot give: a join reports the
rows it emits, not the key matches it tested. ``cell_join_pairs`` counts
them on the cell joins of the engine's own optimized plan.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from evlog import EventLog, Node, Span

PASS = "pass"


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.passes = 0
        # (pass, name) -> wall seconds; a pass span covers its layer spans
        self.wall: dict[tuple[int, str], float] = {}
        self.counts: dict[tuple[int, str], float] = {}
        self._open: list[str] = []
        # layer -> the last traced pass's frame whose cell join is counted
        self.frames: dict = {}

    @contextmanager
    def span(self, name: str):
        key = (self.passes - 1, name)
        self._open.append(f"{name}#{key[0]}")
        self._sc.setJobDescription(self._open[-1])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[key] = time.perf_counter() - t0
            self._open.pop()
            self._sc.setJobDescription(self._open[-1] if self._open else None)

    @contextmanager
    def traced_pass(self):
        self.passes += 1
        with self.span(PASS):
            yield

    def keep(self, name: str, df):
        self.frames[name] = df
        return df

    def count(self, name: str, value: float) -> None:
        self.counts[(self.passes - 1, name)] = value

    def self_s(self, p: int, name: str) -> float:
        """Span duration minus the part its child spans cover."""
        own = self.wall.get((p, name), 0.0)
        if name != PASS:
            return own
        return own - sum(v for (q, n), v in self.wall.items() if q == p and n != PASS)


CELL_KEYS = {"_cell", "_cellq", "_salt"}  # distance_join's equi-join keys


def cell_join_pairs(df) -> tuple[int, int]:
    """(candidate, kept) pairs of the cell-keyed joins in the optimized plan
    of ``df``: the joins the engine planned, at its own cell size, ring and
    explode side. Candidates are the pairs with equal keys (sum over keys of
    left rows x right rows); kept are those that pass the join's condition."""
    from pyspark.sql import DataFrame, functions as F

    spark = df.sparkSession
    jvm = spark._jvm

    def frame(plan) -> DataFrame:
        return DataFrame(
            jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan), spark
        )

    def names(plan) -> set[str]:
        out = plan.output()
        return {out.apply(i).name() for i in range(out.size())}

    cand = kept = 0
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() != "Join":
            continue
        keys = sorted(names(node.left()) & names(node.right()) & CELL_KEYS)
        if not {"_cell", "_cellq"} & set(keys):
            continue
        left, right = (
            frame(side).groupBy(*keys).agg(F.count(F.lit(1)).alias(c))
            for side, c in ((node.left(), "_l"), (node.right(), "_r"))
        )
        cand += left.join(right, keys).agg(F.sum(F.col("_l") * F.col("_r"))).collect()[0][0] or 0
        plans = jvm.org.apache.spark.sql.catalyst.plans
        inner = plans.logical.Join(
            node.left(), node.right(), plans.JoinType.apply("inner"), node.condition(), node.hint()
        )
        kept += frame(inner).count()
    return int(cand), int(kept)


# per_layer metric -> unit, as listed in BENCHMARK.json
LAYER_UNITS = {
    "sources.gen_s": "s",
    "donut.self_s": "s",
    "donut.rows_out": "count",
    "analysis.k_anonymity_address.self_s": "s",
    "analysis.k_satisfaction.self_s": "s",
    "distance_join.explode_rows": "count",
    "distance_join.candidate_pairs": "count",
    "distance_join.kept_ratio": "ratio",
    "distance_join.task_max_over_median": "ratio",
    "distance_join.task_rows_max_over_median": "ratio",
    "locationswap.self_s": "s",
    "locationswap.candidate_pairs": "count",
    "locationswap.kept_ratio": "ratio",
    "locationswap.agg_build_s": "s",
    "voronoi.self_s": "s",
    "voronoi.jobs": "count",
    "knn.candidate_pairs": "count",
    "dedup.curate_near.self_s": "s",
    "dedup.curate_near.jobs": "count",
    "dedup.band_pairs": "count",
    "dedup.verified_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _rows(node: Node) -> int:
    return node.metrics.get("number of output rows", 0)


def _joins(span: Span, *cols: str) -> list[Node]:
    """Join operators whose plan string names every column in ``cols``."""
    return [
        n for n in span.nodes
        if n.name.endswith("Join") and all(f"{c}#" in n.desc for c in cols)
    ]


def _explode_rows(span: Span) -> int:
    # rows out of distance_join's ring explode: the pruning Filter fused
    # above the Generate of the literal ring-index array (column _rgi)
    total = 0
    for n in span.nodes:
        if n.name == "Generate" and "[_rgi#" in n.desc:
            total += _rows(n.parent if n.parent and n.parent.name == "Filter" else n)
    return total


def _skew(samples: list[list[int]]) -> float:
    """Largest max / median over per-task samples (0 if there are none)."""
    return max(
        (max(x) / max(statistics.median(x), 1.0) for x in samples if x), default=0.0
    )


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


_SPARK = ("jobs", "tasks", "tasks_failed", "shuffle_write_bytes", "spill_bytes", "gc_ms")


def pass_metrics(log: EventLog, tr: Tracer, p: int) -> dict[str, float]:
    """Per-layer values of traced pass ``p``; a layer the workload does not
    run reports 0."""
    def span(name: str) -> Span:
        return log.spans.get(f"{name}#{p}", Span())

    kv, ls, vor, cur = (
        span("analysis.k_anonymity_address"), span("locationswap"),
        span("voronoi"), span("dedup.curate_near"),
    )
    kv_joins = _joins(kv, "_cell")
    band = sum(_rows(j) for j in _joins(cur, "_b", "_v"))
    verified = max((_rows(j) for j in _joins(cur, "_na", "_nb")), default=0)
    out = {
        "donut.self_s": tr.self_s(p, "donut"),
        "donut.rows_out": tr.counts.get((p, "donut.rows_out"), 0),
        "analysis.k_anonymity_address.self_s": tr.self_s(p, "analysis.k_anonymity_address"),
        "analysis.k_satisfaction.self_s": tr.self_s(p, "analysis.k_satisfaction"),
        "distance_join.explode_rows": _explode_rows(kv),
        # slowest / median task run time of the stage that ran the cell join
        "distance_join.task_max_over_median": _skew([
            log.stage_task_ms.get(sid, []) for j in kv_joins for sid in log.stages_of(j)
        ]),
        # largest / median per-task output rows of that join: the fan-out
        # skew itself, free of timing noise
        "distance_join.task_rows_max_over_median": _skew([
            log.task_updates.get(j.metric_ids.get("number of output rows"), [])
            for j in kv_joins
        ]),
        "locationswap.self_s": tr.self_s(p, "locationswap"),
        "locationswap.agg_build_s": sum(
            n.metrics.get("time in aggregation build", 0)
            for n in ls.nodes if n.name == "HashAggregate"
        ) / 1000.0,
        "voronoi.self_s": tr.self_s(p, "voronoi"),
        "voronoi.jobs": vor.jobs,
        "knn.candidate_pairs": sum(_rows(j) for j in _joins(vor, "_cell")),
        "dedup.curate_near.self_s": tr.self_s(p, "dedup.curate_near"),
        "dedup.curate_near.jobs": cur.jobs,
        "dedup.band_pairs": band,
        "dedup.verified_ratio": _ratio(verified, band),
    }
    # the Spark work of every span of the pass
    totals = defaultdict(int)
    for desc, s in log.spans.items():
        if desc.endswith(f"#{p}"):
            for f in _SPARK:
                totals[f] += getattr(s, f)
    out.update({f"spark.{f}": totals[f] for f in _SPARK if f != "gc_ms"})
    out["spark.gc_s"] = totals["gc_ms"] / 1000.0
    return out


def span_table(log: EventLog, tr: Tracer) -> list[dict]:
    """One row per (pass, span) for the report: wall, self time and the
    Spark work attributed to the span."""
    rows = []
    for (p, name), wall in sorted(tr.wall.items()):
        s = log.spans.get(f"{name}#{p}", Span())
        rows.append({
            "pass": p, "span": name, "wall_s": wall, "self_s": tr.self_s(p, name),
            "jobs": s.jobs, "tasks": s.tasks, "tasks_failed": s.tasks_failed,
            "shuffle_write_bytes": s.shuffle_write_bytes,
            "spill_bytes": s.spill_bytes, "gc_s": s.gc_ms / 1000.0,
        })
    return rows


def layer_metrics(log: EventLog, tr: Tracer, pairs: dict[str, tuple[int, int]],
                  gen_s: float, overhead: float) -> dict[str, float]:
    """Median over the traced passes of every per-layer metric; ``pairs`` is
    ``cell_join_pairs`` of each frame the tracer kept."""
    per_pass = [pass_metrics(log, tr, p) for p in range(tr.passes)]
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["sources.gen_s"] = gen_s
    for layer in ("distance_join", "locationswap"):
        cand, kept = pairs.get(layer, (0, 0))
        out[f"{layer}.candidate_pairs"] = cand
        out[f"{layer}.kept_ratio"] = _ratio(kept, cand)
    out["trace.overhead_ratio"] = overhead
    if set(out) != set(LAYER_UNITS):
        raise RuntimeError(f"layer metrics out of step: {set(out) ^ set(LAYER_UNITS)}")
    return out
