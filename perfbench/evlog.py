"""Reader for Spark's JSON event log (uncompressed, not rolling).

Jobs, stages and tasks are attributed to the job description that was set
(``SparkContext.setJobDescription``) when the job started; the SQL plan of
every execution is attributed the same way through the execution's
``description``. SQL operator metrics are the sums of the accumulator
updates reported by successful tasks and by the driver.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Node:
    name: str  # operator, e.g. "SortMergeJoin"
    desc: str  # the operator's one-line plan string
    metrics: dict[str, int]  # metric name -> summed value
    metric_ids: dict[str, int]  # metric name -> accumulator id
    parent: Node | None = None


@dataclass
class Span:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    nodes: list[Node] = field(default_factory=list)


class EventLog:
    def __init__(self, path: str):
        self.spans: dict[str, Span] = defaultdict(Span)
        self._acc: dict[int, int] = defaultdict(int)
        self._acc_stages: dict[int, set[int]] = defaultdict(set)
        # accumulator id -> its update from each successful task
        self.task_updates: dict[int, list[int]] = defaultdict(list)
        # stage id -> run times (ms) of its successful tasks
        self.stage_task_ms: dict[int, list[int]] = defaultdict(list)
        stage_desc: dict[int, str] = {}
        plans: dict[int, tuple[str, dict]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = ev["Properties"].get("spark.job.description") or ""
                    self.spans[desc].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev, self.spans[stage_desc.get(ev["Stage ID"], "")])
                elif kind == _SQL + "SparkListenerSQLExecutionStart":
                    plans[ev["executionId"]] = (ev["description"], ev["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    eid = ev["executionId"]
                    if eid in plans:
                        plans[eid] = (plans[eid][0], ev["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev["accumUpdates"]:
                        self._acc[acc_id] += int(value)
        for desc, plan in plans.values():
            self._walk(plan, None, self.spans[desc].nodes)

    def _task(self, ev: dict, span: Span) -> None:
        span.tasks += 1
        if ev["Task End Reason"]["Reason"] != "Success":
            span.tasks_failed += 1
            return
        m = ev.get("Task Metrics") or {}
        span.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        span.spill_bytes += m.get("Disk Bytes Spilled", 0)
        span.gc_ms += m.get("JVM GC Time", 0)
        self.stage_task_ms[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
        for acc in ev["Task Info"].get("Accumulables", []):
            if acc.get("Metadata") == "sql" and "Update" in acc:
                self._acc[acc["ID"]] += int(acc["Update"])
                self._acc_stages[acc["ID"]].add(ev["Stage ID"])
                self.task_updates[acc["ID"]].append(int(acc["Update"]))

    def _walk(self, info: dict, parent: Node | None, out: list[Node]) -> None:
        ids = {m["name"]: m["accumulatorId"] for m in info["metrics"]}
        values = {name: self._acc.get(i, 0) for name, i in ids.items()}
        node = Node(info["nodeName"], info["simpleString"], values, ids, parent)
        out.append(node)
        for child in info["children"]:
            self._walk(child, node, out)

    def stages_of(self, node: Node) -> set[int]:
        """Stages whose tasks reported a metric of ``node``."""
        return set().union(*(self._acc_stages.get(i, set()) for i in node.metric_ids.values()))


def find(directory: str) -> str:
    """The single application log the run wrote into ``directory``."""
    logs = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    return os.path.join(directory, logs[0])
