"""Spark's own metrics, read from the status REST API of the live session.

Jobs are attributed to spans by job description (see ``spans``); a span's
stages and SQL executions are those of its jobs.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request
from collections import defaultdict

from .spans import span_of_description

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
MB = 2 ** 20


def parse_metric(text: str) -> float:
    """A SQL metric string as a number in bytes, seconds or a count:
    ``"6.1 MiB"``, ``"2.2 s"``, ``"12,000"``, or a per-task summary
    ``"total (min, med, max (stageId: taskId))\\n2.0 s (636 ms, …)"``, of
    which the total is returned."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip()
    number, _, unit = head.partition(" ")
    value = float(number.replace(",", ""))
    if unit:
        if unit not in _UNITS:
            raise ValueError(f"unknown metric unit in {text!r}")
        value *= _UNITS[unit]
    return value


class SparkRest:
    """Minimal client of ``/api/v1`` on the session's own UI server."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def task_quantiles(self, stage: dict, quantiles=(0.5, 1.0)) -> dict:
        q = ",".join(str(x) for x in quantiles)
        return self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                        f"/taskSummary?quantiles={q}")


class SpanMetrics:
    """Stages and SQL executions of each span, fetched once."""

    def __init__(self, rest: SparkRest):
        self.rest = rest
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in rest.get("/stages")
                  if s["status"] == "COMPLETE"}
        self.stages: dict[int, list[dict]] = defaultdict(list)
        for job in rest.get("/jobs"):
            sid = span_of_description(job.get("description"))
            if sid is None:
                continue
            self.stages[sid].extend(
                s for (stage_id, _), s in stages.items()
                if stage_id in job["stageIds"])
        self.sql: dict[int, list[dict]] = defaultdict(list)
        for ex in rest.get("/sql?details=true&planDescription=false"
                           "&offset=0&length=100000"):
            sid = span_of_description(ex.get("description"))
            if sid is not None:
                self.sql[sid].append(ex)

    def stage_sum(self, span_ids, key: str) -> float:
        return float(sum(s[key] for i in span_ids for s in self.stages[i]))

    def stage_list(self, span_ids) -> list[dict]:
        return [s for i in span_ids for s in self.stages[i]]

    def sql_sum(self, span_ids, node_prefix: str, metric: str) -> float:
        total = 0.0
        for i in span_ids:
            for ex in self.sql[i]:
                for node in ex.get("nodes", ()):
                    if not node["nodeName"].startswith(node_prefix):
                        continue
                    for m in node.get("metrics", ()):
                        if m["name"] == metric:
                            total += parse_metric(m["value"])
        return total

    def skew(self, stages: list[dict], field: str) -> float:
        """Largest max/median ratio of a per-task field over ``stages``."""
        worst = 1.0
        for s in stages:
            if s["numTasks"] < 2:
                continue
            q = self.rest.task_quantiles(s)
            values = q
            for part in field.split("."):
                values = values[part]
            med, top = values
            if med > 0:
                worst = max(worst, top / med)
        return worst
