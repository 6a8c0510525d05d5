"""Spans around the benchmark's calls into each engine layer, with Spark's
own stage metrics attributed to the span that launched them.

Each span sets one Spark job group, so every job (and every stage of it) a
layer call launches is tagged with that span. After the traced operation
the stage metrics are read once from the driver's monitoring REST API on
localhost; spans and metrics stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)  # REST stage records
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def total(self, key: str) -> float:
        return float(sum(s.get(key, 0) or 0 for s in self.stages))


class Tracer:
    """Records spans for one traced operation of one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._tag = uuid.uuid4().hex[:12]  # job groups are unique per tracer
        self._api = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    @contextmanager
    def span(self, name: str):
        group = f"kgbench-{self._tag}-{len(self.spans)}-{name}"
        self.sc.setJobGroup(group, name)
        sp = Span(name, group, time.perf_counter())
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.loads(r.read())

    def collect(self) -> None:
        """Attach the stage metrics of each span's jobs. The status store is
        fed by an asynchronous listener, so wait until every job of our
        groups has finished there."""
        groups = {s.group: s for s in self.spans}
        deadline = time.monotonic() + 30
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = {}
        for st in self._get("/stages?details=false"):
            if st["stageId"] in stage_ids and st["status"] == "COMPLETE":
                stages[st["stageId"]] = st
        for j in jobs:
            sp = groups[j["jobGroup"]]
            sp.jobs += 1
            for sid in j["stageIds"]:
                if sid in stages:
                    sp.stages.append(stages.pop(sid))  # a stage counts once

    def task_skew(self, spans: list[Span]) -> float:
        """Largest max/median task run time over the reduce stages (stages
        that read shuffle data) of ``spans``."""
        worst = 1.0
        for sp in spans:
            for st in sp.stages:
                if st.get("shuffleReadBytes", 0) <= 0 or st["numTasks"] < 2:
                    continue
                q = self._get(f"/stages/{st['stageId']}/{st['attemptId']}"
                              "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
                if q[0] > 0:
                    worst = max(worst, q[1] / q[0])
        return worst

    def totals(self) -> dict:
        """Spark work of every span: jobs and shuffle bytes written."""
        return {"jobs": sum(s.jobs for s in self.spans),
                "shuffle_write_bytes": sum(s.total("shuffleWriteBytes") for s in self.spans)}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def stage_seconds(st: dict) -> float:
    """Wall time of one stage, from submission to completion."""
    def parse(v: str) -> datetime:
        return datetime.strptime(v, "%Y-%m-%dT%H:%M:%S.%fGMT")

    return (parse(st["completionTime"]) - parse(st["submissionTime"])).total_seconds()
