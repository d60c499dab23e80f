"""Spark's own work counters for one labelled call.

``SparkCounters.group(label)`` sets a Spark job group around a call.
``counts(label)`` then reads, from outside the engine:

* job and stage ids, and task counts, from ``SparkContext.statusTracker``;
* shuffle-write and spill bytes, from the driver's status REST endpoint
  (``/api/v1/applications/<app>/stages/<id>``), only when ``with_bytes``
  is set, because the REST store lags the scheduler and must be polled.

Jobs a Structured Streaming query runs on its own thread carry no job
group, so they are not attributed to the caller's label.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

TERMINAL = {"COMPLETE", "SKIPPED", "FAILED"}


class SparkCounters:
    def __init__(self, spark, with_bytes: bool = False):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.with_bytes = with_bytes and bool(self.sc.uiWebUrl)
        self._api = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
            if self.with_bytes
            else ""
        )
        self._seq = 0

    @contextmanager
    def group(self, label: str):
        """Label every job started inside the block; yields the group id."""
        self._seq += 1
        gid = f"{label}#{self._seq}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> dict[str, int]:
        jobs = sorted(self.tracker.getJobIdsForGroup(gid))
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
        out = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        if self.with_bytes:
            out.update(self._bytes(stage_ids))
        return out

    def _bytes(self, stage_ids: set[int]) -> dict[str, int]:
        shuffle = spill = 0
        for sid in sorted(stage_ids):
            for attempt in self._stage(sid):
                shuffle += attempt.get("shuffleWriteBytes", 0)
                spill += attempt.get("memoryBytesSpilled", 0)
                spill += attempt.get("diskBytesSpilled", 0)
        return {"shuffle_write_bytes": shuffle, "spill_bytes": spill}

    def _stage(self, sid: int, timeout_s: float = 5.0) -> list[dict]:
        """The stage's attempts once the status store has closed them."""
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                with urllib.request.urlopen(
                    f"{self._api}/stages/{sid}?details=false", timeout=5
                ) as resp:
                    attempts = json.load(resp)
            except OSError:
                attempts = []
            done = attempts and all(a.get("status") in TERMINAL for a in attempts)
            if done or time.monotonic() > deadline:
                return attempts
            time.sleep(0.02)
