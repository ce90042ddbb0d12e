"""Stage metrics of one job group, read from the driver's local UI REST API
(``/api/v1/applications/<id>/jobs``, ``.../stages/<id>``, ``taskList``)."""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request

#: how long a finished job group may take to show as settled in the UI
SETTLE_TIMEOUT_S = 30.0


class SparkUi:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_stages(self, group: str) -> list[dict]:
        """Completed stage attempts of every job in ``group`` (waits for the
        status store, which the listener bus fills asynchronously)."""
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                stages = []
                for sid in sorted({s for j in jobs for s in j["stageIds"]}):
                    stages.extend(a for a in self._get(f"/stages/{sid}")
                                  if a["status"] == "COMPLETE")
                if all(s["numCompleteTasks"] == s["numTasks"]
                       for s in stages):
                    return stages
            if time.monotonic() > deadline:
                raise TimeoutError(f"job group {group!r} not settled in UI")
            time.sleep(0.2)

    def task_durations_ms(self, stage: dict) -> list[float]:
        tasks = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                          f"/taskList?length=100000")
        return [t["duration"] for t in tasks if t.get("status") == "SUCCESS"]


def totals(stages: list[dict]) -> dict[str, float]:
    """Summed task metrics of a set of stage attempts (seconds, bytes)."""
    def s(key: str) -> float:
        return float(sum(st.get(key, 0) or 0 for st in stages))

    return {"tasks": s("numTasks"),
            "run_s": s("executorRunTime") / 1e3,
            "input_records": s("inputRecords"),
            "output_bytes": s("outputBytes"),
            "shuffle_write_bytes": s("shuffleWriteBytes")}
