"""Spark-side numbers for the traced run, read from the session's
monitoring REST API (``/api/v1`` on the driver's UI port, localhost).

Requests run their build, plan and exec phases under job groups named
``<request>:<phase>``; :func:`collect` returns every job of those
groups with the stages it ran, so the caller attributes executor time,
tasks, shuffle, I/O and scheduler delay per request and phase.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.load(resp)


def _api_base(spark) -> str:
    sc = spark.sparkContext
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def collect(spark, groups: set[str], settle_s: float = 10.0) -> dict:
    """Jobs of the given job groups and the stages they ran.

    Returns ``{"jobs": [job...], "stages": {stage_id: stage},
    "scheduler_delay_ms": {stage_id: total}}``. Waits (up to
    ``settle_s``) for the status store to mark every job finished, since
    listener events arrive asynchronously after the actions return.
    """
    base = _api_base(spark)
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [j for j in _get(base, "/jobs") if j.get("jobGroup") in groups]
        if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    wanted = {sid for j in jobs for sid in j["stageIds"]}
    stages = {}
    delay = {}
    for st in _get(base, "/stages"):
        sid = st["stageId"]
        if sid not in wanted or st["status"] == "SKIPPED":
            continue
        stages.setdefault(sid, []).append(st)
        tasks = _get(
            base, f"/stages/{sid}/{st['attemptId']}/taskList?length=1000000"
        )
        delay[sid] = delay.get(sid, 0) + sum(t.get("schedulerDelay", 0) for t in tasks)
    return {"jobs": jobs, "stages": stages, "scheduler_delay_ms": delay}
