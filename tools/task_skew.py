"""Per-stage task-record skew detector (VERDICT r9 #6 — TRAP #31
promoted to a sweep invariant).

The plan-invariant gate reads plans, so it cannot see ROW-GROUP skew:
a parquet scan reports 32 byte-range partitions, but rows materialize
only at row-group boundaries, so a 2-row-group file runs 30 empty
tasks and 2 stragglers carrying everything (TRAP #31: one 690s task
evaluating the shingle pipeline over 1.05M docs while 30 tasks read
zero). That disease is visible ONLY at runtime, in per-task record
counts — which the Spark UI's REST API exposes per completed stage.

``stage_skew(spark, since_stage)`` returns one record per completed
stage (id > since_stage) whose max-task-records exceeds ``ratio`` ×
mean-task-records — with a floor so trivially small stages (a 50-row
dimension scan on one task) don't alarm. Call it after each measured
query with the last stage id seen before it; the scale sweep behind
SCALE100VEC_r10.json recorded its hits in each cell's "skew" field.

Pure observer: REST reads against the local UI (enabled by default in
the repo session factory), no listener registration, no effect on the
measured plan. Returns [] when the UI is disabled."""

from __future__ import annotations

import json
import urllib.request


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def _api_base(spark) -> str | None:
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app_id = spark.sparkContext.applicationId
    return f"{ui}/api/v1/applications/{app_id}"


def max_stage_id(spark) -> int:
    """Highest stage id the app has seen (watermark for stage_skew's
    ``since_stage``). -1 on a fresh app or disabled UI."""
    base = _api_base(spark)
    if base is None:
        return -1
    try:
        stages = _get(f"{base}/stages")
    except Exception:
        return -1
    return max((s["stageId"] for s in stages), default=-1)


def stage_skew(
    spark,
    since_stage: int = -1,
    ratio: float = 8.0,
    floor_records: int = 100_000,
    min_straggler_sec: float = 30.0,
) -> list[dict]:
    """Flag completed stages (stageId > since_stage) where the busiest
    task carried > ``ratio`` × the mean records per task AND spent at
    least ``min_straggler_sec`` doing it.

    records = input records + shuffle-read records (whichever side the
    stage consumes); the floor skips stages whose busiest task is below
    ``floor_records`` — skew over trivial volume is not a straggler.
    The DURATION condition is what separates the disease from the cure:
    a spread() call site reads the whole single-row-group file in one
    task and immediately exchanges it — record-skewed but cheap (a few
    seconds of columnar I/O), while TRAP #31's harm was one task
    COMPUTING over all rows for 690 s. Without it the detector flags
    every footer-probe repartition's scan stage (observed: all nine
    sf10 cells flagged at 14x on the benign scan→exchange shape).
    Returns [{stage_id, name, num_tasks, max_records, mean_records,
    skew_ratio, max_task_sec}] sorted by skew_ratio descending."""
    base = _api_base(spark)
    if base is None:
        return []
    try:
        stages = _get(f"{base}/stages?status=COMPLETE")
    except Exception:
        return []
    out = []
    for s in stages:
        sid = s["stageId"]
        if sid <= since_stage:
            continue
        n = s.get("numCompleteTasks") or s.get("numTasks") or 0
        if n <= 1:
            continue
        total = (s.get("inputRecords") or 0) + (s.get("shuffleReadRecords") or 0)
        if total <= 0:
            continue
        mean = total / n
        try:
            q = _get(
                f"{base}/stages/{sid}/{s['attemptId']}/taskSummary"
                "?quantiles=1.0"
            )
        except Exception:
            continue
        mx = (q.get("inputMetrics") or {}).get("recordsRead", [0])[0] + (
            q.get("shuffleReadMetrics") or {}
        ).get("readRecords", [0])[0]
        if mx < floor_records:
            continue
        max_dur_sec = (q.get("duration") or [0])[0] / 1000.0
        if max_dur_sec < min_straggler_sec:
            continue
        if mx > ratio * mean:
            out.append(
                {
                    "stage_id": sid,
                    "name": (s.get("name") or "")[:120],
                    "num_tasks": n,
                    "max_records": int(mx),
                    "mean_records": round(mean, 1),
                    "skew_ratio": round(mx / mean, 1),
                    "max_task_sec": round(max_dur_sec, 1),
                }
            )
    return sorted(out, key=lambda r: -r["skew_ratio"])
