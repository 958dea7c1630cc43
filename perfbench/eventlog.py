"""Turns a traced run's Spark event log and JVM GC log into one row per
label and the per-layer metrics.

A label is the job group the benchmark set around one call into a
layer. Jobs carry it in their properties; stages and tasks inherit it
from their job, and SQL metrics reach it through the job's SQL
execution id.
"""

from __future__ import annotations

import json
import os
import re
import statistics

import workloads as wl

MB = 1024 * 1024
PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_udf_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_received_mb",
}
ROW_SUMS = [
    "jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "driver_gap_s", *PY_METRICS.values(),
]
GC_PAUSE = re.compile(r"Pause.*?(\d+)M->\d+M\(\d+M\) ([\d.]+)ms")


def _plan_metrics(node: dict, out: dict):
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _metric_value(kind: str, name: str, raw: float) -> float:
    if name in PY_METRICS:
        if kind == "nsTiming":
            return raw / 1e9
        if kind == "timing":
            return raw / 1e3
        if kind == "size":
            return raw / MB
    return raw


def read_events(event_dir: str):
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def _new_row(label: str, t0: float, t1: float) -> dict:
    row = {"label": label, "wall_s": t1 - t0}
    row.update({k: 0 for k in ROW_SUMS})
    row.update({"_task_s": [], "_jobs": [], "_sql": {}})
    return row


def _union_s(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def per_label(spans: list, event_dir: str) -> tuple[list, int]:
    """One row per span label; also returns the number of jobs that ran
    under no label."""
    rows = {s["label"]: _new_row(s["label"], s["t0"], s["t1"]) for s in spans}
    job_label, stage_label, exec_label = {}, {}, {}
    acc_meta: dict[int, tuple] = {}
    unlabelled = 0
    job_times: dict[int, list] = {}
    for ev in read_events(event_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = props.get("spark.jobGroup.id")
            if label not in rows:
                unlabelled += 1
                continue
            job_label[ev["Job ID"]] = label
            job_times[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
            for sid in ev["Stage IDs"]:
                stage_label.setdefault(sid, label)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_label.setdefault(int(eid), label)
            rows[label]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_times:
                job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev["sparkPlanInfo"], acc_meta)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            label = exec_label.get(ev["executionId"])
            if label is not None:
                sql = rows[label]["_sql"]
                for acc_id, value in ev["accumUpdates"]:
                    sql[acc_id] = sql.get(acc_id, 0) + value
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev["Stage ID"])
            if label is None:
                continue
            row = rows[label]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            row["tasks"] += 1
            row["_task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            row["exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            row["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rd = tm.get("Shuffle Read Metrics") or {}
            row["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            wr = tm.get("Shuffle Write Metrics") or {}
            row["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    sql = row["_sql"]
                    sql[acc["ID"]] = sql.get(acc["ID"], 0) + float(acc["Update"])
    for jid, (a, b) in job_times.items():
        rows[job_label[jid]]["_jobs"].append((a, b if b is not None else a))
    spans_by_label = {s["label"]: s for s in spans}
    out = []
    for label, row in rows.items():
        s = spans_by_label[label]
        row["driver_gap_s"] = row["wall_s"] - _union_s(row["_jobs"], s["t0"], s["t1"])
        tasks = row.pop("_task_s")
        med = statistics.median(tasks) if tasks else 0.0
        row["task_skew"] = max(tasks) / med if med > 0 else 0.0
        sql = {}
        for acc_id, raw in row.pop("_sql").items():
            if acc_id in acc_meta:
                node, name, mtype = acc_meta[acc_id]
                key = f"{node}:{name}"
                sql[key] = sql.get(key, 0) + _metric_value(mtype, name, raw)
        for name, col in PY_METRICS.items():
            row[col] = sum(v for k, v in sql.items() if k.endswith(":" + name))
        row["sql"] = sql
        del row["_jobs"]
        out.append(row)
    return out, unlabelled


def gc_summary(gc_log: str) -> tuple[float, float]:
    """(largest pre-GC heap in MiB, summed pause seconds)."""
    peak = pause = 0.0
    if os.path.exists(gc_log):
        with open(gc_log) as f:
            for line in f:
                m = GC_PAUSE.search(line)
                if m:
                    peak = max(peak, float(m.group(1)))
                    pause += float(m.group(2)) / 1e3
    return peak, pause


def analyse(record: dict, event_dir: str, gc_log: str) -> dict:
    rows, unlabelled = per_label(record["spans"], event_dir)
    timed = [r for r in rows if r["label"].startswith("timed")]
    passes = max(1, len({r["label"].split("/")[0] for r in timed}))
    by_op: dict[str, list[dict]] = {}
    for span, row in zip(record["spans"], rows):
        by_op.setdefault(span["op"], []).append(row)

    def walls(op: str) -> float:
        """Median wall of op over the timed passes."""
        return wl.median(
            [r["wall_s"] for r in by_op.get(op, []) if r["label"].startswith("timed")]
        )

    def first_sql(op: str, key: str) -> float:
        for r in by_op.get(op, []):
            if r["label"].startswith("timed"):
                return r["sql"].get(key, 0.0)
        return 0.0

    outputs = record.get("outputs", {})
    pairs = float(outputs.get("join_pairs") or 0)
    candidates = float(record.get("join_candidates") or 0)
    heap_peak, gc_pause = gc_summary(gc_log)
    m = {
        "session.start_s": record["session_s"],
        "synth.pixels_s": walls("pixels"),
        "synth.pixel_rows": first_sql("pixels", "MapInPandas:number of output rows"),
        "cells.assign_s": walls("assign"),
        "spatial_join.prepare_s": walls("join_prepare"),
        "spatial_join.probe_s": walls("join_probe"),
        "spatial_join.candidates": candidates,
        "spatial_join.pairs": pairs,
        "spatial_join.pairs_per_candidate": pairs / candidates if candidates else 0.0,
        "dedup.phash_s": walls("dedup"),
        "tiling.render_s": walls("render"),
        "tiling.tiles": float(outputs.get("tiles_rendered") or 0),
        "tablefmt.commit_s": walls("commit"),
        "tablefmt.bytes_written": float(record.get("commit_bytes", 0)),
        "tablefmt.files_written": float(record.get("commit_files", 0)),
    }
    for name in sorted(wl.QUERY_ROWS):
        m[f"query.{name}_s"] = walls(name)
    for col in ROW_SUMS:
        group = "python" if col.startswith("python_") else "spark"
        key = col[len("python_"):] if group == "python" else col
        m[f"{group}.{key}"] = sum(r[col] for r in timed) / passes
    skews = [r["task_skew"] for r in timed if r["tasks"]]
    m["spark.task_skew"] = wl.median(skews)
    m["jvm.heap_peak_mb"] = heap_peak
    m["jvm.gc_pause_s"] = gc_pause
    checks = {
        "labels": len(record["spans"]),
        "rows": len(rows),
        "rows_without_jobs": sum(1 for r in rows if r["jobs"] == 0),
        "unlabelled_jobs": unlabelled,
    }
    if record["workload"] == "pipeline" and record["failed_ops"] == 0:
        stage_sums = {}
        for r in timed:
            k = r["label"].split("/")[0]
            stage_sums[k] = stage_sums.get(k, 0.0) + r["wall_s"]
        ratios = [
            stage_sums[f"timed{k}"] / w for k, w in enumerate(record["pass_walls"])
        ]
        checks["stage_sum_over_pass"] = ratios
        checks["stage_sum_ok"] = all(0.9 <= x <= 1.1 for x in ratios)
    checks["ok"] = (
        checks["labels"] == checks["rows"]
        and checks["rows_without_jobs"] == checks["unlabelled_jobs"] == 0
        and checks.get("stage_sum_ok", True)
    )
    return {"rows": rows, "metrics": m, "checks": checks}
