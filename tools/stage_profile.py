#!/usr/bin/env python3
"""Render a per-stage cost table, or a per-job timeline, from a Spark event log.

Usage: python3 tools/stage_profile.py <eventlog-file-or-dir> [topN]
       python3 tools/stage_profile.py --jobs <eventlog-file-or-dir>

For each completed stage: wall time (submission->completion), summed task
time, shuffle read/write bytes, memory/disk spill, input bytes, and the
stage's callsite name. Sorted by wall time descending. This is the
measurement SCALE.md stage diagnoses cite (round-12 verdict ask #1).

--jobs lists every job in submission order: job id, the gap since the
previous job ended, its duration in ms, its task count and the call site of
the SQL execution that ran it (the job's own call site outside SQL). Stage
walls at 0.1 s resolution hide sub-second jobs; this view counts them, e.g.
the jobs one archive run starts. It ends with a per-call-site summary: the
job count and total ms of each site, most jobs first.
"""
import json
import os
import sys


def fmt_bytes(n):
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if abs(n) < 1024.0:
            return f"{n:.1f}{unit}"
        n /= 1024.0
    return f"{n:.1f}PB"


def latest_log(path):
    if os.path.isdir(path):
        files = sorted(
            (os.path.join(path, f) for f in os.listdir(path)
             if not f.startswith(".")),
            key=os.path.getmtime)
        path = files[-1]
    return path


def events(path):
    with open(path) as fh:
        for line in fh:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def jobs(path):
    starts, ends, stage_job, tasks, sql_site = {}, {}, {}, {}, {}
    for ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            ends[ev["Job ID"]] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job is not None:
                tasks[job] = tasks.get(job, 0) + 1
        elif (kind or "").endswith("SparkListenerSQLExecutionStart"):
            sql_site[str(ev["executionId"])] = ev.get("description", "")
    print(f"{len(starts)} jobs")
    print(f"{'job':>5} {'gap_ms':>7} {'ms':>7} {'tasks':>6}  call site")
    prev_end = None
    by_site = {}
    for job in sorted(starts, key=lambda j: (starts[j]["Submission Time"], j)):
        ev = starts[job]
        sub = ev["Submission Time"]
        end = ends.get(job)
        props = ev.get("Properties") or {}
        site = sql_site.get(props.get("spark.sql.execution.id"),
                            props.get("callSite.short", ""))
        gap = "" if prev_end is None else f"{sub - prev_end:>7}"
        dur = "" if end is None else f"{end - sub:>7}"
        print(f"{job:>5} {gap:>7} {dur:>7} {tasks.get(job, 0):>6}  {site[:110]}")
        if end is not None:
            prev_end = max(end, prev_end or end)
        n, ms = by_site.get(site, (0, 0))
        by_site[site] = (n + 1, ms + (0 if end is None else end - sub))
    print(f"\n{len(by_site)} call sites")
    print(f"{'jobs':>5} {'ms':>7}  call site")
    for site, (n, ms) in sorted(by_site.items(), key=lambda kv: (-kv[1][0], -kv[1][1])):
        print(f"{n:>5} {ms:>7}  {site[:110]}")


def main():
    if sys.argv[1] == "--jobs":
        jobs(latest_log(sys.argv[2]))
        return
    path = latest_log(sys.argv[1])
    top = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    stages = {}
    task_metrics = {}
    for ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = (info["Stage ID"], info["Stage Attempt ID"])
            stages[sid] = info
        elif kind == "SparkListenerTaskEnd":
            sid = (ev["Stage ID"], ev["Stage Attempt ID"])
            m = ev.get("Task Metrics") or {}
            agg = task_metrics.setdefault(sid, {
                "run": 0, "tasks": 0, "srb": 0, "swb": 0,
                "mem_spill": 0, "disk_spill": 0, "inp": 0})
            agg["tasks"] += 1
            agg["run"] += m.get("Executor Run Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            agg["srb"] += (sr.get("Local Bytes Read", 0)
                           + sr.get("Remote Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            agg["swb"] += sw.get("Shuffle Bytes Written", 0)
            agg["mem_spill"] += m.get("Memory Bytes Spilled", 0)
            agg["disk_spill"] += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            agg["inp"] += inp.get("Bytes Read", 0)

    rows = []
    for sid, info in stages.items():
        sub = info.get("Submission Time")
        comp = info.get("Completion Time")
        if sub is None or comp is None:
            continue
        m = task_metrics.get(sid, {})
        rows.append({
            "stage": sid[0],
            "wall_s": (comp - sub) / 1000.0,
            "task_s": m.get("run", 0) / 1000.0,
            "tasks": m.get("tasks", 0),
            "input": m.get("inp", 0),
            "sh_read": m.get("srb", 0),
            "sh_write": m.get("swb", 0),
            "spill_disk": m.get("disk_spill", 0),
            "name": info.get("Stage Name", "")[:110],
        })
    rows.sort(key=lambda r: -r["wall_s"])
    total_wall = sum(r["wall_s"] for r in rows)
    print(f"{len(rows)} stages, summed stage wall {total_wall:.1f}s "
          f"(stages overlap; job wall is lower)")
    hdr = (f"{'stage':>5} {'wall_s':>8} {'task_s':>9} {'tasks':>6} "
           f"{'input':>9} {'sh_read':>9} {'sh_write':>9} {'spill':>9}  name")
    print(hdr)
    for r in rows[:top]:
        print(f"{r['stage']:>5} {r['wall_s']:>8.1f} {r['task_s']:>9.1f} "
              f"{r['tasks']:>6} {fmt_bytes(r['input']):>9} "
              f"{fmt_bytes(r['sh_read']):>9} {fmt_bytes(r['sh_write']):>9} "
              f"{fmt_bytes(r['spill_disk']):>9}  {r['name']}")


if __name__ == "__main__":
    main()
