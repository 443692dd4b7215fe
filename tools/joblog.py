#!/usr/bin/env python3
"""Print the Spark job ladder of an event log, one row per job.

Usage:

    python3 tools/joblog.py EVENTLOG [--all]

EVENTLOG is a Spark event log: a file of plain JSON lines, a `.zstd`
file (read through the `zstd` command-line tool), or a rolling log's
`eventlog_v2_*` directory, whose `events_<n>_*` files are read in order. Write one with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=DIR` on the JVM
(add `-Dspark.eventLog.compress=false` for plain JSON).

Each row shows, for one job:

  t_ms    submission time, ms after the first job of its group
  desc    the job description (`pipeline.<stage>` inside a Flow run)
  sql     the SQL execution id the job ran in, `-` for none
  plan_ms for the first job of a SQL execution: ms from the execution's
          start to this job (the planning before it), else blank
  stages  stages the job ran (skipped stages not counted)
  tasks   tasks those stages ran
  wall_ms submission to completion
  gap_ms  ms since the latest earlier job ended, while no job ran

Rows are grouped by Flow run: a `pipeline.<stage>` job whose stage comes
earlier in the flow's stage order than the previous pipeline job's
starts a new group. Each group ends with its job count per stage.
Without `--all`, jobs whose description is not `pipeline.<stage>` are
left out (they still count for `gap_ms`).
"""
import json
import os
import subprocess
import sys
from collections import Counter, OrderedDict

STAGES = ["determine_sync_range", "extract_sync", "determine_backfill_range",
          "extract_backfill", "gap_fill", "parse_data", "run_models"]
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def lines(path):
    """The event log's lines, decompressed through `zstd` for `.zstd`."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [ln for f in parts for ln in lines(os.path.join(path, f))]
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], capture_output=True, check=True)
        return out.stdout.decode("utf-8").splitlines()
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def read_jobs(path):
    """Jobs in submission order as dicts, plus SQL execution start times."""
    jobs = OrderedDict()
    stage_tasks = {}
    sql_start = {}
    for line in lines(path):
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"], "end": None,
                "desc": props.get("spark.job.description") or "",
                "sql": int(sql) if sql is not None else None,
                "stages": e.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == SQL_START:
            sql_start[e["executionId"]] = e["time"]
    for j in jobs.values():
        ran = [s for s in j["stages"] if s in stage_tasks]
        j["n_stages"] = len(ran)
        j["tasks"] = sum(stage_tasks[s] for s in ran)
        if j["end"] is None:
            j["end"] = j["start"]
    return list(jobs.values()), sql_start


def stage_of(desc):
    name = desc[len("pipeline."):] if desc.startswith("pipeline.") else None
    return name if name in STAGES else None


def groups(jobs):
    """Split jobs into Flow runs by the pipeline stage order."""
    out, current, last = [], [], None
    for j in jobs:
        s = stage_of(j["desc"])
        if s is not None:
            if last is not None and STAGES.index(s) < STAGES.index(last):
                out.append(current)
                current = []
            last = s
        current.append(j)
    if current:
        out.append(current)
    return out


def main(argv):
    args = [a for a in argv if a != "--all"]
    if len(args) != 1:
        sys.exit(__doc__)
    show_all = "--all" in argv
    jobs, sql_start = read_jobs(args[0])
    ended = None   # latest completion among earlier jobs
    gap = {}
    seen_sql = set()
    plan = {}
    for j in jobs:
        gap[j["id"]] = max(0, j["start"] - ended) if ended is not None else 0
        ended = j["end"] if ended is None else max(ended, j["end"])
        if j["sql"] is not None and j["sql"] not in seen_sql:
            seen_sql.add(j["sql"])
            if j["sql"] in sql_start:
                plan[j["id"]] = j["start"] - sql_start[j["sql"]]
    header = f"{'job':>5} {'t_ms':>7} {'desc':<28} {'sql':>5} {'plan_ms':>7} " \
             f"{'stages':>6} {'tasks':>5} {'wall_ms':>7} {'gap_ms':>6}"
    for n, group in enumerate(groups(jobs)):
        shown = [j for j in group if show_all or stage_of(j["desc"])]
        if not shown:
            continue
        t0 = shown[0]["start"]
        print(f"== flow run {n} ({len(shown)} jobs)")
        print(header)
        for j in shown:
            sql = "-" if j["sql"] is None else str(j["sql"])
            p = str(plan[j["id"]]) if j["id"] in plan else ""
            print(f"{j['id']:>5} {j['start'] - t0:>7} {j['desc'][:28]:<28} {sql:>5} {p:>7} "
                  f"{j['n_stages']:>6} {j['tasks']:>5} {j['end'] - j['start']:>7} "
                  f"{gap[j['id']]:>6}")
        per = Counter(stage_of(j["desc"]) or "(other)" for j in shown)
        print("   jobs per stage: " + ", ".join(f"{k} {v}" for k, v in per.items()))
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
