"""Per-stage profiler for the expensive headline queries (guide §1/§7).

Runs each named query once warm, then once timed with the Spark event
log enabled, and reports per-job/per-stage wall, task time, shuffle
bytes and Python (Arrow/BatchEvalPython) involvement parsed from the
event log — the UI's Stages tab, flattened to stdout, for a box where
the UI is disabled.

Usage: python tools/profile_hot.py <query> [<query> ...]
       SPARK_GRAFT_SF_DIR (default sf0.1) / SPARK_GRAFT_CPUS honored.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not names:
        print("usage: profile_hot.py <query> [...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    evdir = f"/tmp/mt_eventlog_{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)

    from modeltracking_spark.session import get_spark

    spark = get_spark(
        app_name="modeltracking-profile",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "16g",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            # this box has no zstd CLI; plain-text logs parse directly
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    marks = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"no such query: {name}", file=sys.stderr)
            continue
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        spark.sparkContext.setJobDescription(f"PROFILE:{name}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        marks[name] = time.time() - t0
        spark.sparkContext.setJobDescription(None)
    spark.stop()

    # parse the event log: jobs grouped by description, stages by job
    logs = sorted(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime)
    jobs = {}       # jobId -> {desc, submit, end, stages: [ids]}
    stages = {}     # stageId -> accumulated metrics
    last = logs[-1]
    if os.path.isdir(last):  # rolling event log: a dir of events_* parts
        parts = sorted(
            p for p in glob.glob(os.path.join(last, "*"))
            if os.path.basename(p).startswith("events_")
        )
    else:
        parts = [last]

    def _lines():
        import io
        import subprocess

        for p in parts:
            if p.endswith(".zstd"):
                out = subprocess.run(["zstd", "-dc", p],
                                     capture_output=True, check=True).stdout
                yield from io.StringIO(out.decode())
            else:
                with open(p) as f:
                    yield from f

    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                jobs[ev["Job ID"]] = {
                    "desc": desc,
                    "t0": ev.get("Submission Time", 0),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                # TaskEnd events precede StageCompleted: MERGE into the
                # accumulator instead of replacing it (the r16-open bug
                # that zeroed every task-time column)
                st = stages.setdefault(si["Stage ID"], {
                    "name": "?", "tasks": 0, "t0": 0, "t1": 0,
                    "taskms": 0, "cpums": 0, "sh_read": 0,
                    "sh_write": 0, "spill": 0, "scopes": ""})
                scopes = []
                for rdd in si.get("RDD Info", []):
                    try:
                        nm = json.loads(rdd.get("Scope") or "{}").get("name")
                    except json.JSONDecodeError:
                        nm = None
                    if nm and nm not in scopes:
                        scopes.append(nm)
                st.update({
                    "name": si.get("Stage Name", "?"),
                    "tasks": si.get("Number of Tasks", 0),
                    "t0": si.get("Submission Time", 0),
                    "t1": si.get("Completion Time", 0),
                    "scopes": ",".join(reversed(scopes))[:90],
                })
            elif e == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                tm = ev.get("Task Metrics") or {}
                if sid in stages:
                    st = stages[sid]
                elif sid is not None:
                    st = stages.setdefault(sid, {
                        "name": "?", "tasks": 0, "t0": 0, "t1": 0,
                        "taskms": 0, "cpums": 0, "sh_read": 0,
                        "sh_write": 0, "spill": 0, "scopes": ""})
                else:
                    continue
                st["taskms"] += tm.get("Executor Run Time", 0)
                st["cpums"] += tm.get("Executor CPU Time", 0) // 1_000_000
                st["sh_read"] += (tm.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0) + (
                    tm.get("Shuffle Read Metrics") or {}).get(
                    "Local Bytes Read", 0)
                st["sh_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["spill"] += tm.get("Disk Bytes Spilled", 0)

    for name in names:
        if name not in marks:
            continue
        print(f"\n=== {name}: wall {marks[name]:.3f}s ===")
        for jid in sorted(jobs):
            j = jobs[jid]
            if j["desc"] != f"PROFILE:{name}":
                continue
            jwall = (j.get("t1", 0) - j["t0"]) / 1000.0
            print(f"  job {jid}: {jwall:.3f}s")
            for sid in sorted(j["stages"]):
                st = stages.get(sid)
                if st is None or not st.get("t1"):
                    continue
                swall = (st["t1"] - st["t0"]) / 1000.0
                nm = st["scopes"] or st["name"].split("\n")[0][:70]
                print(
                    f"    stage {sid:>4} {swall:7.3f}s wall "
                    f"{st['taskms']/1000.0:8.2f}s task "
                    f"{st.get('cpums', 0)/1000.0:8.2f}s cpu "
                    f"{st['tasks']:>4}t "
                    f"shR {st['sh_read']>>10:>6}K shW {st['sh_write']>>10:>6}K "
                    f"spill {st['spill']>>20:>4}M  {nm}"
                )
    print(f"\nevent log: {logs[-1]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
