#!/usr/bin/env python3
"""Summarize a Spark event log: per-stage wall, task time, shuffle bytes.

Usage: parse_eventlog.py <eventlog file> [topN]
Groups stages by job, prints jobs in order with their description and the
heaviest stages (task-time sum, input, shuffle read/write bytes and
records), then the log's shuffle totals. Shuffle read above shuffle
written is flagged: some reduce side was read more than once.
"""
import json, sys, collections

path = sys.argv[1]
topn = int(sys.argv[2]) if len(sys.argv) > 2 else 40

def new_stage():
    return {"name":"?", "wall":0, "tasks":0, "tasktime":0.0, "sread":0, "rrec":0,
            "swrite":0, "wrec":0, "input":0, "output":0, "spill":0}

stages = {}            # stageId -> dict
jobs = {}              # jobId -> dict
stage2job = {}

for line in open(path):
    try:
        e = json.loads(line)
    except Exception:
        continue
    ev = e.get("Event")
    if ev == "SparkListenerJobStart":
        jid = e["Job ID"]
        desc = (e.get("Properties") or {}).get("spark.job.description", "")
        jobs[jid] = {"desc": desc, "t0": e.get("Submission Time", 0), "t1": None, "stages": []}
        for sid in e.get("Stage IDs", []):
            stage2job[sid] = jid
    elif ev == "SparkListenerJobEnd":
        jid = e["Job ID"]
        if jid in jobs: jobs[jid]["t1"] = e.get("Completion Time", 0)
    elif ev == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        sid = si["Stage ID"]
        name = si.get("Stage Name", "")
        sub = si.get("Submission Time", 0); comp = si.get("Completion Time", 0)
        s = stages.setdefault(sid, new_stage())
        s["name"] = name
        s["wall"] = (comp - sub)/1000.0 if sub and comp else 0
        s["tasks"] = si.get("Number of Tasks", 0)
        jid = stage2job.get(sid)
        if jid in jobs: jobs[jid]["stages"].append(sid)
    elif ev == "SparkListenerTaskEnd":
        sid = e["Stage ID"]
        m = e.get("Task Metrics") or {}
        s = stages.setdefault(sid, new_stage())
        s["tasktime"] += m.get("Executor Run Time", 0)/1000.0
        r = m.get("Shuffle Read Metrics") or {}
        w = m.get("Shuffle Write Metrics") or {}
        s["sread"] += r.get("Local Bytes Read",0) + r.get("Remote Bytes Read",0)
        s["rrec"] += r.get("Total Records Read",0)
        s["swrite"] += w.get("Shuffle Bytes Written",0)
        s["wrec"] += w.get("Shuffle Records Written",0)
        s["input"] += (m.get("Input Metrics") or {}).get("Bytes Read",0)
        s["spill"] += m.get("Disk Bytes Spilled",0)

def mb(x): return f"{x/1048576:7.1f}M"

# jobs in submission order
print(f"{'job':>4} {'wall_s':>7}  description")
tot = 0
for jid in sorted(jobs):
    j = jobs[jid]
    w = ((j["t1"] or 0) - j["t0"])/1000.0
    tot += max(w,0)
    print(f"{jid:>4} {w:7.2f}  {j['desc'][:100]}")
print(f"sum of job walls: {tot:.1f}s")
print()
hs = sorted(stages.items(), key=lambda kv: -kv[1]["tasktime"])[:topn]
print(f"{'stage':>5} {'job':>4} {'wall_s':>7} {'tasktm_s':>8} {'tasks':>5} {'input':>8} {'sread':>8} {'rrec':>9} {'swrite':>8} {'wrec':>9} {'spill':>8}  name")
for sid, s in hs:
    print(f"{sid:>5} {stage2job.get(sid,-1):>4} {s['wall']:7.2f} {s['tasktime']:8.1f} {s['tasks']:>5} {mb(s['input'])} {mb(s['sread'])} {s['rrec']:>9} {mb(s['swrite'])} {s['wrec']:>9} {mb(s['spill'])}  {s['name'][:70]}")
sread = sum(s["sread"] for s in stages.values())
swrite = sum(s["swrite"] for s in stages.values())
flag = "  <-- read exceeds written: some reduce side is read more than once" if sread > swrite else ""
print(f"shuffle read {sread/1048576:.2f} MB of {swrite/1048576:.2f} MB written "
      f"({sum(s['rrec'] for s in stages.values())} of "
      f"{sum(s['wrec'] for s in stages.values())} records){flag}")

# --- per-description rollup (appended r16): group jobs by description ---
by_desc = collections.defaultdict(lambda: [0.0, 0.0, 0])  # wall, tasktime, jobs
for jid, j in jobs.items():
    w = ((j["t1"] or 0) - j["t0"])/1000.0
    tt = sum(stages[s]["tasktime"] for s in j["stages"] if s in stages)
    d = j["desc"] or "(none)"
    by_desc[d][0] += max(w, 0); by_desc[d][1] += tt; by_desc[d][2] += 1
print()
print(f"{'wall_s':>8} {'tasktm_s':>9} {'jobs':>5}  description")
for d, (w, tt, n) in sorted(by_desc.items(), key=lambda kv: -kv[1][0]):
    print(f"{w:8.2f} {tt:9.1f} {n:>5}  {d[:80]}")
