"""Traced-run collector and layer-table renderer.

The collector reads Spark's own event log (a public hook, switched on by
the benchmark's session config) and joins it with the spans the worker
recorded in memory. The span tree is run -> pass -> op -> phase (build,
plan, exec, or one changelog step; the changelog reader calls nest under
`assess`) -> Spark job -> stage. A job is tied to its op and phase by the
job group the worker set (pass|op|phase); a job without one falls to the
innermost span whose interval holds its submission time. Self time is a
span's duration minus the part of it that its children cover.

Renderer, over a trace file a traced run wrote:

    python3 perfbench/layers.py .bench_work/trace/kernels-1.json --top 10
"""
import argparse
import glob
import json
import os
import statistics


def load_eventlog(eventdir):
    """Jobs, stages and tasks of the one application logged in eventdir."""
    files = [f for f in glob.glob(os.path.join(eventdir, "*"))
             if not f.endswith(".inprogress")]
    jobs, stages, tasks = {}, {}, []
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "id": e["Job ID"], "t0": e["Submission Time"] / 1e3,
                    "t1": None, "stages": e.get("Stage IDs", []),
                    "group": props.get("spark.jobGroup.id")}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si:
                    stages[si["Stage ID"]] = {
                        "id": si["Stage ID"], "t0": si["Submission Time"] / 1e3,
                        "t1": si.get("Completion Time", si["Submission Time"]) / 1e3,
                        "tasks": si.get("Number of Tasks", 0)}
            elif kind == "SparkListenerTaskEnd":
                ti, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                im = m.get("Input Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                    "failed": bool(ti.get("Failed")) or
                    (e.get("Task End Reason") or {}).get("Reason") != "Success",
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "result_b": m.get("Result Size", 0),
                    "peak_b": m.get("Peak Execution Memory", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "in_b": im.get("Bytes Read", 0), "in_rows": im.get("Records Read", 0),
                    "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "fetch_s": sr.get("Fetch Wait Time", 0) / 1e3,
                    "sw_b": sw.get("Shuffle Bytes Written", 0)})
    for j in jobs.values():
        j["t1"] = j["t1"] or j["t0"]
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def union(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _attribute(spans, ev):
    """Map each job to the phase span it ran under."""
    by_key, phases = {}, [s for s in spans if s["kind"] == "phase"]
    ops = {s["id"]: s for s in spans if s["kind"] == "op"}
    passes = {s["id"]: s for s in spans if s["kind"] == "pass"}
    for ph in phases:
        op = ops[ph["parent"]]
        by_key[(passes[op["parent"]]["name"], op["name"], ph["name"])] = ph
    owner = {}
    for j in ev["jobs"].values():
        g = j["group"]
        if g == "check":
            continue
        if g and g.count("|") == 2:
            ph = by_key.get(tuple(g.split("|")))
        else:
            inside = [s for s in phases if s["t0"] <= j["t0"] <= s["t1"]]
            ph = inside[-1] if inside else None
        if ph is not None:
            owner[j["id"]] = ph
    return owner


def layer_metrics(spans, ev, cores, extras, gc_s, heap_mb):
    """Per-layer metrics, each a mean per warm pass unless named otherwise."""
    passes = [s for s in spans if s["kind"] == "pass"]
    warm = {s["id"] for s in passes if s.get("warm")}
    n = max(1, len(warm))
    ops = [s for s in spans if s["kind"] == "op" and s["parent"] in warm]
    op_ids = {s["id"] for s in ops}
    phases = [s for s in spans if s["kind"] == "phase" and s["parent"] in op_ids]
    owner = _attribute(spans, ev)
    jobs = [j for j in ev["jobs"].values()
            if j["id"] in owner and owner[j["id"]]["parent"] in op_ids]
    job_stage = {sid: j for j in jobs for sid in j["stages"]}
    tasks = [t for t in ev["tasks"] if t["stage"] in job_stage]

    def dur(s):
        return s["t1"] - s["t0"]

    def phase_s(name):
        return sum(dur(p) for p in phases if p["name"] == name) / n

    def phase_jobs(name):
        return [j for j in jobs if owner[j["id"]]["name"] == name]

    def tsum(key, among=tasks):
        return sum(t[key] for t in among)

    iv = [(j["t0"], j["t1"]) for j in jobs]
    op_wall = sum(dur(o) for o in ops) / n
    job_busy = sum(union(iv, o["t0"], o["t1"]) for o in ops) / n
    build_stages = {sid for j in phase_jobs("build") for sid in j["stages"]}
    reads = [r for p in phases for r in p.get("reads", [])]
    pass_wall = statistics.mean(dur(s) for s in passes if s["id"] in warm)
    skew = 0.0
    for sid in {t["stage"] for t in tasks}:
        d = sorted(t["dur"] for t in tasks if t["stage"] == sid)
        if len(d) >= 2 and statistics.median(d) > 0:
            skew = max(skew, d[-1] / statistics.median(d))
    return {
        "queries.build_s": phase_s("build"),
        "queries.build_jobs": len(phase_jobs("build")) / n,
        "queries.build_result_mb": tsum("result_b", [t for t in tasks if t["stage"] in build_stages]) / 1e6 / n,
        "driver.idle_s": op_wall - job_busy,
        "stage.count": sum(extras.get("stage_count", [])) / n,
        "stage.write_s": sum(extras.get("stage_write_s", [])) / n,
        "stage.mb": sum(extras.get("stage_mb", [])) / n,
        "exec.s": phase_s("exec") if any(p["name"] == "exec" for p in phases) else job_busy,
        "exec.jobs": len(jobs) / n,
        "exec.tasks": len(tasks) / n,
        "exec.cpu_s": tsum("cpu_s") / n,
        "exec.run_s": tsum("run_s") / n,
        "exec.busy_frac": tsum("run_s") / n / (pass_wall * cores),
        "exec.gc_s": tsum("gc_s") / n,
        "exec.task_skew": skew,
        "exec.peak_mem_mb": max([t["peak_b"] for t in tasks] or [0]) / 1e6,
        "tasks.failed": sum(t["failed"] for t in tasks) / n,
        "shuffle.write_mb": tsum("sw_b") / 1e6 / n,
        "shuffle.read_mb": tsum("sr_b") / 1e6 / n,
        "shuffle.fetch_wait_s": tsum("fetch_s") / n,
        "spill.mb": tsum("spill_b") / 1e6 / n,
        "scan.input_mb": tsum("in_b") / 1e6 / n,
        "scan.input_rows": tsum("in_rows") / n,
        "plan.s": phase_s("plan"),
        "plan.nodes": sum(p.get("nodes", 0) for p in phases) / n,
        "ingest.assess_s": phase_s("assess"),
        "ingest.pairs": len(reads) / 2 / n,
        "ingest.pair_jobs": len(phase_jobs("assess")) / n,
        "sources.read_s": sum(b - a for a, b in reads) / n,
        "sources.read_jobs": sum(1 for j in jobs if any(a <= j["t0"] <= b for a, b in reads)) / n,
        "ingest.species_diff_s": phase_s("species_diff"),
        "ingest.report_s": phase_s("report"),
        "sink.write_s": phase_s("sink"),
        "sink.mb": sum(extras.get("sink_mb", [])) / n,
        "jvm.heap_peak_mb": heap_mb,
        "jvm.gc_s": gc_s,
    }


def write_tree(spans, ev, path):
    """Write the span tree with self times, plus one row per warm op for
    the renderer."""
    owner = _attribute(spans, ev)
    nodes = [dict(s, children=[]) for s in spans]
    by_id = {s["id"]: s for s in nodes}
    for s in nodes:
        for a, b in s.get("reads", []):
            s["children"].append({"kind": "reader", "name": "sources.read",
                                  "t0": a, "t1": b, "children": []})
        s.pop("reads", None)
    for j in sorted(ev["jobs"].values(), key=lambda j: j["id"]):
        if j["id"] not in owner:
            continue
        jn = {"kind": "job", "name": f"job {j['id']}", "t0": j["t0"], "t1": j["t1"],
              "children": [{"kind": "stage", "name": f"stage {sid}",
                            "t0": ev["stages"][sid]["t0"], "t1": ev["stages"][sid]["t1"],
                            "tasks": ev["stages"][sid]["tasks"], "children": []}
                           for sid in j["stages"] if sid in ev["stages"]]}
        parent = by_id[owner[j["id"]]["id"]]
        # a job the changelog reader submitted nests under that reader call
        parent = next((c for c in parent["children"] if c["kind"] == "reader"
                       and c["t0"] <= j["t0"] <= c["t1"]), parent)
        parent["children"].append(jn)
    roots = []
    for s in nodes:
        (by_id[s["parent"]]["children"] if s["parent"] is not None else roots).append(s)

    def finish(s):
        for c in s["children"]:
            finish(c)
        s["dur_s"] = s["t1"] - s["t0"]
        s["self_s"] = s["dur_s"] - union(
            [(c["t0"], c["t1"]) for c in s["children"]], s["t0"], s["t1"])
        for k in ("id", "parent"):
            s.pop(k, None)
    for r in roots:
        finish(r)

    stage_tasks = {}
    for t in ev["tasks"]:
        stage_tasks.setdefault(t["stage"], []).append(t)
    rows = []
    for o in (s for s in spans if s["kind"] == "op"):
        p = by_id[o["parent"]]
        if not p.get("warm"):
            continue
        ph = {c["name"]: c for c in by_id[o["id"]]["children"] if c["kind"] == "phase"}
        jobs = [j for j in ev["jobs"].values() if j["id"] in owner
                and owner[j["id"]]["parent"] == o["id"]]
        ts = [t for j in jobs for sid in j["stages"] for t in stage_tasks.get(sid, [])]
        rows.append({
            "op": o["name"], "pass": p["name"], "wall_s": o["t1"] - o["t0"],
            "build_s": ph["build"]["dur_s"] if "build" in ph else 0.0,
            "plan_s": ph["plan"]["dur_s"] if "plan" in ph else 0.0,
            "exec_s": ph["exec"]["dur_s"] if "exec" in ph else sum(
                c["dur_s"] for c in ph.values()),
            "stage_s": o.get("stage_write_s", 0.0),
            "shuffle_mb": sum(t["sw_b"] + t["sr_b"] for t in ts) / 1e6,
            "jobs": len(jobs)})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"tree": roots, "ops": rows}, f)
    return path


def render(rows, top):
    """Top-N operations by each layer's median warm time."""
    by_op = {}
    for r in rows:
        by_op.setdefault(r["op"], []).append(r)
    med = {op: {k: statistics.median(r[k] for r in rs) for k in rs[0] if k not in ("op", "pass")}
           for op, rs in by_op.items()}
    out = []
    for key, label in (("build_s", "build s"), ("plan_s", "plan s"), ("exec_s", "exec s"),
                       ("stage_s", "stage write s"), ("shuffle_mb", "shuffle MB")):
        out.append(f"\ntop {top} by {label}")
        out.append(f"  {'op':24} {label:>14} {'wall s':>8} {'jobs':>5}")
        for op, v in sorted(med.items(), key=lambda kv: -kv[1][key])[:top]:
            out.append(f"  {op:24} {v[key]:14.3f} {v['wall_s']:8.3f} {v['jobs']:5.0f}")
    return "\n".join(out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Print the top-N operations per layer from a traced run.")
    ap.add_argument("trace_file")
    ap.add_argument("--top", type=int, default=10)
    a = ap.parse_args()
    with open(a.trace_file) as f:
        print(render(json.load(f)["ops"], a.top))
