"""Benchmark of record for the graft library, run from a checkout's root:

    python3 perfbench/run.py --workload kernels --seed 1 --seconds 10 --trace 0

Builds src/main with scalac into .bench_build/ (skipped while the sources
are unchanged), makes the workload's inputs under .bench_work/, runs one
measuring process (worker.py) and prints, as its last line, one JSON object
with the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
SF = 0.01  # sf tables the registry workloads read; generated with seed 42
WORKER_TIMEOUT_S = 165

sys.path.insert(0, BENCH)
import worker  # noqa: E402  (op lists only; the session lives in the child)

E2E = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
       ("op_geomean_s", "s"), ("input_mb_per_s", "MB/s")]
LAYERS = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("queries.build_result_mb", "MB"), ("driver.idle_s", "s"),
    ("stage.count", "count"), ("stage.write_s", "s"), ("stage.mb", "MB"),
    ("cold.gap_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.busy_frac", "ratio"),
    ("exec.gc_s", "s"), ("exec.task_skew", "ratio"), ("exec.peak_mem_mb", "MB"),
    ("tasks.failed", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("spill.mb", "MB"), ("scan.input_mb", "MB"),
    ("scan.input_rows", "rows"),
    ("plan.s", "s"), ("plan.nodes", "count"),
    ("ingest.assess_s", "s"), ("ingest.pairs", "count"),
    ("ingest.pair_jobs", "count"), ("sources.read_s", "s"),
    ("sources.read_jobs", "count"), ("ingest.species_diff_s", "s"),
    ("ingest.report_s", "s"), ("sink.write_s", "s"), ("sink.mb", "MB"),
    ("jvm.heap_peak_mb", "MB"), ("jvm.gc_s", "s"),
    ("trace.overhead_frac", "ratio"), ("failed_frac", "ratio"),
] + [(f"op.{op}.{k}", "s") for ops in worker.WORKLOADS.values()
     for op in ops for k in ("s", "build_s")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_env(tmp):
    """Environment that keeps every JVM's scratch files (hsperfdata,
    java.io.tmpdir) inside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    return dict(os.environ, TMPDIR=tmp,
                JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    from pyspark.find_spark_home import _find_spark_home
    jars = os.path.join(_find_spark_home(), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}")
    return jars


def build():
    """Compile src/main/scala with the Scala compiler Spark ships."""
    src = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(ROOT, "src", "main", "scala"))
           for f in fs if f.endswith(".scala")]
    if not src:
        fail("no src/main/scala sources in this checkout")
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "classes.stamp")
    key = tree_hash(src)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(src))
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-classpath", cp, "-d", classes, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=java_env(os.path.join(out, "tmp")))
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("scalac failed")
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def sf_data():
    import sfgen
    out = os.path.join(WORK, "data", "sf")
    stamp = os.path.join(WORK, "data", "sf.stamp")
    key = f"{tree_hash([sfgen.__file__])}:{SF}:42"
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(out, ignore_errors=True)
        sfgen.generate(out, SF, 42)
        with open(stamp, "w") as f:
            f.write(key)
    return out


def changelog_tree(seed):
    import clgen
    base = os.path.join(WORK, "data")
    out = os.path.join(base, f"changelog-{seed}")
    for d in os.listdir(base) if os.path.isdir(base) else []:
        if d.startswith("changelog-") and d != os.path.basename(out):
            shutil.rmtree(os.path.join(base, d))
    if not os.path.exists(os.path.join(out, "truth.json")):
        clgen.generate(out, seed)
    return out


def reap(p):
    """Kill what is left of the worker's process group (the Spark JVM) and
    wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            break
        for _ in range(100):
            try:
                os.killpg(p.pid, 0)
            except ProcessLookupError:
                p.wait()
                return
            time.sleep(0.05)
    p.wait()


def run_worker(a, classes, inputs, trace):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("events", "verify_out", "changelog_out", "run"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "run"))
    res = os.path.join(WORK, "result.json")
    if os.path.exists(res):
        os.remove(res)
    cmd = [sys.executable, os.path.join(BENCH, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(trace), "--classes", classes, "--work", WORK, "--repo", ROOT,
           "--out", res, "--spawned", repr(time.time())]
    cmd += ["--tree", inputs] if a.workload == "changelog" else ["--sf", inputs]
    env = dict(java_env(tmp), SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    # the worker runs from a scratch dir so Spark's spark-warehouse/ and
    # derby.log never land in the checkout's root
    p = subprocess.Popen(cmd, cwd=os.path.join(WORK, "run"), env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        log, _ = p.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log = None
    reap(p)
    if log is None:
        fail(f"worker exceeded {WORKER_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(res):
        sys.stderr.write(log[-6000:])
        fail(f"worker exited with {p.returncode}")
    with open(res) as f:
        return json.load(f)


def e2e(r, input_bytes):
    lat = r["op_lat"]
    pass_s = statistics.median(r["passes"])
    geo = math.exp(statistics.mean(math.log(statistics.median(v)) for v in lat.values()))
    return {"setup_s": r["setup_s"], "first_pass_s": r["first_pass_s"],
            "pass_s": pass_s, "op_geomean_s": geo,
            "input_mb_per_s": input_bytes / 1e6 / pass_s}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(worker.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "tools", "local_check.py")):
        fail("tools/local_check.py is missing: run from a full checkout")
    classes = build()
    os.makedirs(os.path.join(WORK, "untraced"), exist_ok=True)
    if a.workload == "changelog":
        inputs = changelog_tree(a.seed)
        input_bytes = sum(worker.du(os.path.join(inputs, sub)) for sub in ("old", "new"))
    else:
        inputs = sf_data()
        input_bytes = worker.du(inputs)

    history = os.path.join(WORK, "untraced", f"{a.workload}.json")
    past = []
    if os.path.exists(history):
        with open(history) as f:
            past = json.load(f)
    if a.trace and not past:
        past = [e2e(run_worker(a, classes, inputs, 0), input_bytes)]
    r = run_worker(a, classes, inputs, a.trace)
    m = e2e(r, input_bytes)
    if not a.trace:
        with open(history, "w") as f:
            json.dump((past + [m])[-20:], f)
        metrics = {k: (m[k], u) for k, u in E2E}
    else:
        lay = dict(r["layers"])
        lay["cold.gap_s"] = m["first_pass_s"] - m["pass_s"]
        lay["trace.overhead_frac"] = m["pass_s"] / statistics.median(
            p["pass_s"] for p in past) - 1
        lay["failed_frac"] = r["failed"] / r["attempted"]
        for op in r["op_lat"]:
            lay[f"op.{op}.s"] = statistics.median(r["op_lat"][op])
            lay[f"op.{op}.build_s"] = statistics.median(r["op_build"][op])
        metrics = {k: (lay.get(k, 0.0), u) for k, u in LAYERS}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "cores": r["cores"], "warm_passes": len(r["passes"]),
              "ops": len(r["op_lat"]), "input_bytes": input_bytes,
              "failures": r["failures"], "trace_file": r.get("trace_file")}
    print("perfbench detail: " + json.dumps(detail))
    print(json.dumps({
        "correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
