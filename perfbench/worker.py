"""One measuring process: set up a Spark session over the compiled classes,
run one workload as a closed loop (one operation in flight), check the
outputs, and write the raw measurements as JSON.

run.py starts this file in a fresh process per run; it is not meant to be
called by hand. Every operation is timed the way a user pays for it: its
full result, every row and column, forced through the `noop` sink. With
--trace 1 it also sets a job group per (pass, op, phase), records spans in
memory and turns Spark's event log into per-layer metrics (layers.py).
"""
import argparse
import json
import os
import random
import subprocess
import sys
import time
import traceback

import layers

KERNELS = ["agg_approx_distinct", "dedup_span", "stats_table"]
ITERATIVE = ["graph_bfs", "class_auc", "agg_wmedian"]
CHANGELOG = ["assess", "species_diff", "report", "sink"]
WORKLOADS = {"kernels": KERNELS, "iterative": ITERATIVE, "changelog": CHANGELOG}
FAO = "global_production/filtered_Aquaculture_Quantity_V%s.csv"


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Spans:
    """In-memory span recorder: (kind, name, parent, t0, t1, attrs)."""

    def __init__(self):
        self.items = []

    def open(self, kind, name, parent=None, **attrs):
        self.items.append({"id": len(self.items), "kind": kind, "name": name,
                           "parent": parent, "t0": time.time(), "t1": None,
                           **attrs})
        return len(self.items) - 1

    def close(self, sid, **attrs):
        self.items[sid]["t1"] = time.time()
        self.items[sid].update(attrs)
        return self.items[sid]["t1"] - self.items[sid]["t0"]


class Worker:
    def __init__(self, a):
        self.a = a
        self.spans = Spans()
        self.group = None

    # ---- session ---------------------------------------------------------
    def setup(self):
        from pyspark.sql import SparkSession
        a, work = self.a, self.a.work
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cores = str(len(os.sched_getaffinity(0)))
        b = (SparkSession.builder.master(f"local[{cores}]")
             .appName(f"perfbench-{a.workload}")
             .config("spark.sql.shuffle.partitions", cores)
             .config("spark.default.parallelism", cores)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g")
             .config("spark.driver.extraClassPath", a.classes)
             .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", tmp)
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
        if a.trace:
            self.eventdir = os.path.join(work, "events")
            os.makedirs(self.eventdir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.eventdir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm, self.js = self.spark._jvm, self.spark._jsparkSession
        self.cores = int(cores)
        # the one untimed warm-up action that setup_s includes
        self.spark.range(1000).selectExpr("sum(id)").collect()
        return time.time() - a.spawned

    def set_group(self, gid):
        if self.a.trace and gid != self.group:
            self.sc.setJobGroup(gid, gid)
            self.group = gid

    def gc_ms(self):
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def heap_peak_mb(self):
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "HEAP") / 1e6

    def drain_stage(self):
        seq = self.jvm.graft.operators.Stage.drainTimings()
        return [(seq.apply(i)._1(), seq.apply(i)._2()) for i in range(seq.size())]

    # ---- registry workloads (kernels, iterative) -------------------------
    def registry_init(self):
        self.sf = self.a.sf
        reg = self.jvm.graft.SparkEntry.queries()
        self.fns = {n: reg.apply(n) for n in WORKLOADS[self.a.workload]}

    def registry_op(self, pid, name, op_sid):
        stage_dir = os.path.join(self.a.work, "tmp")
        before = set(os.listdir(stage_dir)) if self.a.trace else set()
        self.set_group(f"{pid}|{name}|build")
        s = self.spans.open("phase", "build", op_sid)
        jdf = self.fns[name].apply(self.js, self.sf)
        build_s = self.spans.close(s)
        if self.a.trace:
            self.set_group(f"{pid}|{name}|plan")
            s = self.spans.open("phase", "plan", op_sid)
            nodes = len(jdf.queryExecution().executedPlan().treeString().splitlines())
            self.spans.close(s, nodes=nodes)
        self.set_group(f"{pid}|{name}|exec")
        s = self.spans.open("phase", "exec", op_sid)
        jdf.write().format("noop").mode("overwrite").save()
        self.spans.close(s)
        stage = self.drain_stage()
        extra = {"stage_count": len(stage), "stage_write_s": sum(t for _, t in stage)}
        if self.a.trace:
            new = [d for d in set(os.listdir(stage_dir)) - before
                   if d.startswith("graft_stage_")]
            extra["stage_mb"] = sum(du(os.path.join(stage_dir, d)) for d in new) / 1e6
        return build_s, extra

    def registry_check(self):
        """graft.Verify dumps each op's result; tools/local_check.py compares
        it with the op's DuckDB oracle."""
        ops = WORKLOADS[self.a.workload]
        out = os.path.join(self.a.work, "verify_out")
        subprocess.run(["rm", "-rf", out], check=True)
        self.set_group("check")
        args = self.sc._gateway.new_array(self.jvm.java.lang.String, 3)
        args[0], args[1], args[2] = self.sf, out, ",".join(ops)
        self.jvm.graft.Verify.main(args)  # stops the session when done
        r = subprocess.run(
            [sys.executable, os.path.join(self.a.repo, "tools", "local_check.py"),
             self.sf, out, "--only", ",".join(ops)],
            capture_output=True, text=True, timeout=150)
        verdicts = {}
        for line in r.stdout.splitlines():
            parts = line.split(None, 2)
            if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
                verdicts[parts[1]] = (parts[0], parts[2] if len(parts) > 2 else "")
        return {op: ("no verdict from local_check.py" if op not in verdicts else
                     verdicts[op][1]) for op in ops
                if verdicts.get(op, ("FAIL",))[0] != "PASS"}

    # ---- changelog workload ----------------------------------------------
    def changelog_init(self):
        from pyspark.java_gateway import ensure_callback_server_started
        ensure_callback_server_started(self.sc._gateway)
        tree = self.a.tree
        self.old, self.new = os.path.join(tree, "old"), os.path.join(tree, "new")
        self.outdir = os.path.join(self.a.work, "changelog_out")
        self.reads = []
        worker = self

        class ReadFn:
            """The readFn handed to Pipelines.assessChanges: .csv through
            spark.read with inferSchema, .xlsx through graft.sources.Xlsx."""
            def apply(self, path):
                t0 = time.time()
                if path.lower().endswith(".xlsx"):
                    df = worker.jvm.graft.sources.Xlsx.read(worker.js, path, 0)
                else:
                    df = (worker.js.read().option("header", "true")
                          .option("inferSchema", "true").csv(path))
                worker.reads.append((t0, time.time()))
                return df

            class Java:
                implements = ["scala.Function1"]

        self.read_fn = ReadFn()
        self.last = {}

    def changelog_op(self, pid, name, op_sid):
        jvm, js = self.jvm, self.js
        self.set_group(f"{pid}|{name}|{name}")
        s = self.spans.open("phase", name, op_sid)
        extra, n0 = {}, len(self.reads)
        if name == "assess":
            res = jvm.graft.ingest.Pipelines.assessChanges(js, self.old, self.new, self.read_fn)
            self.last["fd"], self.last["pr"] = res._1(), res._2()
        elif name == "species_diff":
            def prod(root, tag):
                return js.read().option("header", "true").csv(
                    os.path.join(root, FAO % tag))
            self.last["new_prod"] = prod(self.new, "202410a")
            self.last["cs"] = jvm.graft.ingest.Pipelines.countrySpeciesDiff(
                js, prod(self.old, "202211"), self.last["new_prod"]).localCheckpoint()
        elif name == "report":
            dest = jvm.java.io.File(os.path.join(self.outdir, "changelog.md")).toPath()
            jvm.graft.ingest.Report.write(dest, self.last["fd"], self.last["pr"],
                                          self.last["cs"], "Data changelog")
        else:
            clean = jvm.graft.ingest.CleanProd.clean(self.last["new_prod"])
            self.last["sink"] = jvm.graft.sources.ParquetSink.writePartitioned(
                clean, os.path.join(self.outdir, "production.parquet"), "prod_method",
                jvm.org.apache.spark.sql.functions.col("SciName"), 2)
        self.spans.close(s, **({"reads": self.reads[n0:]} if name == "assess" else {}))
        if self.a.trace and name == "sink":
            extra["sink_mb"] = du(os.path.join(self.outdir, "production.parquet")) / 1e6
        self.drain_stage()
        return 0.0, extra

    def changelog_check(self):
        from pyspark.sql import DataFrame
        with open(os.path.join(self.a.tree, "truth.json")) as f:
            truth = json.load(f)
        self.set_group("check")
        rows = lambda jdf: DataFrame(jdf, self.spark).collect()
        bad = {}
        fd = sorted([r.std_name, r.exists_in_old, r.exists_in_new, r.size_change_mb]
                    for r in rows(self.last["fd"]))
        exp = truth["file_diff"]
        same = len(fd) == len(exp) and all(
            a[:3] == b[:3] and ((a[3] is None) == (b[3] is None)) and
            (a[3] is None or abs(a[3] - b[3]) < 2e-6) for a, b in zip(fd, exp))
        pr = {r.std_name: {"old_rows": r.old_rows, "new_rows": r.new_rows,
                           "added": sorted(r.added_cols or []),
                           "removed": sorted(r.removed_cols or []),
                           "type_changed": sorted(r.type_changed_cols or [])}
              for r in rows(self.last["pr"])}
        if not same:
            bad["assess"] = "file diff differs from truth.json"
        elif pr != truth["pairs"]:
            diff = sorted(k for k in set(pr) | set(truth["pairs"])
                          if pr.get(k) != truth["pairs"].get(k))
            bad["assess"] = f"pair report differs for {diff}"
        cs = [[r.entity, r.direction, r.value] for r in rows(self.last["cs"])]
        if cs != truth["country_species"]:
            bad["species_diff"] = f"{len(cs)} rows, expected {len(truth['country_species'])}"
        with open(os.path.join(self.outdir, "changelog.md")) as f:
            report = f.read().splitlines()
        want = [f"| {k} |" for k, o, n, _ in exp if o != n]
        want += [f"| {k} | {v['old_rows']} | {v['new_rows']} | {v['new_rows'] - v['old_rows']} |"
                 for k, v in sorted(truth["pairs"].items()) if v["new_rows"] != v["old_rows"]]
        missing = [w for w in want if w not in report]
        if missing:
            bad["report"] = f"report lacks {missing[:3]}"
        n = self.last["sink"].count()
        if n != truth["sink_rows"]:
            bad["sink"] = f"sink holds {n} rows, expected {truth['sink_rows']}"
        self.spark.stop()
        return bad

    # ---- the run ---------------------------------------------------------
    def run(self):
        a = self.a
        out = {"workload": a.workload, "seed": a.seed, "trace": a.trace}
        out["setup_s"] = self.setup()
        registry = a.workload != "changelog"
        (self.registry_init if registry else self.changelog_init)()
        op_fn = self.registry_op if registry else self.changelog_op
        ops = WORKLOADS[a.workload]
        rng = random.Random(a.seed)
        run_sid = self.spans.open("run", a.workload)
        passes, lat, build, extras, thrown = [], {}, {}, {}, {}
        gc0 = warm_t0 = None
        while True:
            warm = len(passes)
            if warm == 1:
                warm_t0, gc0 = time.time(), self.gc_ms()
            elif warm > 1 and (time.time() - warm_t0 >= a.seconds or warm > 60):
                break
            order = rng.sample(ops, len(ops)) if registry else ops
            pid = f"p{warm}"
            psid = self.spans.open("pass", pid, run_sid, warm=warm > 0)
            for name in order:
                osid = self.spans.open("op", name, psid)
                try:
                    b, extra = op_fn(pid, name, osid)
                except Exception as e:  # an op that throws counts as failed
                    b, extra = 0.0, {}
                    thrown.setdefault(name, str(e).splitlines()[0][:300])
                dt = self.spans.close(osid, **extra)
                if warm:
                    lat.setdefault(name, []).append(dt)
                    build.setdefault(name, []).append(b)
                    for k, v in extra.items():
                        extras.setdefault(k, []).append(v)
                if name in thrown and not registry:
                    break  # later changelog steps need this one's output
            passes.append(self.spans.close(psid))
        gc_s = (self.gc_ms() - gc0) / 1e3 / (len(passes) - 1)
        heap = self.heap_peak_mb()
        self.set_group("check")
        if registry:
            bad = self.registry_check()
        elif thrown:  # the steps after the one that threw never ran
            bad = {op: "skipped: an earlier step threw" for op in ops}
        else:
            bad = self.changelog_check()
        self.spans.close(run_sid)
        for k, v in thrown.items():
            bad[k] = "threw: " + v
        out.update({
            "cores": self.cores,
            "first_pass_s": passes[0], "passes": passes[1:],
            "op_lat": lat, "op_build": build,
            "attempted": len(ops) * len(passes),
            "failed": len(bad) * len(passes),
            "failures": bad,
        })
        if a.trace:
            ev = layers.load_eventlog(self.eventdir)
            out["layers"] = layers.layer_metrics(
                self.spans.items, ev, self.cores, extras, gc_s, heap)
            out["trace_file"] = layers.write_tree(
                self.spans.items, ev,
                os.path.join(a.work, "trace", f"{a.workload}-{a.seed}.json"))
        return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--classes", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--sf")
    ap.add_argument("--tree")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    w = Worker(a)
    code = 1
    try:
        res = w.run()
        with open(a.out, "w") as f:
            json.dump(res, f)
        code = 0
    except Exception:
        traceback.print_exc()
    finally:
        try:
            w.spark.stop()
        except Exception:
            pass
        sys.stdout.flush()
        sys.stderr.flush()
        # py4j's callback-server threads can block a normal interpreter
        # exit (and shutdown_callback_server() itself can hang), so leave
        # hard; run.py then reaps the JVM through the process group
        os._exit(code)

if __name__ == "__main__":
    main()
