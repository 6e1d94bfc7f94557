#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <automl|curate|analytics|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
benchmark's JVM program from the checkout's sources into `.bench_build/`;
inputs and run records go to `.bench_work/`. The run prints every
metric by name with its unit and sample count, then, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Spark's own log goes to `.bench_work/<run>/jvm.log`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")

sys.path.insert(0, HERE)
import inputs  # noqa: E402

# Per workload: generated input size (corpus replicas; the automl CSV
# rows are fixed in inputs.py), the unit of work an op completes, and
# how long its JVM may run. analytics and curate fit the 180 s a run of
# BENCHMARK.json may take, their traced runs with the companion each
# hosts; automl and ingest on their own do not (README.md) and are run
# by hand.
WORKLOADS = {
    "analytics": {"size": 0, "unit": "queries", "timeout": 172},
    "curate": {"size": 4, "unit": "docs", "timeout": 172},
    "automl": {"size": 0, "unit": "rows", "timeout": 1800},
    "ingest": {"size": 2, "unit": "docs", "timeout": 1800},
}
# docs per ingest batch, on its own and as curate's companion
BATCH_DOCS = 100
HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# read_s only where the run's output is read back through graft (the
# hand-run ingest and automl)
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("units_per_s", "1/s"),
              ("heap_peak_mb", "MB")]
STAGES = ["input", "min_tokens", "quality", "gopher_rules", "model_quality",
          "repetition", "language", "lm_quality", "exact_dedup", "near_dedup",
          "semantic_dedup", "decontaminated", "sampled", "token_budget"]
FAMILIES = {"q": "Relational", "c": "Cleaning", "m": "MLPrep", "i": "Upsert"}
SPARK_LAYER = [
    ("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("spark.task_s_per_op", "s"), ("spark.core_busy", "ratio"),
    ("spark.one_task_job_share", "ratio"), ("spark.shuffle_write_mb_per_op", "MB"),
    ("spark.input_mb_per_op", "MB"), ("spark.task_failures", "count")]
AUTOML_LAYER = [
    ("sources.Ingest.read_s", "s"), ("Jobs.queue_s", "s"),
    ("Pipeline.autoPipeline_s", "s"), ("Pipeline.vizData_s", "s"),
    ("Report.save_s", "s"), ("mllib.jobs_per_op", "count"),
    ("mllib.task_s_per_op", "s")]
INGEST_LAYER = [
    ("streaming.DurableState.commit_bytes_per_batch", "bytes"),
    ("streaming.DurableState.segments", "count"),
    ("streaming.DurableState.store_bytes_per_doc", "bytes")]
# only a run that folds DefaultCompactEvery (8) batches sees a compaction
COMPACTION = [("streaming.DurableState.compacting_batch_s", "s")]
# The per-layer metrics of BENCHMARK.json: analytics and curate print all
# of them, the companion's layers included; a layer a run does not enter
# reads 0.
BENCHMARK_LAYERS = (
    SPARK_LAYER
    + [("plan.construct_s", "s"), ("plan.analyze_s", "s"), ("plan.exec_s", "s")]
    + [(f"operators.{f}.op_s", "s") for f in FAMILIES.values()]
    + [(f"Corpus.stage.{s}_s", "s") for s in STAGES]
    + AUTOML_LAYER + INGEST_LAYER)
LAYERS = {
    "analytics": BENCHMARK_LAYERS,
    "curate": BENCHMARK_LAYERS,
    "automl": SPARK_LAYER + AUTOML_LAYER,
    "ingest": SPARK_LAYER + INGEST_LAYER + COMPACTION,
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
        if os.path.isfile(top):
            with open(top, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft + the JVM program once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            rec = json.load(fh)
        if rec.get("stamp") == stamp:
            return rec["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or cp.startswith("["):
        fail(f"build failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


# ------------------------------------------------------------------ run

def launch(cp, args, out, timeout):
    """One JVM; its stdout and stderr (Spark's log) go to a file."""
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--out", out] + args)
    deadline = time.monotonic() + timeout
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {timeout} s, see {out}/jvm.log")
        finally:
            # also on SIGTERM/SIGINT: the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        fail(f"JVM exited {proc.returncode}, see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def oracle_check(data, check_dir):
    """DuckDB runs each key's oracle SQL over the same generated inputs;
    scripts/check_oracle.py compares type-sensitively. Returns
    {key: 'PASS' | failure line}."""
    path = os.path.join(ROOT, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data, check_dir)
    verdict = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            key = rest.split(" ")[0].rstrip(":")
            verdict[key] = "PASS" if word == "PASS" else line
    return verdict


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def self_times(spans):
    """Span duration minus the part of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, end = 0, lo
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def spark_per_op(spark, ops):
    """Spark counts per op: jobs belong to the op whose interval holds
    their submission time."""
    stage_job = {}
    for j in spark["jobs"]:
        for s in j["stages"]:
            stage_job.setdefault(s, j["id"])
    tasks_by_job = {}
    for stage, run_ms, shw, inp, failed in spark["tasks"]:
        tasks_by_job.setdefault(stage_job.get(stage), []).append((run_ms, shw, inp, failed))
    per_op = []
    for o in ops:
        js = [j for j in spark["jobs"] if o["start_ms"] <= j["submit_ms"] <= o["end_ms"]]
        ts = [t for j in js for t in tasks_by_job.get(j["id"], [])]
        ml = [j for j in js if j["mllib"]]
        per_op.append({
            "jobs": len(js), "tasks": len(ts), "task_s": sum(t[0] for t in ts) / 1e3,
            "one_task_jobs": sum(1 for j in js if len(tasks_by_job.get(j["id"], [])) == 1),
            "shuffle_mb": sum(t[1] for t in ts) / 2 ** 20,
            "input_mb": sum(t[2] for t in ts) / 2 ** 20,
            "failures": sum(1 for t in ts if t[3]),
            "ml_jobs": len(ml),
            "ml_task_s": sum(t[0] for j in ml for t in tasks_by_job.get(j["id"], [])) / 1e3,
            "wall": o["wall_s"]})
    return per_op


def layer_metrics(workload, res, out):
    """Per-layer metrics of a traced run: the Spark runtime over the
    workload's traced ops, the other layers from the spans of the
    workload's traced ops and of its companion's ops."""
    with open(os.path.join(out, "spans.json")) as fh:
        spans = json.load(fh)
    with open(os.path.join(out, "spark.json")) as fh:
        spark = json.load(fh)
    ops = res["ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    comp = res["companion"]
    comp_ops = comp["ops"] if comp else []
    ncores = res["cores"]
    m = {name: 0.0 for name, _ in LAYERS[workload]}
    notes = {}

    per_op = spark_per_op(spark, traced)
    n = len(per_op)

    def mean(rows, k):
        return sum(p[k] for p in rows) / len(rows) if rows else 0.0
    m["spark.jobs_per_op"] = mean(per_op, "jobs")
    m["spark.tasks_per_op"] = mean(per_op, "tasks")
    m["spark.task_s_per_op"] = mean(per_op, "task_s")
    wall = sum(p["wall"] for p in per_op)
    m["spark.core_busy"] = sum(p["task_s"] for p in per_op) / (wall * ncores) if wall else 0.0
    jobs = sum(p["jobs"] for p in per_op)
    m["spark.one_task_job_share"] = sum(p["one_task_jobs"] for p in per_op) / jobs if jobs else 0.0
    m["spark.shuffle_write_mb_per_op"] = mean(per_op, "shuffle_mb")
    m["spark.input_mb_per_op"] = mean(per_op, "input_mb")
    m["spark.task_failures"] = float(sum(p["failures"] for p in per_op))
    notes.update({k: n for k, _ in SPARK_LAYER})
    # MLlib: the automl journey's jobs, its own or hosted
    ml_ops = per_op if workload == "automl" else (
        spark_per_op(spark, comp_ops) if comp and comp["workload"] == "automl" else [])
    if "mllib.jobs_per_op" in m and ml_ops:
        m["mllib.jobs_per_op"] = mean(ml_ops, "ml_jobs")
        m["mllib.task_s_per_op"] = mean(ml_ops, "ml_task_s")
        notes["mllib.jobs_per_op"] = notes["mllib.task_s_per_op"] = len(ml_ops)

    # spans: per op, the self time of each named layer
    selfs = self_times(spans)
    op_ids = {o["i"] for o in traced + comp_ops}
    by_name = {}
    for s in spans:
        if s["op"] in op_ids:
            by_name.setdefault(s["name"], {}).setdefault(s["op"], 0.0)
            by_name[s["name"]][s["op"]] += selfs[s["id"]]
    layer_self = {k: median(list(v.values())) for k, v in by_name.items()}
    for name, metric in [("plan.construct", "plan.construct_s"),
                         ("plan.analyze", "plan.analyze_s"), ("plan.exec", "plan.exec_s"),
                         ("sources.Ingest.read", "sources.Ingest.read_s"),
                         ("Jobs.queue", "Jobs.queue_s"),
                         ("Pipeline.autoPipeline", "Pipeline.autoPipeline_s"),
                         ("Pipeline.vizData", "Pipeline.vizData_s"),
                         ("Report.save", "Report.save_s")]:
        if name in layer_self and metric in m:
            m[metric] = layer_self[name]
            notes[metric] = len(by_name[name])
    # curate stages: neighbouring cumulative cuts differ by one stage
    cuts = [by_name.get(f"Corpus.stage.{s}", {}) for s in STAGES]
    if cuts[0]:
        for k, s in enumerate(STAGES):
            deltas = [cuts[k][op] - (cuts[k - 1][op] if k else 0.0) for op in cuts[k]]
            m[f"Corpus.stage.{s}_s"] = median(deltas)
            notes[f"Corpus.stage.{s}_s"] = len(deltas)
    if workload == "analytics":
        for prefix, fam in FAMILIES.items():
            walls = [o["wall_s"] for o in traced if o["label"][0] == prefix]
            m[f"operators.{fam}.op_s"] = median(walls)
            notes[f"operators.{fam}.op_s"] = len(walls)
    # the durable store: the ingest batches, its own or hosted
    ingest = res["extra"] if workload == "ingest" else (
        comp["extra"] if comp and comp["workload"] == "ingest" else None)
    if ingest:
        batches = [b for b in ingest["batches"] if b["op"] >= 0]
        m["streaming.DurableState.commit_bytes_per_batch"] = median(
            [b["commit_bytes"] for b in batches])
        m["streaming.DurableState.segments"] = float(batches[-1]["segments"])
        m["streaming.DurableState.store_bytes_per_doc"] = \
            batches[-1]["store_bytes"] / batches[-1]["docs"]
        for k in ("commit_bytes_per_batch", "segments", "store_bytes_per_doc"):
            notes[f"streaming.DurableState.{k}"] = len(batches)
    if workload == "ingest":
        walls = {o["i"]: o["wall_s"] for o in ops}
        allb = ingest["batches"]
        compacting = [walls[b["op"]] for prev, b in zip(allb, allb[1:])
                      if b["segments"] < prev["segments"] and b["op"] in walls]
        m["streaming.DurableState.compacting_batch_s"] = median(compacting)
        notes["streaming.DurableState.compacting_batch_s"] = len(compacting)
    overhead = (median([o["wall_s"] for o in traced]) -
                median([o["wall_s"] for o in untraced]))
    return m, layer_self, overhead, n, len(untraced), notes


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "scripts", "check_oracle.py")):
        fail(f"no graft checkout around {HERE}: run from the root of a graft checkout")

    cfg = WORKLOADS[a.workload]
    cp = build()
    run = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    data = os.path.join(run, "input")
    size = inputs.generate(a.workload, a.seed, data, cfg["size"])
    args = ["--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cores()), "--seed", str(a.seed),
            "--batch-docs", str(BATCH_DOCS)]
    out = os.path.join(run, "main")
    res = launch(cp, args, out, cfg["timeout"])

    # output checks outside the timed region; a wrong output fails its op
    comp = res["companion"]
    comp_ops = comp["warmup"] + comp["ops"] if comp else []
    ops = res["warmup"] + res["ops"] + comp_ops
    if a.workload in ("analytics", "curate"):
        verdict = oracle_check(data, os.path.join(out, "check"))
        for o in res["warmup"] + res["ops"]:
            key = o["label"] if a.workload == "analytics" else "e2e_curate_fixed"
            if verdict.get(key, "FAIL (not checked)") != "PASS" and o["ok"]:
                o["ok"], o["err"] = False, verdict.get(key, "FAIL not checked")
    failed = [o for o in ops if not o["ok"]]
    # the first few of the workload's failures, and every companion's
    shown = [o for o in failed if o not in comp_ops][:5] + [o for o in comp_ops if not o["ok"]]
    for o in shown:
        print(f"op {o['i']} {o['label']} failed: {o['err']}", file=sys.stderr)

    walls = [o["wall_s"] for o in res["ops"]]
    nops = len(walls)
    units_ok = sum(o["units"] for o in res["ops"] if o["ok"])
    print(f"# workload {a.workload}: seed {a.seed}, {cores()} cores, input {size}, "
          f"{nops} ops in {res['loop_s']:.1f} s, one client (closed loop)")
    if comp:
        print(f"# companion {comp['workload']}: {len(comp['warmup'])} untraced warm-up "
              f"and {len(comp['ops'])} traced ops, "
              f"{sum(o['wall_s'] for o in comp['warmup'] + comp['ops']):.1f} s")
    print(f"fail_ratio {len(failed) / len(ops):.4f} ratio (n={len(ops)} ops incl. warm-up)")
    # not in BENCHMARK.json: no run holds the ~100 ops that would leave
    # ten samples beyond p90
    print(f"op_p90_s {p90(walls):.6g} s (n={nops} ops)")
    if a.trace == 0:
        metrics = {
            "setup_s": (res["setup_s"], f"n=1 set-up, {len(res['warmup'])} warm-up ops"),
            "op_p50_s": (median(walls), f"n={nops} ops"),
            "units_per_s": (units_ok / sum(walls), f"{cfg['unit']}/s over n={nops} ops"),
            "heap_peak_mb": (res["heap_mb"], "n=1 post-GC sample after the timed ops"),
        }
        if res["read_s"]:
            metrics["read_s"] = (median(res["read_s"]), f"n={len(res['read_s'])} reads")
        units = dict(END_TO_END + [("read_s", "s")])
    else:
        m, layer_self, overhead, nt, nu, notes = layer_metrics(a.workload, res, out)
        for name, t in sorted(layer_self.items()):
            print(f"self {name} {t:.4f} s (median per traced op)")
        print(f"trace.overhead_s {overhead:.4f} s (traced op_p50 n={nt} minus untraced n={nu})")
        metrics = {k: (m[k], f"n={notes[k]} traced ops" if k in notes else "layer not entered")
                   for k, _ in LAYERS[a.workload]}
        units = dict(LAYERS[a.workload])
    for k, (v, note) in metrics.items():
        print(f"{k} {v:.6g} {units[k]} ({note})")
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
