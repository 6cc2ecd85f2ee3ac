"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark harness from the checkout's sources
(once; later runs reuse the build while the sources are unchanged),
generates the workload's inputs from the seed, runs the workload in one
JVM on local[nproc], checks every op's output and prints, as the last
line of stdout, one JSON object with `correct`, `attempted`, `failed`
and `metrics`. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics of a separate traced run. Metric names and units are
the ones in BENCHMARK.json; NOTES.md says what each one measures.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("price_etl", "dashboard", "analytics")
GATES = ("agg_gini_grouped", "graph_pagerank", "dedup_minhash_pairs",
         "pipeline_curation7")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 850        # the first run in a checkout builds
# -XX:-UsePerfData keeps the JVM from writing its perf-data file outside
# the checkout
JVM_OPTS = ["-Xmx3g", "-XX:-UsePerfData"]
# java.base packages Spark reaches into on JDK 17 (the same list as the
# program's build.sbt and Spark's own launcher)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
PER_LAYER = (
    ["ingest.s", "ingest.rows", "ingest.files",
     "pipeline.price_update_s", "pipeline.kpi_s",
     "sinks.s", "sinks.bytes",
     "query.view_cache_s", "query.filter_page_s", "query.charts_s",
     "query.sql_s", "query.export_s"]
    + [f"gate.{g}.{k}" for g in GATES for k in ("s", "jobs")]
    + ["spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
       "spark.job_wall_s", "spark.driver_s", "spark.task_run_s",
       "spark.task_cpu_s", "spark.core_util", "spark.shuffle_write_bytes",
       "spark.shuffle_read_bytes", "spark.fetch_wait_s", "spark.spill_bytes",
       "spark.result_bytes", "spark.pinned_bytes_after",
       "op.wall_s", "op.uncovered_s", "trace.forced_spans",
       "trace.overhead", "peak_rss_mb"])

ETL_LAYERS = ("ingest.", "pipeline.", "sinks.")


def unit_of(name):
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_after"):
        return "bytes"
    if name in ("spark.core_util", "trace.overhead"):
        return "ratio"
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(deadline):
    """Compile the program and the harness; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "bench-classpath.json")
    fp = _fingerprint()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["fingerprint"] == fp and all(
                os.path.exists(p) for p in saved["classpath"]):
            return saved["classpath"]
    log("building the program and the benchmark harness with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=max(1, deadline - time.time()))
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = cps[-1].strip().split(os.pathsep)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


# ------------------------------------------------------------------ run

def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([java] + JVM_OPTS + ["-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + tmp]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=work)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")


def timed_ops(res):
    return [o for o in res["ops"] if o["kind"] == "op"]


def end_to_end(res, launch):
    ops = timed_ops(res)
    walls = [o["wall_s"] for o in ops]
    ok = [o for o in ops if o.get("error") is None]
    # a run has too few ops for the tail rule to reach above the median,
    # so the tail is logged, not reported (NOTES.md)
    tail, pct, beyond = stats.tail(walls)
    log(f"op tail {tail:.3f} s is p{pct:.1f} of {len(walls)} ops "
        f"({beyond} beyond it)")
    return {
        # launch is taken before input generation, so this covers it
        "setup_s": res["first_timed_epoch_ms"] / 1e3 - launch,
        "op_p50_s": stats.median(walls),
        "ops_per_s": len(ok) / res["timed_s"],
    }


def action_key(o):
    """Ops with the same key ran the same kind of action: the same slot
    of the dashboard's cycle, with or without an export. Every analytics
    pass has the same key."""
    return o["layers"].get("cycle.action")


def per_layer(res):
    """Median over the traced ops of each layer figure; 0 for a layer the
    workload does not use. The ingest, pipeline and sinks figures of the
    dashboard come from the price_etl op it runs in set-up."""
    traced = [o for o in timed_ops(res) if o["traced"]]
    plain = [o for o in timed_ops(res) if not o["traced"]]
    etl = [o for o in res["ops"] if o["kind"] == "etl" and o["traced"]] or traced
    out = {}
    for name in PER_LAYER:
        src = etl if name.startswith(ETL_LAYERS) else traced
        vals = [o["layers"][name] for o in src if name in o["layers"]]
        out[name] = stats.median(vals) if vals else 0.0
    out.update(res["setup_layers"])
    out["peak_rss_mb"] = res["peak_rss_mb"]
    out["trace.overhead"] = stats.matched_ratio(
        [(action_key(o), o["wall_s"]) for o in traced],
        [(action_key(o), o["wall_s"]) for o in plain])
    if out["trace.overhead"] is None:
        log("no action ran both traced and untraced; trace.overhead "
            "compares all traced ops with all untraced ones")
        out["trace.overhead"] = (stats.median([o["wall_s"] for o in traced])
                                 / stats.median([o["wall_s"] for o in plain]))
    return out


def main():
    launch = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no program sources next to the benchmark "
                         "(expected ../build.sbt and ../src/main/scala)")
    cp = classpath(launch + BUILD_LIMIT_S)
    launch = time.time()  # set-up is timed from here, after any build
    deadline = launch + RUN_LIMIT_S

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        if a.workload == "analytics":
            gen.analytics_inputs(a.seed, inputs)
        else:
            gen.price_inputs(a.seed, inputs)
        out = os.path.join(work, "result.json")
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                     str(nproc()), inputs, work, out], work, deadline)
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            keep = os.path.join(HERE, ".work", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(keep, f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in res["ops"] if o.get("error") is not None]
    log("op walls: " + " ".join(f"{o['wall_s']:.3f}" for o in res["ops"])
        + f"; jvm set-up {res['jvm_setup_s']:.2f} s, session {res['session_s']:.2f} s")
    for o in failed[:5]:
        log(f"op {o['id']} failed: {o.get('error')}")
    if a.trace:
        values = per_layer(res)
        metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        values = end_to_end(res, launch)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failed and len(res["ops"]) > 0,
                      "attempted": len(res["ops"]), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
