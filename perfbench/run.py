#!/usr/bin/env python3
"""The repository benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <dashboard|batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark (the
engine's sources plus ``perfbench/src``) with sbt and writes the build's
class-data-sharing archive; later runs reuse both while the sources are
unchanged. Inputs are generated from the seed,
the JVM runs the workload, the outputs are checked with DuckDB after the
timed region, and the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer metrics, and the span file plus the per-layer record are
written under ``.bench_build/trace/<workload>/``.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "cds", "classes.jsa")
DEADLINE_S = 170
CPUS = 4
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    paths = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]:
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    return sorted(paths)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def build():
    """Compile and package with sbt, then write the class-data-sharing
    archive, unless the sources match the last build's stamp; returns the
    runtime classpath and the stamp."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail("the engine's sources (src/main/scala/graft) are not in this checkout")
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if (os.path.exists(stamp) and os.path.exists(cp_file) and os.path.exists(ARCHIVE)
            and open(stamp).read() == h.hexdigest()):
        return open(cp_file).read().strip(), h.hexdigest()
    log = os.path.join(BUILD, "sbt.log")
    os.makedirs(BUILD, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=dict(os.environ, SPARK_HOME=spark_home()), timeout=480)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {rc}); see {log}")
    cp = open(cp_file).read().strip()
    train(cp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp, h.hexdigest()


def train(cp):
    """An untimed run of one ``batch`` pass whose JVM writes the build's
    class-data-sharing archive of the classes it loaded when it exits.
    Every measured run maps the archive, so all of them start the same way
    and none pays the class loading the archive covers."""
    import gen
    shutil.rmtree(os.path.dirname(ARCHIVE), ignore_errors=True)
    os.makedirs(os.path.dirname(ARCHIVE))
    run_dir = os.path.join(BUILD, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    _, script_path = gen.make_inputs("batch", 0, os.path.join(run_dir, "inputs"),
                                     os.path.join(BUILD, "data"))
    run_jvm(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}", script_path, run_dir, out_dir, 0, 0, 180)
    if not os.path.exists(ARCHIVE):
        fail(f"the training run wrote no class-data-sharing archive; see {run_dir}/jvm.log")
    shutil.rmtree(run_dir)


def run_jvm(cp, cds, script_path, run_dir, out_dir, seconds, trace, budget_s):
    """Run perfbench.Main in a fresh JVM with the class-data-sharing flag
    ``cds``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file outside the checkout; temp files go to the run dir
    cmd = [java, f"-Xmx{HEAP}", cds, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--script", script_path, "--out", out_dir,
            "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(CPUS),
            "--local-dir", os.path.join(run_dir, "spark-local")]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the JVM did not finish within {budget_s:.0f} s; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(os.path.join(out_dir, "run.json")):
        fail(f"the JVM exited with {rc}; see {run_dir}/jvm.log")


def load_bench_spec(metrics):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not (metrics.valid_name(m["name"]) and metrics.valid_unit(m["unit"])):
            fail(f"BENCHMARK.json: invalid metric name or unit {m['name']!r} {m['unit']!r}")
    return spec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    sys.path.insert(0, HERE)
    import check
    import gen
    import metrics

    if args.workload not in gen.WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {sorted(gen.WORKLOADS)}")
    spec = load_bench_spec(metrics)
    cp, stamp = build()
    t_built = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    script, script_path = gen.make_inputs(args.workload, args.seed, inputs,
                                          os.path.join(BUILD, "data"))
    t_gen = time.time()
    budget = DEADLINE_S - (t_gen - t_built) - 25
    run_jvm(cp, f"-XX:SharedArchiveFile={ARCHIVE}", script_path, run_dir, out_dir,
            args.seconds, args.trace, budget)
    t_jvm = time.time()
    with open(os.path.join(out_dir, "run.json")) as f:
        run = json.load(f)
    verdicts = check.check_run(run, script, out_dir, os.path.join(BUILD, "oracle"))
    t_check = time.time()
    e2e = metrics.end_to_end(run, verdicts)

    print(f"workload {args.workload} (seed {args.seed}, trace {args.trace}): {gen.WORKLOADS[args.workload]}")
    for op in run["ops"]:
        v = verdicts.get(op["id"])
        if v is not None:
            print(f"  failed op {op['id']} {op['kind']}:{op['name']}: {v[:300]}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    tail = ("absent (fewer than 20 checked ops)" if e2e["op_tail_s"] is None else
            f"{e2e['op_tail_s']:.4f} s at p{e2e['op_tail_percentile']:g} "
            f"({e2e['op_tail_samples_beyond']} samples beyond)")
    p50 = "absent (no checked op)" if e2e["op_p50_s"] is None else f"{e2e['op_p50_s']:.4f} s"
    skip = "n/a (batch only)" if e2e["skip_cycle_s"] is None else f"{e2e['skip_cycle_s']:.4f} s"
    print(f"  setup_s {e2e['setup_s']:.4f} s | wall_s {e2e['wall_s']:.4f} s | cpu_s {e2e['cpu_s']:.4f} s "
          f"(median of {e2e['passes']} passes) | op_p50_s {p50} | op_tail_s {tail}")
    print(f"  skip_cycle_s {skip} | fail_ratio {e2e['fail_ratio']:.4f} "
          f"({e2e['failed']}/{e2e['attempted']}) | retained_heap_mb {e2e['retained_heap_mb']:.2f} MB")

    # untraced results of this build and benchmark version, for the traced
    # run's overhead figure
    version = hashlib.sha256(stamp.encode())
    for f in sorted(os.listdir(HERE)):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f), "rb") as fh:
                version.update(fh.read())
    records = os.path.join(BUILD, "records", version.hexdigest()[:16], args.workload)
    os.makedirs(records, exist_ok=True)
    if args.trace == 0:
        with open(os.path.join(records, f"seed-{args.seed}.json"), "w") as f:
            json.dump(e2e, f)
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    else:
        run["cycle_logs"] = cycle_logs(run, out_dir)
        tr = metrics.trace_analysis(run, CPUS)
        untraced = [json.load(open(os.path.join(records, f)))["wall_s"]
                    for f in sorted(os.listdir(records)) if f.endswith(".json")]
        overhead = (None if not untraced else
                    {"traced_wall_s": e2e["wall_s"], "untraced_wall_s_median": metrics.median(untraced),
                     "overhead_s": e2e["wall_s"] - metrics.median(untraced),
                     "untraced_runs": len(untraced)})
        tdir = os.path.join(BUILD, "trace", args.workload)
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "spans.json"), "w") as f:
            json.dump({"spans": tr["spans"], "jobs": run["trace"]["jobs"],
                       "ops": run["ops"]}, f)
        median_pass = sorted(tr["passes"], key=lambda p: p["wall_s"])[len(tr["passes"]) // 2]
        record = {"workload": args.workload, "seed": args.seed, "why": gen.WORKLOADS[args.workload],
                  "layers": tr["layers"], "not_exercised": tr["not_exercised"],
                  "wall_s": median_pass["wall_s"], "self_s": median_pass["self_s"],
                  "unattributed_s": median_pass["unattributed_s"], "passes": tr["passes"],
                  "self_s_by_span_name": tr["self_s_by_span_name"],
                  "recorder_s": run["trace"]["recorder_s"],
                  "tracing_overhead": overhead or "no untraced run of this workload in this checkout yet",
                  "end_to_end_traced": e2e}
        with open(os.path.join(tdir, "layers.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(f"  traced: wall_s {median_pass['wall_s']:.4f} = span self time {median_pass['self_s']:.4f}"
              f" + unattributed {median_pass['unattributed_s']:.4f}; recorder {run['trace']['recorder_s']:.4f} s;"
              f" overhead {overhead['overhead_s'] if overhead else 'n/a'}")
        for k in sorted(tr["not_exercised"]):
            print(f"  not exercised: {k}: {tr['not_exercised'][k]}")
        print(f"  span file and per-layer record: {os.path.relpath(tdir, ROOT)}")
        values = {m["name"]: tr["layers"][m["name"]] for m in spec["per_layer"]}
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "target"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    result = {"correct": e2e["failed"] == 0, "attempted": e2e["attempted"], "failed": e2e["failed"],
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(f"  phases: build {t_built - t_start:.1f} s, inputs {t_gen - t_built:.1f} s, "
          f"JVM {t_jvm - t_gen:.1f} s, checks {t_check - t_jvm:.1f} s, total {time.time() - t_start:.1f} s")
    print(json.dumps(result))


def cycle_logs(run, out_dir):
    logs = {}
    for op in run["ops"]:
        if op["kind"] == "cycle" and op["ok"]:
            with open(os.path.join(out_dir, "results", op["result"])) as f:
                r = json.load(f)
            names = [n for n, _ in r["schema"]]
            logs[str(op["id"])] = [[row[names.index("file_name")], row[names.index("status")]]
                                   for row in r["rows"]]
    return logs


if __name__ == "__main__":
    main()
