#!/usr/bin/env python3
"""The repo's benchmark: one run of one workload (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the harness from
source (sbt, once per source state), generates the seeded inputs, runs the
benchmark JVM, checks the outputs, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Exits 1 when an operation or a check
failed, 2 when it cannot run at all. Everything it writes stays under
.bench_build/ in the checkout; the last run of each workload keeps its
results.json and (traced) spans.json and report.txt in
.bench_build/runs/<workload>-trace<0|1>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("wc_text", "tail_panel", "index_rw")

FIXTURE_SF = 0.01          # lineitem 60k rows; the tail is fixed-cost bound at this scale
FIXTURE_SEED = 42          # fixture data is fixed; --seed orders the operations
CORPUS_BYTES = 64 << 20    # wc_text corpus, regenerated per --seed
WARM_CORPUS_BYTES = 2 << 20
HEAP = "3g"
JVM_TIMEOUT_S = 165

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: library and harness sources and build files."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, fs in sorted(os.walk(src)):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().split()
    log("building the library and the harness with sbt")
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false", "-Dsbt.offline=true",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", *opts, "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("sbt build failed")
    log(f"build done in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().split()


def ensure_fixture():
    import fixture
    d = os.path.join(BUILD, "data", f"fixture-sf{FIXTURE_SF}-seed{FIXTURE_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        fixture.generate(d, FIXTURE_SF, FIXTURE_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
        log(f"fixture generated in {time.time() - t0:.1f} s")
    return d


def ensure_corpus(seed):
    """The wc_text corpus for `seed` (cached; other seeds' corpora are removed)
    and a small warm-up corpus. Returns (corpus, warm corpus, recorded meta)."""
    import corpus
    d = os.path.join(BUILD, "data", "corpus")
    os.makedirs(d, exist_ok=True)
    paths = []
    for name, size, s in ((f"seed{seed}-{CORPUS_BYTES}.txt", CORPUS_BYTES, seed),
                          (f"warm-{WARM_CORPUS_BYTES}.txt", WARM_CORPUS_BYTES, 0)):
        p = os.path.join(d, name)
        if not os.path.exists(p + ".json"):
            t0 = time.time()
            corpus.generate(p, size, s)
            log(f"corpus {name} generated in {time.time() - t0:.1f} s (not part of set-up)")
        paths.append(p)
    for f in os.listdir(d):
        if f.startswith("seed") and not f.startswith(f"seed{seed}-{CORPUS_BYTES}.txt"):
            os.remove(os.path.join(d, f))
    with open(paths[0] + ".json") as f:
        meta = json.load(f)
    return paths[0], paths[1], meta


MODULES = {"session": "GraftSession", "io": "io", "textpipeline": "core.TextPipeline",
           "plans": "plans", "queries": "queries", "catalyst": "catalyst", "exec": "exec",
           "shuffle": "shuffle", "trace_overhead_frac": "trace"}
BASES = {"session.first_setup_s": "first set-up, from JVM main entry",
         "session.start_s": "median of 5 set-ups", "session.warmup_s": "median of 5 set-ups",
         "textpipeline.tokens": "tokens in the text input",
         "textpipeline.tokens_per_s": "tokens / tokenize_s",
         "exec.busy_frac": "task_s / (traced wall x threads)",
         "exec.skew": "worst stage, max / median task time",
         "shuffle.peak_exec_mem_mb": "max over traced tasks",
         "shuffle.combine_ratio": "records written / tokens (wc_text) or records read",
         "trace_overhead_frac": "traced / untraced median pass - 1"}
PROBES = ("io.scan_s", "textpipeline.tokenize_s", "plans.")


def layer_report(res, per_layer):
    """The traced run's per-layer table: value, unit and basis of every
    per-layer metric, then the self time of each span kind."""
    lines = [f"per-layer report: {res['workload']} ({res['traced_passes']} traced passes)",
             f"{'layer':18} {'metric':32} {'value':>16} {'unit':6} basis"]
    for m in per_layer:
        name = m["name"]
        basis = BASES.get(name, "probe, median of 3" if name.startswith(PROBES)
                          else "per traced pass")
        lines.append(f"{MODULES[name.split('.')[0]]:18} {name:32} "
                     f"{res['layers'][name]:16.4f} {m['unit']:6} {basis}")
    lines.append("self time by span kind (s, all traced passes):")
    lines += [f"  {k:10} {v:10.4f}" for k, v in sorted(res["self_s"].items())]
    return "\n".join(lines) + "\n"


def spec():
    """BENCHMARK.json: the metric names and units this run must report."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"library source {need} not found in {ROOT}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    end_to_end, per_layer = spec()
    sys.path.insert(0, HERE)

    classpath = build()
    fixture_dir = ensure_fixture()
    corpus_path = warm_path = ""
    corpus_meta = None
    if a.workload == "wc_text":
        corpus_path, warm_path, corpus_meta = ensure_corpus(a.seed)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-trace{a.trace}")
    work = os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    threads = len(os.sched_getaffinity(0))
    cmd = ["java", *JDK17_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--threads", str(threads), "--fixture", fixture_dir,
           "--corpus", corpus_path, "--warm-corpus", warm_path,
           "--work", work, "--out", run_dir]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    env.pop("GRAFT_NO_LINEAGE_CUT", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=jvm_log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {jvm_log.name}")
    with open(os.path.join(run_dir, "jvm.log")) as f:
        sys.stderr.writelines(line for line in f if line.startswith("[perfbench]"))
    results_file = os.path.join(run_dir, "results.json")
    if code != 0 or not os.path.exists(results_file):
        die(f"benchmark JVM exited with {code}; log: {os.path.join(run_dir, 'jvm.log')}")
    with open(results_file) as f:
        res = json.load(f)

    import check
    failures = check.run_checks(res["checks"], os.path.join(work, "check"),
                                fixture_dir, corpus_meta)
    samples = [op for p in res["passes"] for op in p["ops"]]
    failures.update({f"{op['op']} (pass {op['pass']})": op["error"]
                     for op in samples if op["error"]})
    for name, why in sorted(failures.items()):
        log(f"FAILED {name}: {why}")
    attempted = len(samples) + len(res["checks"])
    failed = sum(1 for op in samples if op["error"]) + \
        sum(1 for c in res["checks"] if c["out"] in failures)
    ld = res["load"]
    log(f"load: loadavg {ld['loadavg_start']:.2f} -> {ld['loadavg_end']:.2f}, "
        f"cpu/wall {ld['cpu_wall_ratio']:.2f}, calibration loop "
        f"{ld['calibration_ms_start']:.0f} -> {ld['calibration_ms_end']:.0f} ms; "
        f"tail percentile p{res['query_tail_pct']}")
    res["failed_frac"] = failed / attempted
    res["failures"] = failures
    with open(results_file, "w") as f:
        json.dump(res, f)
    shutil.rmtree(work, ignore_errors=True)
    values = res["layers"] if a.trace else res["metrics"]
    wanted = per_layer if a.trace else end_to_end
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        die(f"metrics missing from the run: {missing}")
    if a.trace:
        report = layer_report(res, per_layer)
        with open(os.path.join(run_dir, "report.txt"), "w") as f:
            f.write(report)
        sys.stderr.write(report)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
