#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve|analytics> --seed <n>
                             --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <w> --steady <k> [--seed <first>]

Run from the root of a checkout. It builds the engine with the
benchmark's own sbt build (perfbench/build.sbt) when the sources changed
since the last build, generates the workload's inputs from the seed,
runs the workload in one JVM, checks the outputs, and prints one JSON
object as the last line of standard output. Everything it writes stays
under `.bench_build/` in the checkout; each run's scratch directory
(inputs, index directories, Spark local dirs and java.io.tmpdir) is
fresh and is deleted when the run ends.

`--steady k` runs the workload k times with seeds first..first+k-1 and
prints, for each end-to-end metric, the median, quartiles and the
quartile spread as a share of the median next to the metric's bound.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600

sys.path.insert(0, BENCH)
import gen  # noqa: E402
import checks  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala next to the benchmark; nothing to build")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile"], cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (rc={r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")


def jvm_cmd(main, args, tmp, heap="2g"):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dsun.net.httpserver.nodelay=true"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", main]
            + [str(a) for a in args])


def run_jvm(cmd, timeout):
    """Run a JVM in its own process group; on timeout kill the group and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"JVM timed out after {timeout}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_once(workload, seed, seconds, trace):
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    if workload not in names:
        fail(f"unknown workload {workload}; expected one of {names}")
    build()
    cpus = os.cpu_count() or 1
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work, tmp = (os.path.join(run_dir, d) for d in ("input", "work", "tmp"))
    for d in (inp, work, tmp):
        os.makedirs(d)
    try:
        t0 = time.time()
        gen.generate(seed, workload, inp, seconds)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        result_file = os.path.join(run_dir, "result.json")
        rc = run_jvm(jvm_cmd("graft.perfbench.Main",
                             [workload, inp, work, seconds, int(trace), cpus, result_file], tmp),
                     JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result_file):
            fail(f"workload JVM failed (rc={rc})")
        with open(result_file) as f:
            res = json.load(f)
        t0 = time.time()
        extra_failed, check_attempted = checks.run(workload, inp, res["checks"])
        log(f"outputs checked in {time.time() - t0:.1f}s")
        if trace:
            keep_trace(workload, seed, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = res["attempted"] + check_attempted
    failed = res["failed"] + extra_failed
    got = res["metrics"]
    got["fail_ratio"] = failed / attempted
    wanted = s["per_layer"] if trace else s["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            v = got[name]
        elif trace and not owned_by_other(name, workload):
            fail(f"workload {workload} did not report {name}")
        else:
            v = 0.0  # a layer this workload does not call
        metrics[name] = {"value": v, "unit": m["unit"]}
    if not trace:
        for name, v in metrics.items():
            if v["value"] <= 0:
                fail(f"end-to-end metric {name} measured {v['value']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


# Per-layer metrics that only one workload produces; any other workload
# reports them as 0 (the layer is not called there).
OWNED = {
    "analytics": {"dedup_s", "loops_s"},
    "serve": {"build_docs_per_s", "ann_build_s", "update_docs_per_s", "spark_search_p50_ms",
              "spark_search_p90_ms", "pipeline.Index.build.parts_over_build",
              "search_p50_ms", "search_p99_ms", "search_qps", "search_p99_update_ms",
              "serve.WarmIndex.search_ms", "serve.WarmIndex.search_filtered_ms",
              "serve.WarmIndex.searchHybrid_ms", "serve.WarmIndex.searchAnn_ms",
              "serve.WarmIndex.fingerprint_ms", "serve.WarmIndex.load_s",
              "embedding.HashEmbedder.embedWithTemplate_ms", "serve.SearchServer.http_overhead_ms",
              "serve.warm_share", "loadgen.late_ms"},
}
LOOP_SPANS = ["operators.Graph.pageRankWatched", "operators.Cluster.kmeansAssignWatched",
              "operators.Graph.kCore"]
OWNED["analytics"] |= {f"{s}.{k}" for s in LOOP_SPANS for k in ("rounds", "s_per_round")}


def owned_by_other(name, workload):
    return any(name in names for w, names in OWNED.items() if w != workload)


def keep_trace(workload, seed, work):
    src = os.path.join(work, "trace.jsonl")
    if not os.path.exists(src):
        return
    out_dir = os.path.join(BUILD, "traces")
    os.makedirs(out_dir, exist_ok=True)
    dst = os.path.join(out_dir, f"{workload}-seed{seed}.jsonl")
    shutil.copyfile(src, dst)
    spans = [json.loads(line) for line in open(dst)]
    by_name = {}
    for sp in spans:
        agg = by_name.setdefault(sp["name"], [0, 0.0, 0.0])
        agg[0] += 1
        agg[1] += sp["wall_s"]
        agg[2] += sp["self_s"]
    log(f"trace: {len(spans)} spans written to {os.path.relpath(dst, ROOT)}")
    log(f"{'span':58s} {'calls':>6s} {'wall_s':>9s} {'self_s':>9s}")
    for name, (n, wall, self_s) in sorted(by_name.items(), key=lambda kv: -kv[1][2]):
        log(f"{name:58s} {n:6d} {wall:9.3f} {self_s:9.3f}")


def steady(workload, first_seed, k, seconds):
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    values = {n: [] for n in bounds}
    for seed in range(first_seed, first_seed + k):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            fail(f"seed {seed}: rc={r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        log(f"seed {seed}: {time.time() - t0:.1f}s correct={res['correct']} "
            + " ".join(f"{n}={v['value']:.4g}" for n, v in res["metrics"].items()))
        for n in values:
            values[n].append(res["metrics"][n]["value"])
    print(f"{'metric':16s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for n, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread <= bounds[n] / 3 else "  > bound/3"
        print(f"{n:16s} {med:10.4f} {q1:10.4f} {q3:10.4f} {spread:7.3f} {bounds[n]:6.2f}{flag}")
    print(json.dumps({"workload": workload, "values": values}))


def main():
    # a SIGTERM unwinds through run_jvm's cleanup, which kills the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    seconds = a.seconds or spec()["run_seconds"]
    if a.steady:
        steady(a.workload, a.seed, a.steady, seconds)
        return
    print(json.dumps(run_once(a.workload, a.seed, seconds, bool(a.trace))))


if __name__ == "__main__":
    main()
