#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/WORKLOADS.md):
  copilot_ask     open loop of NL asks (Engine.ask) over an sf0.1 fixture and
                  the reference schemas
  corpus_dup10x   closed loop over declared queries (Engine.run, builder
                  frames) on a 10x duplicate-heavy replica

The first run in a checkout compiles the engine and the benchmark from
source (the Scala compiler in the Spark jar directory build.sbt names) into
the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`). Inputs are generated from the
seed into the same directory. The last line of stdout is one JSON object:
with --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. The exit code is non-zero when any output
check fails.

    python3 perfbench/run.py --workload copilot_ask --seed <n> --seconds 60 --capacity

measures the copilot's single-worker capacity instead (one closed-loop
worker, no open loop), from which its arrival rate was set.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import gen  # noqa: E402
import oracle  # noqa: E402

HEAP = "3g"
LIMIT_MS = 1900.0
DEADLINE_S = 170.0
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """The Spark jar directory the sbt build compiles against (`unmanagedBase`
    in build.sbt); it also ships the Scala compiler."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        sys.exit("perfbench: no unmanagedBase in build.sbt; run from the repository root")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler jar under {jars}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        sys.exit("perfbench: no engine sources under src/main/scala; run from the repository root")
    return main + bench


def build(root, build_dir, jars):
    """Compiles engine + benchmark once per source tree; returns the classes dir."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                    "-classpath", os.path.join(jars, "*")] + srcs, check=True,
                   stdout=sys.stderr)
    os.rename(tmp, classes)
    os.sync()
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def fixture(build_dir, workload, seed):
    """Generated input tables for this workload and seed, cached by both.

    The copilot's tables use one fixed generator seed: its answers are
    graded against gold once per build, and its seed sets only request
    order and arrival times."""
    name = {"copilot_ask": "sf0.1", "corpus_dup10x": "dup10x"}[workload]
    if workload == "copilot_ask":
        seed = 0
    root = os.path.join(build_dir, "fixtures")
    path = os.path.join(root, f"{name}-seed{seed}")
    if os.path.isdir(path):
        return path, 0.0
    os.makedirs(root, exist_ok=True)
    # keep the cache bounded: the oldest fixtures go first
    old = sorted(glob.glob(os.path.join(root, "*-seed*")), key=os.path.getmtime)
    for p in old[:-24]:
        shutil.rmtree(p, ignore_errors=True)
    t0 = time.time()
    tables = gen.generate(seed, "sf0.1") if name == "sf0.1" else gen.replicate(gen.generate(seed, "sf0.01"), 10)
    shutil.rmtree(path + ".tmp", ignore_errors=True)
    gen.write(tables, path)
    return path, time.time() - t0


def percentile(sorted_vals, p):
    """Nearest-rank percentile."""
    k = max(0, min(len(sorted_vals) - 1, int(round(p / 100.0 * len(sorted_vals) + 0.5)) - 1))
    return sorted_vals[k]


def declared(root):
    """Workloads and metric units as BENCHMARK.json declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([w["name"] for w in b["workloads"]],
            {m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main():
    root = os.getcwd()
    workloads, end_to_end, per_layer = declared(root)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capacity", action="store_true",
                    help="copilot_ask only: measure single-worker capacity")
    args = ap.parse_args()
    if args.capacity and (args.workload != "copilot_ask" or args.trace):
        ap.error("--capacity needs --workload copilot_ask --trace 0")
    jars = spark_jars(root)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)
    t_start = time.time()  # the build is not held to the per-run deadline
    fx, gen_s = fixture(build_dir, args.workload, args.seed)
    out = os.path.join(build_dir, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    cache = os.path.join(build_dir, "asks", os.path.basename(classes))

    def jvm(log_name, *extra):
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            # C1 only, not the tiered C1+C2 JIT that sbt runs use: with C2
            # the same request's service time varied by up to 1.5x between
            # fresh JVMs (profile-driven compilation differs per run), and
            # the ask median spread by a quarter between seeds even after a
            # 30 s warm-up. Without tiers the code cache defaults to 48 MB,
            # which the quality pass fills.
            f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={out}", f"-Dspark.local.dir={out}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Main", "--workload", args.workload, "--fixture", fx,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--cache", cache] + list(extra)
        with open(os.path.join(out, log_name), "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=out)
            try:
                rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("perfbench: the JVM did not finish in time")
        if rc != 0:
            sys.exit(f"perfbench: the JVM exited with {rc}; see {out}/{log_name}")

    # The copilot's quality pass runs in its own process when its cache is
    # missing, so every measured process starts from the same warm-up.
    grade_s = 0.0
    if args.workload == "copilot_ask" and not (
            os.path.exists(os.path.join(cache, "external.bin"))
            and os.path.exists(os.path.join(cache, "sf.bin"))):
        t0 = time.time()
        jvm("grade.log", "--grade", "1", "--setups", "1")
        os.sync()
        grade_s = time.time() - t0
    jvm("jvm.log", *(["--capacity", "1"] if args.capacity else []))
    with open(os.path.join(out, "jvm.json")) as f:
        j = json.load(f)

    failures = list(j["failures"])
    samples = j["samples"]
    wrong = set()
    oracle_s = 0.0
    if "checked" in j:
        t0 = time.time()
        orc = oracle.Oracle(fx, fx + "-oracle")
        for name in j["checked"]:
            why = orc.check(name, j["oracle"][name], os.path.join(out, "results", name))
            if why:
                failures.append(why)
                wrong.add(name)
        for s in samples:
            s["ok"] = s["ok"] and s["name"] not in wrong
        oracle_s = time.time() - t0

    attempted = len(samples)
    failed = max(sum(1 for s in samples if not s["ok"]), 1 if failures else 0)
    correct = not failures
    asks = [s for s in samples if not s["probe"]]
    good = [s for s in asks if s["ok"] and s["answered"]]
    lat = sorted(s["latency_ms"] for s in good)

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "fixture_gen_s": round(gen_s, 3), "grade_s": round(grade_s, 3),
              "oracle_s": round(oracle_s, 3),
              "setup_cold_s": j["setup_s"][0], "setup_runs_s": j["setup_s"], "timed_s": j["timed_s"], "attempted": attempted,
              "failed": failed}
    for k in ("answer_f1", "external_scored_f1", "external_exec_rate", "pilot_f1",
              "probes_denied", "probes", "requests", "capacity_per_s", "warmup_s"):
        if k in j:
            detail[k] = j[k]
    if j.get("generator_late_ms"):
        late = sorted(j["generator_late_ms"])
        detail["generator_late_p50_ms"] = statistics.median(late)
        detail["generator_late_max_ms"] = late[-1]

    if args.trace == 0:
        if not lat:
            failures.append("no successful operation")
            correct = False
            lat = [0.0]
        checked = j.get("checked", [])
        # closed loop: successful operations per second of the window. Open
        # loop: the window follows the arrival rate, so throughput is
        # successful requests per second of service time (one worker's
        # capacity at the offered load).
        service_ms = [s["service_ms"] for s in samples if "service_ms" in s]
        n_ok = sum(1 for s in samples if s["ok"])
        ops = n_ok / (sum(service_ms) / 1000.0) if service_ms else len(good) / j["timed_s"]
        values = {
            "setup_s": statistics.median(j["setup_s"]),
            "p50_ms": statistics.median(lat),
            "ops_per_s": ops,
            "within_limit_frac": sum(1 for s in good if s["latency_ms"] <= LIMIT_MS) / max(1, len(asks)),
            # batch workloads: a query's rows either match the oracle (1) or not (0)
            "answer_f1": j["answer_f1"] if "answer_f1" in j
            else sum(1 for n in checked if n not in wrong) / max(1, len(checked)),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}
        counts = {"setup_s": len(j["setup_s"]), "p50_ms": len(lat),
                  "ops_per_s": n_ok if service_ms else len(good),
                  "within_limit_frac": len(asks), "answer_f1": j.get("questions", len(checked))}
        # at most 20 asks or 12 queries per run: no percentile above the
        # median has ten samples beyond it, so the tail is shown, not gated
        detail["p90_ms"] = percentile(lat, 90)
        detail["max_ms"] = lat[-1]
    else:
        metrics = {k: {"value": j["layers"][k], "unit": u} for k, u in per_layer.items()}
        detail["spans_file"] = os.path.relpath(os.path.join(out, "spans.json"), root)

    detail["peak_rss_mb"] = j["peak_rss_mb"]
    for k, v in detail.items():
        print(f"{k}: {v}")
    for f in failures[:20]:
        print(f"FAILED {f}")
    if args.trace == 0:
        for k, u in end_to_end.items():
            print(f"{k} = {metrics[k]['value']:.4f} {u} (n={counts.get(k, 1)})")
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
