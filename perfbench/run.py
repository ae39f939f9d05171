#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (into
.bench_build/), runs the workload in its own JVM at local[<cores>], checks
the outputs, and prints one JSON object as the last stdout line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, from a traced JVM (for crawl_session it also repeats
the first measured wave at local[1], for the scaling diagnostic); the
tracing overhead is taken against the untraced runs made in this
checkout. Lines before the last one give every metric with quartiles and
sample count, the output checks, and each failed operation with its
cause. Run artifacts (logs, spans, fingerprints of earlier runs) go to
.bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BUILD = Path(".bench_build")
OUT = Path(".bench_out")
RUN_LIMIT_S = 175
# A run that builds may take up to 900 s in all: the build, then the
# workload (for a first traced run, also the untraced run it compares to).
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 600
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Layers each workload calls; a declared per-layer metric of any other
# layer is 0 on that workload (the layer did no work there).
LAYERS = {
    "crawl_session": {"CrawlEngine", "Scheduler", "SeenSet", "SnapshotTable",
                      "DedupeArticles", "PostProcess", "Trace"},
    "query_suite": {"queries", "Trace"},
}


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not jars.is_dir():
        fail(f"no Spark jars at {jars}")
    return jars


def source_stamp():
    h = hashlib.sha256()
    for root in ("src/main/scala", "perfbench/src"):
        for p in sorted(Path(root).rglob("*.scala")):
            h.update(str(p).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built():
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    if (BUILD / "classes").is_dir() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return False
    BUILD.mkdir(exist_ok=True)
    t0 = time.time()
    r = subprocess.run(["bash", "perfbench/build.sh", str(BUILD)],
                       stdout=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail("build failed")
    stamp_file.write_text(stamp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return True


def run_jvm(args, deadline):
    """One benchmark JVM; returns its report (the last stdout line)."""
    OUT.mkdir(exist_ok=True)
    tmp = OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    # A fixed heap and young generation keep peak RSS from depending on
    # the collector's resizing decisions. RSS counts only the heap pages a
    # run touches (the young generation and the old one up to the most
    # data promoted into it), and the heap is about twice what a run
    # touches, so a rise of peak RSS shows before an OutOfMemoryError.
    # Spark keeps generating code, so the JIT compiles all through a run;
    # two compiler threads (one per tier) instead of the JVM's three keep
    # compilation from taking the cores the measured work runs on, which
    # on a 4-core host made run-to-run times swing with the JIT's timing.
    cmd = ["java", "-Xms6g", "-Xmx6g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:CICompilerCount=2",
           "-XX:-UsePerfData", "-Xss8m",
           f"-Djava.io.tmpdir={tmp.resolve()}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BUILD / 'classes'}{os.pathsep}{spark_jars() / '*'}",
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--cores", str(args.cores),
            "--out", str(OUT)]
    log = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{args.workload} did not finish in time; log: {log}")
    print(f"JVM {' '.join(cmd[cmd.index('perfbench.Main') + 1:])}: "
          f"{time.time() - t0:.1f} s", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"JVM exited with {p.returncode} and no report; log: {log}")
    return json.loads(lines[-1])


def compare_fingerprints(workload, seed, reports):
    """Fingerprints must repeat for the same seed, across runs and core
    counts; earlier runs of the same sources in this checkout are kept in
    .bench_out."""
    path = OUT / "fingerprints.json"
    known = json.loads(path.read_text()) if path.exists() else {}
    mine = known.setdefault(source_stamp(), {}).setdefault(
        f"{workload} seed {seed}", {})
    checks = []
    for rep in reports:
        for name, fp in rep.get("fingerprints", {}).items():
            ok = mine.setdefault(name, fp) == fp
            checks.append({"name": f"{name} fingerprint repeats for seed {seed}",
                           "ok": ok, "detail": f"{fp} vs {mine[name]}"})
    path.write_text(json.dumps(known, indent=1, sort_keys=True))
    return checks


def untraced_history(workload, metrics=None):
    """End-to-end metrics of the untraced runs of these sources in this
    checkout; `metrics` appends one run."""
    path = OUT / "untraced.json"
    known = json.loads(path.read_text()) if path.exists() else {}
    runs = known.setdefault(source_stamp(), {}).setdefault(workload, [])
    if metrics is not None:
        runs.append({k: v["value"] for k, v in metrics.items()})
        path.write_text(json.dumps(known, indent=1, sort_keys=True))
    return runs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    start = time.time()
    deadline = start + RUN_LIMIT_S

    bench = Path("BENCHMARK.json")
    if not bench.is_file():
        fail("run from the repository root: no BENCHMARK.json here")
    spec = json.loads(bench.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not Path("src/main/scala").is_dir():
        fail("no program sources (src/main/scala) next to the benchmark")
    spark_jars()
    if ensure_built():
        deadline = start + FIRST_RUN_LIMIT_S

    args.cores = len(os.sched_getaffinity(0))
    reports = []
    if args.trace == 0:
        base = run_jvm(args, deadline)
        reports.append(base)
        if not base["failures"]:
            untraced_history(args.workload, base["metrics"])
        declared = spec["end_to_end"]
        values = base["metrics"]
    else:
        # Tracing overhead = what tracing costs on each end-to-end metric:
        # traced minus untraced value, or untraced minus traced for a
        # higher-is-better metric, so every overhead is lower-is-better.
        # The untraced side is the median of this checkout's untraced runs
        # of the same sources (one is run first if there are none).
        if not untraced_history(args.workload):
            base = run_jvm(argparse.Namespace(**{**vars(args), "trace": 0}),
                           deadline)
            reports.append(base)
            untraced_history(args.workload, base["metrics"])
        runs = untraced_history(args.workload)
        traced = run_jvm(args, deadline)
        reports.append(traced)
        layers = dict(traced["layers"])
        for m in spec["end_to_end"]:
            n = m["name"]
            base_vals = [r[n] for r in runs if n in r]
            if base_vals and n in traced["metrics"]:
                cost = traced["metrics"][n]["value"] - statistics.median(base_vals)
                layers[f"Trace.{n}.overhead"] = \
                    -cost if m["better"] == "higher" else cost
        declared = spec["per_layer"]
        values = {}
        for m in declared:
            n = m["name"]
            if n in layers:
                values[n] = {"value": layers[n], "unit": m["unit"]}
            elif n.split(".")[0] not in LAYERS[args.workload]:
                values[n] = {"value": 0.0, "unit": m["unit"]}

    fp_checks = compare_fingerprints(args.workload, args.seed, reports)
    checks = [c for r in reports for c in r["checks"]] + fp_checks
    failures = [f for r in reports for f in r["failures"]]
    failures += [{"op": "check " + c["name"], "class": "CheckFailed",
                  "message": c["detail"]} for c in fp_checks if not c["ok"]]
    missing = [m["name"] for m in declared if m["name"] not in values]
    for n in missing:
        failures.append({"op": "metric " + n, "class": "MissingMetric",
                         "message": "not produced by this run"})
    for m in declared:
        if m["name"] in values and values[m["name"]]["unit"] != m["unit"]:
            fail(f"unit of {m['name']} is {values[m['name']]['unit']}, "
                 f"BENCHMARK.json says {m['unit']}")

    for r in reports:
        print(json.dumps({"run": f"{r['workload']} cores={r['cores']}",
                          "detail": r["detail"], "metrics": r["metrics"]}))
    for c in checks:
        print(("ok   " if c["ok"] else "FAIL ") + c["name"] + ": " + c["detail"])
    for f in failures:
        print(f"failed: {f['op']}: {f['class']}: {f['message']}")
    correct = all(c["ok"] for c in checks) and not missing
    result = {
        "correct": correct,
        "attempted": sum(r["attempted"] for r in reports) + len(fp_checks)
        + len(missing),
        "failed": len(failures),
        "metrics": {m["name"]: values[m["name"]] for m in declared
                    if m["name"] in values},
    }
    print(f"failed_op_ratio: {result['failed']}/{result['attempted']} = "
          f"{result['failed'] / max(result['attempted'], 1):.4f}")
    print(json.dumps(result))
    for d in ("spark-local", "tmp"):
        shutil.rmtree(OUT / d, ignore_errors=True)
    sys.exit(0 if correct and not failures else 1)


if __name__ == "__main__":
    main()
