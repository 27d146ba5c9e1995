#!/usr/bin/env python3
"""Benchmark entry point: builds the library, generates seeded inputs, runs
one workload in its own JVM, checks every output and prints the metrics.

    python3 perfbench/run.py --workload panel --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it carries provenance, host load and the
per-operation detail. With ``--trace 0`` the metrics are the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics.

Everything the run writes lands under ``perfbench/target`` (the build) and
``perfbench/out/<workload>`` (inputs, results, report, spans).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

NPROC = len(os.sched_getaffinity(0))

# Input sizes per workload, chosen so that one run (three set-ups, an
# untimed pass and the timed window) stays under a minute on 4 cores. "sf"
# scales the warehouse tables as the library's fixtures do (lineitem =
# 6M x sf); the panel is assets x trading days. "pass_s" is the nominal time
# of one pass over the op list on 4 cores: the window is a fixed number of
# whole passes, --seconds / pass_s, because later passes run faster than
# earlier ones (the JIT is still compiling), so a window cut by a clock
# would hold one pass in one run and two in the next and jump between them.
WORKLOADS = {
    "panel": {"assets": 2000, "days": 126, "pass_s": 3.5},
    "queries_seq": {"sf": 0.01, "pass_s": 1.3},
}
SETUPS = 3
JVM_OPTS = ["-Xmx4g", "-XX:+UseParallelGC"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def sources() -> list:
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build() -> str:
    """Compiles the library and the harness with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; run from a checkout root")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BENCH, "target", "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars(), COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    if "-Xmx" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] += " -Xmx2g"
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {r.returncode}); see {os.path.relpath(log, ROOT)}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    with open(cp_file) as fh:
        return fh.read()


def op_medians(attempts: list) -> dict:
    """Median latency of each op over the given attempts."""
    by_op = {}
    for a in attempts:
        by_op.setdefault(a["op"], []).append(a["s"])
    return {op: statistics.median(xs) for op, xs in by_op.items()}


def latency_quantiles(attempts: list) -> tuple:
    """(p50, p90) of the latencies of the given attempts, interpolated
    between order statistics."""
    xs = sorted(a["s"] for a in attempts)
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    return statistics.median(xs), statistics.quantiles(xs, n=10, method="inclusive")[8]


def git_head() -> str:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                head = fh.read().strip()
        return head[:12]
    except OSError:
        return "unknown"


def declared() -> dict:
    """Metric names and units of BENCHMARK.json: {"end_to_end": {name: unit},
    "per_layer": {name: unit}}."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="comma list of deliberately broken ops to add: fail, wrong")
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    units = declared()["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    out = os.path.join(BENCH, "out", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    t0 = time.time()
    if args.workload == "panel":
        sizes = gen.panel(data, args.seed, w["assets"], w["days"])
    else:
        sizes = gen.warehouse(data, args.seed, w["sf"])
    gen_s = time.time() - t0

    # a traced run alternates untraced and traced passes, so it needs two
    passes = max(2 if args.trace else 1, round(args.seconds / w["pass_s"]))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", args.workload, data, out,
              str(passes), str(args.trace), str(NPROC), str(SETUPS),
              str(w.get("assets", 0)), args.inject or "-"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if r.returncode != 0:
        fail(f"benchmark JVM exited {r.returncode}; see {os.path.relpath(log.name, ROOT)}")
    with open(os.path.join(out, "report.json")) as fh:
        rep = json.load(fh)

    # registry results: the first warm-up output of each op against DuckDB
    ops = rep["ops"]
    verdict = {name: (o["verified"], o.get("error")) for name, o in ops.items()}
    checked = {n: o.get("oracle_sql") for n, o in ops.items() if o.get("oracle_sql") and o["verified"]}
    if checked:
        import oracle  # uses the repository's tools/check_oracle.py
        for name, err in oracle.check(data, os.path.join(out, "results"), checked).items():
            if err:
                verdict[name] = (False, err)

    def good(a):
        return a["ok"] and verdict[a["op"]][0]

    # the window holds whole passes over the op list: throughput is correct
    # attempts per second of the window, latency quantiles are over every
    # correct attempt in it
    untraced = [a for a in rep["attempts"] if not a["traced"]]
    traced = [a for a in rep["attempts"] if a["traced"]]
    scope = traced if args.trace else untraced
    oks = [a for a in untraced if good(a)]
    ok_frac = len(oks) / max(1, len(untraced))
    ops_per_s = len(oks) / rep["window_s"]["untraced"]
    p50, p90 = latency_quantiles(oks)
    failed_ops = {n: v[1] for n, v in verdict.items() if not v[0]}

    # the window's throughput and latency quantiles are per-layer metrics,
    # taken in a traced run from its untraced passes: on 4 shared cores
    # their run-to-run spread exceeds any regression bound (see README.md)
    window = {"ops_per_s": ops_per_s, "op_p50_s": p50, "op_p90_s": p90}
    if args.trace:
        t_oks = [a for a in traced if good(a)]
        medians = op_medians(t_oks)
        values = dict(rep["per_layer"], **window)
        # ops of the other workload read 0
        for name in rep["all_ops"]:
            values[f"op.{name}_s"] = medians.get(name, 0.0)
        values["trace.ops_per_s_delta"] = len(t_oks) / rep["window_s"]["traced"] - ops_per_s
    else:
        values = {
            "setup_s": statistics.median(rep["setup_s"]),
            "ok_frac": ok_frac,
            "cache_mb": rep["cache_mb"],
        }
    missing = sorted(set(units) - set(values))
    if missing:
        fail(f"metrics declared in BENCHMARK.json but not measured: {missing}")

    attempted = len(scope)
    failed = sum(1 for a in scope if not good(a))
    detail = {
        "provenance": {"git_head": git_head(), "nproc": NPROC, "seed": args.seed,
                       "workload": args.workload, "clients": 1,
                       "inputs": sizes, "input_gen_s": round(gen_s, 3)},
        "load": rep["load"],
        "jvm_in_window": rep["jvm_in_window"],
        "setup_s_each": rep["setup_s"],
        "window": window,
        "passes": passes,
        "samples": len(oks),
        "op_median_s": op_medians(oks),
        "window_s": rep["window_s"],
        "failed_ops": failed_ops,
        "failed_attempts": {a["op"]: a["error"] or verdict[a["op"]][1]
                            for a in scope if not good(a)},
    }
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0 and not failed_ops,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
