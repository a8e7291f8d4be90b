#!/usr/bin/env python3
"""Benchmark runner: build, make inputs, run one workload, print metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark from source (cached under
.bench_build/ by a hash of the sources), makes the fixed dataset
(gen_data.py, cached the same way), gives the run a fresh work dir with its
own java.io.tmpdir and store root, launches the benchmark JVM, removes the
work dir, and prints every metric with its unit; the last line of stdout
is the JSON result. With --trace 1 it also runs the workload traced and
reports the traced run's per-layer metrics, the span file it wrote and the
tracing overhead: traced run_s minus the untraced run_s of the same build,
workload, seed and seconds, taken from the untraced run an earlier
invocation recorded under .bench_build/results/, else from one it makes
first.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("rag_serve", "ingest_refresh", "analytics_mix")
# All benchmark JVMs of one invocation (two for --trace 1 without a
# recorded untraced run)
# must end within this many seconds after the build.
RUN_BUDGET_S = 170


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx1g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Source stamp and classpath of the compiled engine + benchmark,
    building if needed."""
    stamp = tree_hash([os.path.join(ROOT, "src", "main"),
                       os.path.join(BENCH, "src", "main"),
                       os.path.join(BENCH, "build.sbt"),
                       os.path.join(BENCH, "project", "build.properties")])
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return stamp, fh.read().strip()
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), capture_output=True, text=True, timeout=850)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = res.stdout.strip().splitlines()[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return stamp, cp


def dataset():
    """The fixed dataset dir, generated once per generator version."""
    d = os.path.join(BUILD, "data", tree_hash([os.path.join(BENCH, "gen_data.py")]))
    if not os.path.isdir(d):
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), d],
                       check=True, timeout=120)
    return d


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(4, n or 1))


def run_jvm(cp, args, traced, deadline, spans=None):
    """One benchmark JVM in a fresh work dir; returns its result dict."""
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if traced else "0",
            "--cores", str(cores()), "--work", work,
            "--data", os.path.join(dataset(), "serve" if args.workload == "rag_serve" else "analytics"),
            "--reference", os.path.join(BENCH, "reference", "analytics.tsv")]
    if spans:
        cmd += ["--spans", spans]
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{int(traced)}.log")
    try:
        with open(log_path, "w") as err:
            res = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                 text=True, timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: benchmark JVM timed out; log: {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def show(title, rows):
    print(f"== {title}")
    for name, value, unit in rows:
        print(f"  {name:<36} {value:>16.6g} {unit}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found "
                         "next to perfbench/; run from a full checkout")
    stamp, cp = build()
    deadline = time.time() + RUN_BUDGET_S
    recorded = os.path.join(BUILD, "results",
                            f"{stamp}-{args.workload}-seed{args.seed}-s{args.seconds}.json")
    if args.trace == 1 and os.path.exists(recorded):
        with open(recorded) as fh:
            plain = json.load(fh)
    else:
        plain = run_jvm(cp, args, traced=False, deadline=deadline)
        os.makedirs(os.path.dirname(recorded), exist_ok=True)
        with open(recorded + ".tmp", "w") as fh:
            json.dump(plain, fh)
        os.replace(recorded + ".tmp", recorded)
    ctx = plain["context"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"cores={ctx['cores']} nproc={ctx['nproc']} "
          f"load1 {ctx['load1_pre']:.2f}->{ctx['load1_post']:.2f}")
    rows = [(k, v["value"], v["unit"]) for k, v in plain["metrics"].items()]
    rows.append(("fail_frac", ctx["fail_frac"], "ratio"))
    show("end-to-end", rows)
    print(f"  ops={ctx['ops']} ops_failed={ctx['ops_failed']}")
    for f in plain["failed_ops"]:
        print(f"  FAILED {f}")
    result = {"correct": plain["correct"], "attempted": plain["attempted"],
              "failed": plain["failed"]}
    if args.trace == 0:
        result["metrics"] = declared("end_to_end", plain["metrics"])
    else:
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        spans = os.path.join(BUILD, "spans", f"{args.workload}-seed{args.seed}.json")
        traced = run_jvm(cp, args, traced=True, deadline=deadline, spans=spans)
        layers = dict(traced["layers"])
        layers["trace.run_s"] = traced["metrics"]["run_s"]["value"]
        layers["trace.overhead_s"] = layers["trace.run_s"] - plain["metrics"]["run_s"]["value"]
        show("per-layer (traced run; self seconds, counts)",
             [(k, v, "") for k, v in sorted(layers.items())])
        print(f"  spans: {os.path.relpath(spans, ROOT)}")
        for f in traced["failed_ops"]:
            print(f"  FAILED (traced) {f}")
        result = {"correct": plain["correct"] and traced["correct"],
                  "attempted": plain["attempted"] + traced["attempted"],
                  "failed": plain["failed"] + traced["failed"],
                  "metrics": declared("per_layer", {
                      k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()})}
    print(json.dumps(result))


def declared(kind, metrics):
    """The metrics BENCHMARK.json declares under `kind`, in its order; a
    declared metric the run did not produce is an error."""
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return metrics
    with open(spec) as fh:
        names = [m["name"] for m in json.load(fh)[kind]]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise SystemExit(f"perfbench: no value for {missing}")
    return {n: metrics[n] for n in names}


def layer_unit(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_b") or name == "store.bytes_written":
        return "B"
    if name.endswith("_frac") or name in ("store.write_amp",
                                          "retrieve.rows_examined_per_result"):
        return "ratio"
    if name.startswith("box.load1"):
        return "load"
    return "count"


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so a running JVM is killed and
    # waited for and its work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
