#!/usr/bin/env python3
"""Closed-loop, result-checked workload benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --all            # every workload, one table
    python3 perfbench/run.py --self-test      # the harness's own tests

A run compiles the repository's sources and the harness (cached under
.bench_build/ by a hash of the sources), starts one JVM for the workload,
and prints a table on stderr and one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.

Workload definitions, session settings and the layer map live in
perfbench/workloads.json; expected answers in perfbench/expected.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
HEAP_PASSES = 3  # passes in the window of the slowest run measured (a third of usual speed)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- statistics ---------------------------------------------------------

def rank(n, p):
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[rank(len(xs), p) - 1]


def beyond(n, p):
    """Samples above the nearest-rank p-th percentile of n."""
    return n - rank(n, p)


TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)


def tail_percentile(n, min_beyond=10):
    """The highest percentile of the ladder that leaves at least
    `min_beyond` samples beyond it, or None when even the median does not."""
    ok = [p for p in TAIL_LADDER if beyond(n, p) >= min_beyond]
    return ok[-1] if ok else None


# ---- build --------------------------------------------------------------

def spark_jars(root):
    """The Spark/Scala jar directory the repository builds against: the
    Spark installation, or the build's declared unmanaged jar base."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                cands.append(line.split('file("', 1)[1].split('"', 1)[0])
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BenchError("no Spark jar directory with a Scala compiler found")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise BenchError("no program sources under src/main/scala "
                         "(run from the repository root)")
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"),
                               recursive=True))
    return prog + harness


def build(root, jars):
    """Compile program + harness once per source hash; return classes dir."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    for old in glob.glob(os.path.join(root, BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, out)
    log(f"[perfbench] compiled {len(files)} files in {time.time() - t0:.1f} s")
    return out


# ---- one workload run ---------------------------------------------------

def java_cmd(classes, jars, run_dir, args):
    """The harness JVM, with the default tiered JIT, the --add-opens list
    of graft.Bench and a java.io.tmpdir private to the run.

    The heap starts at half its maximum with a fixed young generation: with
    G1 left to size the heap from its small default start, five dashboard
    runs on 4 vCPUs spread 0.17 in qps and latency, against 0.09 with these
    flags (and qps rose by a quarter)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx3g", "-Xms1536m", "-Xmn768m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-cp", f"{classes}:{os.path.join(jars, '*')}", "graftbench.Harness"]
            + args)


def program_dirs(app_id):
    """Directories the program writes under fixed /tmp roots for one
    application (write-once layouts, staged pages)."""
    return glob.glob(os.path.join("/tmp", "graft_*", app_id))


def launch(root, classes, jars, run_dir, args):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    logf = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(java_cmd(classes, jars, run_dir, args), cwd=root,
                            stdout=logf, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except BaseException as e:  # timeout, or this process being stopped
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise BenchError(f"harness did not finish within {RUN_TIMEOUT_S} s")
        raise
    finally:
        logf.close()
    res = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(res):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise BenchError(f"harness exited {proc.returncode}:\n{tail}")
    with open(res) as f:
        return json.load(f)


def run_workload(root, spec, name, seed, seconds, trace, dump=None, inspect=None):
    """Build, run one workload in a fresh JVM and clean up after it.

    Returns (result, spans). `dump` makes the harness write every result
    and the keys' oracle SQL there; `inspect(result)` runs before the
    program's per-application directories are removed."""
    wl = spec["workloads"][name]
    jars = spark_jars(root)
    classes = build(root, jars)
    run_dir = os.path.join(root, BUILD, "runs", f"{name}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    args = ["--keys", ",".join(wl["keys"]), "--clients", str(wl["clients"]),
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--fixtures", os.path.join(HERE, spec["fixtures"]),
            "--expected", os.path.join(HERE, "expected.json"),
            "--out", run_dir, "--release", wl["release"], "--cores", str(cores)]
    if dump:
        args += ["--dump", dump]
    try:
        res = launch(root, classes, jars, run_dir, args)
        if inspect:
            inspect(res)
        spans = []
        if trace:
            with open(os.path.join(run_dir, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            last = os.path.join(root, BUILD, "last")
            os.makedirs(last, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(last, f"{name}-spans.jsonl"))
        return res, spans
    finally:
        id_file = os.path.join(run_dir, "app_id")
        if os.path.exists(id_file):
            for d in program_dirs(open(id_file).read().strip()):
                shutil.rmtree(d, ignore_errors=True)
                try:
                    os.rmdir(os.path.dirname(d))  # only when no other run uses it
                except OSError:
                    pass
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(res):
    """name -> (value, unit, sample count), from the untraced timed passes."""
    timed = [s for s in res["samples"] if s["pass"] >= 0 and not s["traced"]]
    good = [s["latency_s"] for s in timed if s["ok"]]
    if not good:
        raise BenchError("no query in the timed window returned a correct result")
    window = sum(p["wall_s"] for p in res["passes"] if not p["traced"])
    n = len(good)
    by_key = {}
    for s in timed:
        if s["ok"]:
            by_key.setdefault(s["key"], []).append(s["latency_s"])
    return {
        "setup_s": (res["setup_s"], "s", 1),
        "qps": (n / window, "1/s", len(timed)),
        # each key's median, then their geometric mean: the median over all
        # samples jumps between keys whose latencies differ several-fold
        "latency_p50_s": (statistics.geometric_mean(
            [statistics.median(v) for v in by_key.values()]), "s", n),
        # the median over the first HEAP_PASSES passes: live heap grows by
        # 1-2 MB per pass, so a reading over all passes would rise with host
        # speed; and in about one pipeline run in four a single pass ended
        # with ~32 MB more live heap than every other, so not the max
        "heap_live_mb": (statistics.median(res["heap_mb"][:HEAP_PASSES]), "MB",
                         len(res["heap_mb"][:HEAP_PASSES])),
    }


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def self_test(root):
    """The harness's own tests: Python arithmetic, then the Scala checks
    of result normalisation and call-site attribution."""
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
        return 1
    jars = spark_jars(root)
    classes = build(root, jars)
    out = os.path.join(root, BUILD, "selftest")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = f"{classes}:{os.path.join(jars, '*')}"
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                    "-nowarn", "-d", out, "-classpath", cp,
                    os.path.join(HERE, "tests", "SelfTest.scala")], check=True)
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{out}:{cp}",
                           "graftbench.SelfTest"]).returncode


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        if a.self_test:
            return self_test(root)
        with open(os.path.join(HERE, "workloads.json")) as f:
            spec = json.load(f)
        names = list(spec["workloads"]) if a.all else [a.workload]
        if any(n not in spec["workloads"] for n in names):
            raise BenchError(f"--workload must be one of {list(spec['workloads'])}")
        seconds = a.seconds
        if seconds is None:
            with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
                seconds = json.load(f)["run_seconds"]
        for name in names:
            res, spans = run_workload(root, spec, name, a.seed, seconds, a.trace)
            print(json.dumps(report(name, res, spans, a.trace)), flush=True)
    except (BenchError, OSError, subprocess.CalledProcessError) as e:
        log(f"[perfbench] error: {e}")
        return 2
    return 0


def report(name, res, spans, trace):
    """Print the run's table on stderr; return the result object."""
    samples = res["samples"]
    failed = sum(1 for s in samples if not s["ok"])
    timed = [s for s in samples if s["pass"] >= 0]
    metrics = layers.per_layer(res, spans) if trace else end_to_end(res)
    log(f"[perfbench] {name}: setup {res['setup_s']:.2f} s (session {res['session_s']:.2f} s; "
        f"the warm pass's result checks, {res['warm_check_s']:.2f} s, not counted), "
        f"{len(res['passes'])} passes, window {res['window_s']:.2f} s, "
        f"{len(samples)} queries ({len(timed)} timed), {failed} failed")
    log(f"  session: {res['session']}")
    check_s = sum(p["check_s"] for p in res["passes"])
    log(f"  window: wall {res['window_s']:.2f} s, JVM {res['window_jvm']}; "
        f"result checks after the passes took {check_s:.2f} s "
        f"({check_s / res['window_s']:.1%} of the window, not counted in it)")
    log(f"  codegen compiles per pass: {[p['codegen_compiles'] for p in res['passes']]}")
    log(f"  JIT CPU s per pass: {[round(p['jit_s'], 1) for p in res['passes']]}")
    log(f"  live heap MB per pass: {[round(h, 1) for h in res['heap_mb']]}")
    for k, (v, unit, n) in metrics.items():
        log(f"  {name:10} {k:30} {v:14.6f} {unit:12} n={n}")
    log(f"  {name:10} {'failed_ratio':30} {failed / len(samples):14.6f} "
        f"{'fraction':12} n={len(samples)}")
    if trace:
        for mod, sec in sorted(layers.module_self_times(spans).items()):
            log(f"  {name:10} self time {mod:28} {sec:10.3f} s")
    else:
        good = [s["latency_s"] for s in timed if s["ok"]]
        tp = tail_percentile(len(good))
        if tp:
            log(f"  {name:10} {f'all_queries.latency_p{tp}_s':30} {percentile(good, tp):14.6f} "
                f"{'s':12} n={len(good)} (highest percentile with >=10 samples beyond it)")
        else:
            log(f"  {name:10} fewer than 20 timed samples: no percentile has 10 beyond it")
    per_key = {}
    for s in samples:
        per_key.setdefault(s["key"], []).append(s)
    for k, ss in sorted(per_key.items()):
        cold = [s["latency_s"] for s in ss if s["pass"] < 0]
        warm = [s["latency_s"] for s in ss if s["pass"] >= 0]
        compiles = sum(s["compiles"] for s in ss if s["pass"] >= 0)
        log(f"  {name:10} key {k:34} cold {cold[0] if cold else float('nan'):7.3f} s  "
            f"median {statistics.median(warm) if warm else float('nan'):7.3f} s  "
            f"n={len(warm)}  compiles {compiles}")
    for k, v in sorted(res["mismatches"].items()):
        log(f"  WRONG {k}: {v}")
    return {"correct": failed == 0 and not res["mismatches"],
            "attempted": len(samples), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}


def stop(signum, frame):
    """Turn SIGTERM into an exception, so the JVM is stopped and the run's
    directories are removed on the way out."""
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, stop)
    sys.exit(main())
