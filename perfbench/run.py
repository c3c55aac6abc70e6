#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark harness from source into ``.bench_build/`` and generates the
catalog tables there; later runs reuse both while the sources are
unchanged. Each run starts one JVM (Spark ``local[N]``, N = usable
CPUs), sets the workload up once, times its ops, checks their outputs,
and prints one JSON line of metrics as the last line of stdout.
With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. The exit code is 0 only when every
op ran and produced the expected output; a run with a failed op keeps
its work directory under ``.bench_build/runs/``.

``--record-expected`` re-runs every catalog query twice (two orders) and
rewrites ``expected/catalog.json``. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import gen_data  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = ["src/main/scala", os.path.relpath(os.path.join(HERE, "src"), ROOT)]
DEADLINE = float("inf")
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the repository's build.sbt declares."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def sources():
    files = []
    for d in SOURCES:
        files += sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile the program and the harness into .bench_build/classes.
    Returns the class directory, the jar directory and the source stamp."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("src/main/scala/graft is missing: run from the repository root")
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars, stamp
    log(f"compiling {len(files)} sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", j)]
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + args_file]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars, stamp


def catalog_tables(sf):
    """Generate the catalog tables once per checkout."""
    d = os.path.join(BUILD, "data", f"catalog_sf{sf}")
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    marker = os.path.join(d, ".stamp")
    if not (os.path.exists(marker) and open(marker).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.catalog(d, sf)
        with open(marker, "w") as f:
            f.write(stamp)
    return d


def probe_ms():
    """Fixed CPU work on one thread, timed: hashing 64 MiB in 64 KiB chunks."""
    block = b"\x5a" * 65536
    t = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(1024):
        h.update(block)
    return (time.perf_counter() - t) * 1000.0


def host_probe():
    return statistics.median(probe_ms() for _ in range(3))


def harness(classes, jars, cpus, args, work, timeout):
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                         "-cp", classes + ":" + os.path.join(jars, "*"),
                         "perfbench.Harness", f"cpus={cpus}", f"work={work}"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {timeout} s; log in {work}/harness.log", 5)
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}", 5)
    with open(args["out"]) as f:
        return benchlib.records(f)


def write_lines(path, items):
    with open(path, "w") as f:
        f.write("\n".join(str(x) for x in items) + "\n")


def history_key(opts, stamp):
    """What an untraced wall time must share with a traced run to give
    its overhead: workload, --seconds, the compiled sources and the
    workload definitions."""
    h = hashlib.sha256(stamp.encode())
    with open(os.path.join(HERE, "workloads.json"), "rb") as f:
        h.update(f.read())
    return {"workload": opts.workload, "seconds": opts.seconds, "stamp": h.hexdigest()}


def untraced_walls(key):
    """wall_s of the earlier untraced runs in this checkout under ``key``."""
    history = os.path.join(BUILD, "history.jsonl")
    if not os.path.exists(history):
        return []
    with open(history) as f:
        return [r["wall_s"] for r in map(json.loads, f)
                if all(r.get(k) == v for k, v in key.items())]


def run(opts):
    """Measure and print the result line. A traced run needs an
    untraced wall time of the same workload for its overhead; when this
    checkout has none yet, an untraced run of the same seed comes first."""
    global DEADLINE
    spec = benchlib.load_json("workloads.json")
    if opts.workload not in spec["workloads"]:
        fail(f"unknown workload {opts.workload}")
    classes, jars, stamp = build()
    catalog_tables(spec["catalog_sf"])
    key = history_key(opts, stamp)
    # the whole measurement, companion run included, ends within 170 s
    DEADLINE = time.monotonic() + 170.0
    if opts.trace and not untraced_walls(key):
        log("no untraced run of this code and workload yet: measuring one first")
        measure(opts, 0, spec, classes, jars, key)
    metrics, attempted, failed = measure(opts, opts.trace, spec, classes, jars, key)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def measure(opts, trace, spec, classes, jars, key):
    bench = benchlib.load_json("../BENCHMARK.json")
    w = spec["workloads"][opts.workload]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{opts.workload}-s{opts.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"workload": opts.workload, "seconds": opts.seconds, "trace": trace,
            "out": os.path.join(work, "records.jsonl"), "ops": os.path.join(work, "ops.txt")}
    if opts.workload in benchlib.CATALOG:
        plan = benchlib.catalog_plan(w["run_set"], opts.seed, w["passes"])
        write_lines(args["ops"], (f"{p}\t{q}" for p, q in plan))
        args["data"] = catalog_tables(spec["catalog_sf"])
    else:
        with open(os.path.join(HERE, "expected", "tickers.json")) as f:
            tickers = json.load(f)
        staged = os.path.join(work, "staged")
        gen_data.landing(staged, opts.seed, [t[0] for t in tickers],
                         w["history_days"] + w["days"], w["ticks_per_day"])
        write_lines(args["ops"], range(w["history_days"], w["history_days"] + w["days"]))
        args.update(data=staged, history=w["history_days"])
    probes = [host_probe()]
    rec = harness(classes, jars, cpus, args, work, max(30.0, DEADLINE - time.monotonic()))
    probes.append(host_probe())
    log(f"host probe before/after: {probes[0]:.2f} / {probes[1]:.2f} ms")

    offenders = benchlib.catalog_guard(rec["catalog"][0], spec)
    if offenders:
        fail("catalog partition guard: " + "; ".join(
            f"{k}: {', '.join(v)}" for k, v in offenders.items()), 3)

    ops = rec.get("op", [])
    if not benchlib.timed_ops(rec):
        fail("no timed op ran", 5)
    if opts.workload in benchlib.CATALOG:
        expected = benchlib.load_json("expected/catalog.json")
        bad = [(o["name"], benchlib.check_catalog_op(o, expected)) for o in ops]
        bad = [b for b in bad if b[1]]
        failed = len(bad)
    else:
        # a wrong store or snapshot is the work of every day that wrote it
        bad = [("pipeline", r) for r in benchlib.check_pipeline(rec, tickers)]
        failed = len(ops) if bad else 0
    for name, why in bad:
        log(f"FAILED {name}: {why}")

    values = benchlib.metrics(rec, trace, cpus, probes, untraced_walls(key))
    if not trace:
        with open(os.path.join(BUILD, "history.jsonl"), "a") as f:
            f.write(json.dumps(dict(key, seed=opts.seed, wall_s=values["wall_s"],
                                    probe_ms=probes)) + "\n")
    units = benchlib.declared(bench, trace)
    metrics = {k: {"value": v, "unit": units.get(k, "?")} for k, v in values.items()}
    problems = benchlib.undeclared(metrics, bench, trace)
    if problems:
        fail("metrics do not match BENCHMARK.json: " + "; ".join(problems), 4)
    run_rec = rec["run"][0]
    n = len(benchlib.measured_ops(rec))
    log(f"{opts.workload}: {run_rec['done']} timed ops in {run_rec['wall_s']:.2f} s, "
        f"{n} measured ({benchlib.samples_beyond(n, 90)} beyond p90), {failed} failed")
    if failed:
        log(f"work directory kept: {work}")
    else:
        shutil.rmtree(work, ignore_errors=True)
    return metrics, len(ops), failed


def record_expected(opts):
    """Run every catalog query in two orders; keep the hash where both agree."""
    spec = benchlib.load_json("workloads.json")
    classes, jars, _ = build()
    cpus = len(os.sched_getaffinity(0))
    members = [m[0] for w in benchlib.CATALOG for m in spec["workloads"][w]["members"]]
    results = []
    for seed in (1, 2):
        work = os.path.join(BUILD, "runs", f"record-{seed}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        order = list(members)
        random.Random(seed).shuffle(order)
        # one set-up pass over every query, no timed passes
        write_lines(os.path.join(work, "ops.txt"), (f"0\t{q}" for q in order))
        rec = harness(classes, jars, cpus, {
            "workload": "record", "seconds": 0, "trace": 0,
            "out": os.path.join(work, "records.jsonl"), "ops": os.path.join(work, "ops.txt"),
            "data": catalog_tables(spec["catalog_sf"])}, work, 3000)
        results.append({o["name"]: o for o in rec["op"]})
    out = {}
    for name in sorted(members):
        a, b = results[0][name], results[1][name]
        if a["error"] or b["error"] or a["rows"] != b["rows"]:
            fail(f"{name} is not repeatable: {a['error'] or b['error'] or 'row counts differ'}")
        out[name] = {"rows": a["rows"], "hash": a["hash"],
                     "check": "hash" if a["hash"] == b["hash"] else "rows"}
    with open(os.path.join(HERE, "expected", "catalog.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {len(out)} queries, "
        f"{sum(v['check'] == 'rows' for v in out.values())} checked by row count only")
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-expected", action="store_true")
    opts = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("src/main/scala/graft is missing: run from the repository root")
    if opts.record_expected:
        return record_expected(opts)
    if not opts.workload:
        fail("--workload is required")
    return run(opts)


if __name__ == "__main__":
    sys.exit(main())
