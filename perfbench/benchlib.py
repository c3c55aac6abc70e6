"""Pure logic of the benchmark: op selection, percentiles, the catalog
partition guard, metric computation from the harness records, output
checks, and the check that printed metrics match BENCHMARK.json.

Nothing here starts a process or touches Spark, so the tests in
``tests/`` exercise it directly.
"""
import json
import os
import random
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
MODULES = ["Relational", "Snapshots", "TimeSeries", "TextAnalysis", "TextRetrieval",
           "TextScoring", "CorpusHealth", "Dedup", "Similarity", "Multimodal",
           "Analytics", "Scale", "Sketches", "Bpe", "StatsStore", "Quality"]
CATALOG = ("catalog_exec", "catalog_build")


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def percentile(values, q):
    """Percentile ``q`` (0..100) by linear interpolation between closest
    ranks: rank = q/100 * (n - 1) over the sorted values."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of ``n`` samples lie above the ``q`` percentile."""
    return n - 1 - int((n - 1) * q / 100.0)


def partition_offenders(all_queries, excluded, exec_set, build_set):
    """Names that break ``exec ∪ build == all - excluded`` (or the
    disjointness of the two sets), as a dict of problem -> sorted names."""
    bench = set(all_queries) - set(excluded)
    ex, bu = set(exec_set), set(build_set)
    problems = {
        "missing from both workloads": sorted(bench - ex - bu),
        "not a bench query": sorted((ex | bu) - bench),
        "in both workloads": sorted(ex & bu),
    }
    return {k: v for k, v in problems.items() if v}


def catalog_guard(catalog, spec):
    """partition_offenders for the catalog the program reports, plus any
    run-set query outside its workload's members, and any operator module
    that no run set measures or that has no ``module.<name>.s`` metric."""
    members = {wl: [m[0] for m in spec["workloads"][wl]["members"]] for wl in CATALOG}
    out = partition_offenders(catalog["queries"], catalog["excluded"],
                              members["catalog_exec"], members["catalog_build"])
    for wl in CATALOG:
        stray = set(spec["workloads"][wl]["run_set"]) - set(members[wl])
        if stray:
            out[f"{wl} run_set outside its members"] = sorted(stray)
    module = dict(catalog["modules"])
    bench = set(members["catalog_exec"]) | set(members["catalog_build"])
    timed = {module.get(q) for wl in CATALOG for q in spec["workloads"][wl]["run_set"]}
    problems = {
        "modules no run set measures": sorted(set(MODULES) - timed),
        "modules without a metric": sorted({module.get(q, "?") for q in bench} - set(MODULES)),
    }
    out.update((k, v) for k, v in problems.items() if v)
    return out


def catalog_plan(run_set, seed, passes):
    """(pass, query) pairs: pass 0 is the set-up pass, passes 1..``passes``
    the timed ones; each pass is a seeded permutation of ``run_set``."""
    rng = random.Random(seed)
    plan = []
    for p in range(passes + 1):
        order = list(run_set)
        rng.shuffle(order)
        plan += [(p, q) for q in order]
    return plan


def records(lines):
    out = {}
    for line in lines:
        line = line.strip()
        if line:
            r = json.loads(line)
            out.setdefault(r["kind"], []).append(r)
    return out


def check_catalog_op(op, expected):
    """'' when the op ran and its output matches, else the reason."""
    if op["error"]:
        return op["error"]
    exp = expected.get(op["name"])
    if exp is None:
        return "no expected output recorded"
    if op["rows"] != exp["rows"]:
        return f"rows {op['rows']} != expected {exp['rows']}"
    if exp["check"] == "hash" and op["hash"] != exp["hash"]:
        return f"hash {op['hash']} != expected {exp['hash']}"
    return ""


def check_pipeline(rec, expected_tickers):
    """Reasons the pipeline's final state is wrong (empty when right)."""
    bad = [f"set-up --full-run returned {x['rc']}" for x in rec["setup"] if x["rc"] != 0]
    bad += [f"{op['name']}: rc={op['rc']} {op['error']}".strip()
            for op in rec.get("op", []) if op["rc"] != 0 or op["error"]]
    for c in rec.get("pipeline_check", []):
        if c["stored_rows"] != c["stored_distinct"]:
            bad.append(f"store holds {c['stored_rows'] - c['stored_distinct']} duplicate ids")
        if (c["stored_distinct"], c["stored_hash"]) != (c["landed_ids"], c["landed_hash"]):
            bad.append(f"store ids ({c['stored_distinct']}, {c['stored_hash']}) != landed "
                       f"non-null-ts ids ({c['landed_ids']}, {c['landed_hash']})")
        if c["tickers"] != expected_tickers:
            bad.append("latest ticker snapshot differs from expected/tickers.json")
    if not rec.get("pipeline_check"):
        bad.append("no pipeline check record")
    return bad


def _sum(rows, key):
    return float(sum(r[key] for r in rows))


def timed_ops(rec):
    """Ops of the timed phase: catalog passes 1.., every pipeline day."""
    return [o for o in rec["op"] if o.get("pass", 1) > 0]


def measured_ops(rec):
    """The timed ops the metrics use. For the catalog these are the
    complete passes over the run set, so every query weighs the same
    whatever the seed; the pass the time cap cut is only checked."""
    ops = timed_ops(rec)
    size = rec["run"][0].get("set_size")
    if not size:
        return ops
    count = {}
    for o in ops:
        count[o["pass"]] = count.get(o["pass"], 0) + 1
    whole = [o for o in ops if count[o["pass"]] == size]
    return whole or ops


def end_to_end(rec):
    run = rec["run"][0]
    setup = rec["setup"][0]
    ops = measured_ops(rec)
    times = [o["total_s"] for o in ops]
    if "full_run_s" in setup:
        setup_s = setup["session_s"] + setup["full_run_s"]
        # a run cut by the time cap scales its time up to the planned days
        wall = run["wall_s"] * run["planned"] / max(run["done"], 1)
    else:
        setup_s = setup["session_s"] + setup["build_s"] + setup["warmup_s"]
        # one pass over the run set; before a pass completes, the timed
        # phase scaled up to a pass
        passes = len(ops) / run["set_size"]
        wall = (sum(times) / passes if len(ops) % run["set_size"] == 0
                else run["wall_s"] * run["set_size"] / max(run["done"], 1))
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "op_p50_s": percentile(times, 50),
        "op_p90_s": percentile(times, 90),
    }


def per_layer(rec, cpus):
    """Layer metrics of the timed phase, per pass over the catalog op set
    or per pipeline day."""
    ops = measured_ops(rec)
    ids = {str(o["i"]) for o in ops}
    layers = [x for x in rec.get("layer", []) if x["op"] in ids]
    setup = rec["setup"][0]
    catalog = "warmup_s" in setup
    run = rec["run"][0]
    per = len(ops) / run["set_size"] if catalog else len(ops)
    m = {}

    def acc(layer, key):
        return float(sum(x[key] for x in layers if x["layer"] == layer)) / per

    if catalog:
        construct, plan = _sum(ops, "construct_s") / per, _sum(ops, "plan_s") / per
        execs = _sum(ops, "exec_s") / per
        exec_layers = ["exec"]
    else:
        # the pipeline's stages build, plan and run their jobs in one call;
        # the whole stage time is execution
        construct = plan = 0.0
        execs = sum(o["daily_update_s"] + o["sync_s"] + o["update_info_s"] for o in ops) / per
        exec_layers = ["daily_update", "sync", "update_info"]

    def ex(key):
        return sum(acc(layer, key) for layer in exec_layers)

    total = construct + plan + execs
    m["construct.s"] = construct
    m["construct.jobs"] = acc("construct", "jobs")
    m["construct.share"] = construct / total if total else 0.0
    m["plan.s"] = plan
    m["plan.exchanges"] = sum(o.get("exchanges", 0) for o in ops) / per
    m["plan.broadcasts"] = sum(o.get("broadcasts", 0) for o in ops) / per
    m["exec.s"] = execs
    m["exec.jobs"] = ex("jobs")
    m["exec.stages"] = ex("stages")
    m["exec.tasks"] = ex("tasks")
    m["exec.busy_ratio"] = ex("task_ms") / 1000.0 / (execs * cpus) if execs else 0.0
    skew_w = ex("skew_weight_ms")
    m["exec.task_skew"] = (sum(x["skew"] * x["skew_weight_ms"] for x in layers
                               if x["layer"] in exec_layers) / per / skew_w) if skew_w else 0.0
    m["exec.shuffle_write_mb"] = ex("shuffle_write") / 2**20
    m["exec.shuffle_read_mb"] = ex("shuffle_read") / 2**20
    m["exec.gc_s"] = ex("gc_ms") / 1000.0
    m["exec.input_mb"] = ex("input") / 2**20
    m["exec.output_mb"] = ex("output") / 2**20
    for mod in MODULES:
        m[f"module.{mod}.s"] = sum(o["total_s"] for o in ops if o["module"] == mod) / per
    # peak storage memory depends on when broadcasts are cleaned, which
    # varies by more than a tenth between runs: a layer figure, not an
    # end-to-end one
    m["storage_peak_mb"] = run["storage_peak_mb"]
    m["caches.pinned_at_build_end"] = sum(o.get("pinned", 0) for o in ops) / per
    m["caches.persistent_rdds"] = sum(o.get("persistent_rdds", 0) for o in ops) / per
    m["setup.session_s"] = setup["session_s"]
    m["setup.warmup_s"] = setup["warmup_s"] if catalog else 0.0
    m["setup.store_build_s"] = setup["build_s"] if catalog else 0.0
    check = (rec.get("pipeline_check") or [None])[0]
    # growth of the append stage alone: whole-day latency also carries the
    # sync days and the JVM's warm-up
    days = [o["daily_update_s"] for o in ops] if not catalog else []
    decile = max(1, len(days) // 10)
    m["pipeline.daily_update_s"] = _sum(ops, "daily_update_s") / per if not catalog else 0.0
    m["pipeline.sync_s"] = _sum(ops, "sync_s") / per if not catalog else 0.0
    m["pipeline.update_info_s"] = _sum(ops, "update_info_s") / per if not catalog else 0.0
    m["pipeline.download_historical_s"] = (
        setup["download_historical_s"] if not catalog else 0.0)
    m["pipeline.store_files"] = float(check["store_files"]) if check else 0.0
    m["pipeline.store_bytes_per_input_byte"] = (
        check["store_bytes"] / check["landing_bytes"] if check else 0.0)
    m["pipeline.stored_per_landed_ratio"] = (
        check["stored_distinct"] / check["landed_rows"] if check else 0.0)
    m["pipeline.daily_growth"] = (
        statistics.mean(days[-decile:]) / statistics.mean(days[:decile]) if days else 0.0)
    return m


def declared(bench, trace):
    """{metric name: unit} the run must print for ``--trace`` ``trace``."""
    group = bench["per_layer"] if trace else bench["end_to_end"]
    return {x["name"]: x["unit"] for x in group}


def undeclared(metrics, bench, trace):
    """Problems with a printed metrics dict against BENCHMARK.json."""
    want = declared(bench, trace)
    out = [f"{k} is not declared" for k in metrics if k not in want]
    out += [f"{k} is declared but not printed" for k in want if k not in metrics]
    out += [f"{k} unit {v['unit']} != declared {want[k]}"
            for k, v in metrics.items() if k in want and v["unit"] != want[k]]
    out += [f"{k} value {v['value']!r} is not a number"
            for k, v in metrics.items()
            if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]]
    return out


def metrics(rec, trace, cpus, probes, untraced_walls):
    """The values a run prints: end-to-end ones untraced, per-layer ones
    traced. ``probes`` are the host probe times around the run and
    ``untraced_walls`` earlier untraced wall_s values of the workload,
    from which the tracing overhead is taken."""
    e2e = end_to_end(rec)
    if not trace:
        return e2e
    m = per_layer(rec, cpus)
    m["host.probe_ms"] = statistics.median(probes)
    m["trace.wall_s"] = e2e["wall_s"]
    m["trace.overhead_s"] = (
        e2e["wall_s"] - statistics.median(untraced_walls) if untraced_walls else 0.0)
    return m

