"""Per-layer metrics and the self-time report of a traced run.

The JVM records spans from the benchmark's own code (iteration, then
operator call/action or commit/read, then compaction and vacuum) and
Spark's jobs and stages through its own listeners. Here jobs join the
span tree under the innermost benchmark span that was open when they
started, stages under their job, and every figure is divided by the
number of traced iterations, so it reads "per iteration". A traced run
traces every other iteration.
"""
import stats

# the operator modules the workloads call
MODULES = ["EtlCleaning", "EtlMatching", "EtlEnrichment", "EtlTemplates", "Pipeline",
           "Dedup", "IndexMaintenance"]

# every per-layer metric, with its unit
UNITS = {f"operators.{m}.{k}": "s" for m in MODULES for k in ("call_s", "action_s")}
UNITS.update({
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.exchanges": "count", "plans.broadcasts": "count",
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.job_s": "s", "driver.gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_ratio": "ratio",
    "exec.serial_stage_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "ckpt.count": "count", "ckpt.bytes": "bytes",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "sources.artifact_build_s": "s", "sources.artifact_bytes": "bytes",
    "sinks.compact_s": "s", "sinks.vacuum_s": "s", "sinks.read_at_s": "s",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count", "sinks.versions": "count",
    "sinks.write_amp": "ratio", "sinks.space_amp": "ratio",
    "trace.overhead_ratio": "ratio",
})

# span kinds that count as an operator's call and as its action
CALL_KINDS = {"call", "commit"}
ACTION_KINDS = {"action", "read_at"}


def span_tree(trace):
    """Benchmark spans plus Spark jobs and stages as one list of spans
    (dicts with id, parent, kind, name, module, start, end), in ms.
    """
    spans = [dict(s) for s in trace["spans"]]
    nxt = max([s["id"] for s in spans], default=0) + 1
    bench = sorted(spans, key=lambda s: (s["start"], -s["end"]))
    stage_job = {}
    for j in trace["jobs"]:
        if j["end"] < 0:
            continue
        # innermost benchmark span open at the job's start: the latest
        # starting one that contains it (the client is one thread)
        parent = 0
        for s in bench:
            # job times are whole milliseconds: allow one ms of slack
            if s["start"] - 1 <= j["start"] <= s["end"]:
                parent = s["id"]
        jid = nxt
        nxt += 1
        spans.append({"id": jid, "parent": parent, "kind": "job", "name": f"job{j['id']}",
                      "module": "", "start": float(j["start"]), "end": float(j["end"])})
        for st in j["stages"]:
            stage_job.setdefault(st, jid)
    for st in trace["stages"]:
        if st["id"] in stage_job and st["done"] >= st["submit"] > 0:
            spans.append({"id": nxt, "parent": stage_job[st["id"]], "kind": "stage",
                          "name": f"stage{st['id']}.{st['attempt']}", "module": "",
                          "start": float(st["submit"]), "end": float(st["done"])})
            nxt += 1
    return spans


def self_time_report(spans):
    """Self seconds by span kind and by operator module, and how much of
    the iterations' wall time the self times account for.
    """
    st = stats.self_times(spans)
    by_kind, by_module = {}, {}
    for s in spans:
        v = st[s["id"]] / 1e3
        by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + v
        if s["module"]:
            by_module[s["module"]] = by_module.get(s["module"], 0.0) + v
    # self time of each iteration's whole subtree against its wall time
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        return st[s["id"]] + sum(subtree(k) for k in kids.get(s["id"], []))

    iters = [s for s in spans if s["kind"] == "iteration"]
    wall = sum(s["end"] - s["start"] for s in iters)
    accounted = sum(subtree(s) for s in iters)
    return {"self_s_by_kind": by_kind, "self_s_by_module": by_module,
            "iteration_wall_s": wall / 1e3, "iteration_self_sum_s": accounted / 1e3,
            "accounted_ratio": accounted / wall if wall else None}


def per_layer(rec):
    """Every per-layer metric of a traced run, per traced iteration."""
    tr = rec["trace"]
    f = rec["figures"]
    s = rec["samples"]
    spans = span_tree(tr)
    iters = [x for x in spans if x["kind"] == "iteration"]
    n = max(1, len(iters))
    cores = rec["cores"]
    iv = [(x["start"], x["end"]) for x in iters]
    # the listeners are attached only around traced iterations, so every
    # recorded event belongs to one
    jobs = [x for x in spans if x["kind"] == "job"]
    stages = [x for x in tr["stages"] if x["submit"] > 0]
    queries = tr["queries"]
    job_ms = stats.union_length(
        [c for a, b in iv for c in stats.clipped([(j["start"], j["end"]) for j in jobs], a, b)])
    wall_ms = sum(b - a for a, b in iv)
    m = {}
    for mod in MODULES:
        for key, kinds in (("call_s", CALL_KINDS), ("action_s", ACTION_KINDS)):
            m[f"operators.{mod}.{key}"] = sum(
                (x["end"] - x["start"]) / 1e3 for x in spans
                if x["kind"] in kinds and x["module"] == mod) / n
    for key in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"plans.{key}"] = sum(q[key] for q in queries) / n
    m["plans.exchanges"] = sum(q["exchanges"] for q in queries) / n
    m["plans.broadcasts"] = sum(q["broadcasts"] for q in queries) / n
    m["driver.jobs"] = len(jobs) / n
    m["driver.stages"] = len(stages) / n
    m["driver.tasks"] = sum(x["tasks"] for x in stages) / n
    m["driver.job_s"] = job_ms / 1e3 / n
    m["driver.gap_s"] = (wall_ms - job_ms) / 1e3 / n
    run_s = sum(x["run_ms"] for x in stages) / 1e3
    m["exec.run_s"] = run_s / n
    m["exec.cpu_s"] = sum(x["cpu_ns"] for x in stages) / 1e9 / n
    m["exec.gc_s"] = sum(x["gc_ms"] for x in stages) / 1e3 / n
    m["exec.busy_ratio"] = run_s / (job_ms / 1e3 * cores) if job_ms else 0.0
    m["exec.serial_stage_s"] = sum(
        (x["done"] - x["submit"]) / 1e3 for x in stages if x["tasks"] == 1) / n
    m["shuffle.write_bytes"] = sum(x["shuffle_write"] for x in stages) / n
    m["shuffle.read_bytes"] = sum(x["shuffle_read"] for x in stages) / n
    m["shuffle.fetch_wait_s"] = sum(x["fetch_wait_ms"] for x in stages) / 1e3 / n
    m["shuffle.spill_bytes"] = sum(x["spill"] for x in stages) / n
    m["ckpt.count"] = tr["ckpt_count"] / n
    m["ckpt.bytes"] = tr["ckpt_bytes"] / n
    m["sources.input_bytes"] = sum(x["input_bytes"] for x in stages) / n
    m["sources.input_rows"] = sum(x["input_rows"] for x in stages) / n
    m["sources.artifact_build_s"] = artifact_build_s(rec)
    m["sources.artifact_bytes"] = f.get("artifact_bytes", 0.0)
    span_s = lambda kind: sum((x["end"] - x["start"]) / 1e3 for x in spans if x["kind"] == kind)
    m["sinks.compact_s"] = span_s("compact") / n
    m["sinks.vacuum_s"] = span_s("vacuum") / n
    m["sinks.read_at_s"] = stats.median(s["travel"]) if s.get("travel") else 0.0
    commits = f.get("commits", 0.0)
    m["sinks.bytes_written"] = f.get("bytes_written", 0.0) / commits if commits else 0.0
    m["sinks.files_written"] = f.get("files_written", 0.0) / commits if commits else 0.0
    m["sinks.versions"] = f.get("versions", 0.0)
    m["sinks.write_amp"] = (f["bytes_written"] / f["delta_bytes"]
                            if f.get("delta_bytes") else 0.0)
    m["sinks.space_amp"] = (f["disk_bytes"] / f["live_bytes"] if f.get("live_bytes") else 0.0)
    m["trace.overhead_ratio"] = tracing_overhead(s)
    return m, spans


def tracing_overhead(samples):
    """Traced over untraced latency of the same operations, less one: the
    geometric mean over every operation series timed both traced and
    untraced (a traced run alternates the two).
    """
    ratios = []
    for k, xs in samples.items():
        if not (k.startswith("op.") or k.startswith("commit.")):
            continue
        traced = samples.get(f"traced.{k}", [])
        untraced = list(xs)
        for v in traced:
            untraced.remove(v)
        if traced and untraced:
            ratios.append(stats.median(traced) / stats.median(untraced))
    return stats.geomean(ratios) - 1.0 if ratios else 0.0


def artifact_build_s(rec):
    """Artifact build time of the served operators: their first call in
    setup (which builds the artifact) in excess of their steady median.
    """
    total = 0.0
    for k, v in rec["figures"].items():
        name = k[len("setup_op."):] if k.startswith("setup_op.") else None
        if name and ("_served" in name or "_indexed" in name):
            steady = rec["samples"].get(f"op.{name}")
            if steady:
                total += max(0.0, v - stats.median(steady))
    return total
