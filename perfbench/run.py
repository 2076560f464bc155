#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_onboard --seed 42 --seconds 15 --trace 0

Builds the harness together with the graft sources (sbt, offline) when
they changed, generates the seed's inputs, runs the workload in one JVM,
checks every output, and prints as the last line of standard output one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
All run state lives in a per-run directory under ``perfbench/.runs``
that is deleted afterwards; a traced run leaves its span file and
self-time report in ``perfbench/results``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("catalog_onboard", "index_maintain")
PREP_REPS = 3
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "peak_heap_mb": "MB"}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles harness and graft sources when they changed; returns the
    runtime classpath.
    """
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building harness and graft sources")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "printClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   timeout=BUILD_TIMEOUT_S, check=True)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    with open(cp_file) as fh:
        return fh.read().strip()


def prepare_inputs(run_dir, seed):
    """Generates the inputs PREP_REPS times; returns the data dir and the
    median preparation time.
    """
    times = []
    for i in range(PREP_REPS):
        d = os.path.join(run_dir, f"data{i}")
        t0 = time.monotonic()
        inputs.generate(os.path.join(HERE, "data"), d, seed)
        times.append(time.monotonic() - t0)
        if i < PREP_REPS - 1:
            shutil.rmtree(d)
    return os.path.join(run_dir, f"data{PREP_REPS - 1}"), stats.median(times)


def run_jvm(cp, args, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main"] + [str(a) for a in args]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except BaseException as e:  # a timeout, or this process being stopped
        proc.kill()
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise RuntimeError(f"workload JVM exceeded {JVM_TIMEOUT_S} s") from e
        raise
    if code != 0:
        raise RuntimeError(f"workload JVM exited with {code}")
    with open(os.path.join(run_dir, "record.json")) as fh:
        return json.load(fh)


def rounds(xs, k):
    """Sums of consecutive complete groups of ``k`` samples."""
    return [sum(xs[i:i + k]) for i in range(0, len(xs) - k + 1, k)]


def end_to_end(rec, spawn_s, prep_s):
    """Every end-to-end metric the run has samples for: name -> (value,
    sample count).
    """
    s = rec["samples"]
    if rec["workload"] == "index_maintain":
        kinds = [k for k in s if k.startswith("commit.")]
        # one pass is one round over the families: a commit and a
        # time-travel read each, then one served probe
        passes = rounds(s.get("iter", []), len(kinds)) if kinds else []
    else:
        kinds = [k for k in s if k.startswith("op.")]
        passes = s.get("pass", [])
    setup = prep_s + (rec["loop_start_ms"] / 1e3 - spawn_s)
    out = {"setup_s": (setup, 1), "peak_heap_mb": (max(rec["heap_mb"]), len(rec["heap_mb"]))}
    if passes:
        out["pass_s"] = (stats.median(passes), len(passes))
    if kinds:
        # operation kinds differ in cost, so a median pooled over kinds
        # would jump with the kind mix; the geometric mean of per-kind
        # medians weighs every kind the same
        out["op_p50_s"] = (stats.geomean([stats.median(s[k]) for k in kinds]),
                           sum(len(s[k]) for k in kinds))
    return out


def tails(rec):
    """The tail of every latency series by the "highest percentile with
    at least ten samples beyond it" rule: series -> (percentile, value,
    samples), None for a series too short to have one.
    """
    out = {}
    for k, xs in rec["samples"].items():
        if not k.startswith("traced.") and k != "iter":
            t = stats.tail(xs)
            out[k] = (t[0], t[1], len(xs)) if t else None
    return out


def main(argv=None):
    # stopping the benchmark stops its JVM too (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log("graft sources not found next to perfbench/; run from a full checkout")
        return 2
    cp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.monotonic()
        data_dir, prep_s = prepare_inputs(run_dir, a.seed)
        t1 = time.monotonic()
        spawn_s = time.time()
        rec = run_jvm(cp, [a.workload, a.seed, a.seconds, a.trace, data_dir, run_dir, cores],
                      run_dir)
        t2 = time.monotonic()
        oracle = check.oracle_checks(data_dir, rec["outputs"], rec["oracle_sql"])
        log(f"phases: inputs {t1 - t0:.1f} s, workload JVM {t2 - t1:.1f} s (session "
            f"{rec['setup']['session_s']:.1f} s, setup {rec['setup']['work_s']:.1f} s, loop "
            f"{(rec['loop_end_ms'] - rec['loop_start_ms']) / 1e3:.1f} s, checks "
            f"{rec['finish_s']:.1f} s), oracle checks {time.monotonic() - t2:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = {k: tuple(v) for k, v in oracle.items()}
    checks.update({k: (v["ok"], v["detail"]) for k, v in rec["checks"].items()})
    bad = [k for k, (ok, _) in checks.items() if not ok]
    for k in bad:
        log(f"check failed: {k}: {checks[k][1]}")
    for e in rec["errors"]:
        log(f"operation failed: {e}")
    attempted = rec["attempted"] + len(oracle)
    failed = rec["failed"] + len([k for k in bad if k in oracle])
    for k, xs in rec["samples"].items():
        first = rec["figures"].get("setup_op." + k[3:]) if k.startswith("op.") else None
        log(f"series {k}: median {stats.median(xs):.3f} s over {len(xs)}"
            + (f", first call in setup {first:.3f} s" if first else "")
            + (f": {' '.join(f'{x:.3f}' for x in xs)}" if k in ("iter", "commit") else ""))
    e2e = end_to_end(rec, spawn_s, prep_s)
    prov = dict(rec["provenance"], seed=a.seed, workload=a.workload)
    log("provenance " + json.dumps(prov))
    log(f"fail_ratio {stats.fail_ratio(attempted, failed)} ({failed}/{attempted})")
    for k, (v, n) in e2e.items():
        log(f"{k} {v:.6g} {END_TO_END_UNITS[k]} n={n}")
    for k, t in tails(rec).items():
        log(f"tail {k}: " + (f"p{t[0]:g} = {t[1]:.4f} s of {t[2]}" if t else
                             "none (fewer than 20 samples)"))

    if a.trace:
        pl, spans = layers.per_layer(rec)
        metrics = {k: {"value": pl[k], "unit": u} for k, u in layers.UNITS.items()}
        res_dir = os.path.join(HERE, "results")
        os.makedirs(res_dir, exist_ok=True)
        stem = os.path.join(res_dir, f"{a.workload}-seed{a.seed}")
        report = dict(layers.self_time_report(spans), provenance=prov,
                      per_layer=pl, end_to_end={k: v[0] for k, v in e2e.items()})
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
        with open(stem + "-report.json", "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        log(f"trace overhead {pl['trace.overhead_ratio']:+.3f}, self times account for "
            f"{report['accounted_ratio']} of iteration wall; report at {stem}-report.json")
    else:
        missing = [k for k in END_TO_END_UNITS if k not in e2e]
        if missing:
            log(f"no samples for {missing}")
            return 1
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
