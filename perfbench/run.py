#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source state, under
.bench_build/), runs one workload in a fresh JVM, checks its outputs and
prints, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. A human-readable
summary goes to stderr. Scratch data lives under .bench_work/ and is removed
when the run ends; the raw samples and any trace are kept in
.bench_work/results/.
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
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
LAUNCHER = os.path.join(BUILD, "perfbench", "launcher.txt")
STAMP = os.path.join(BUILD, "source.sha256")
JVM_TIMEOUT_S = 170
# a --queries profile of all 46 queries takes about four minutes
PROFILE_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 850
# a fixed heap: no resizing between runs, backed by transparent huge pages
# (granted on request by the kernel): about 9% more ingest throughput on the
# VM described in README.md
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+UseTransparentHugePages"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cpu_ticks():
    """Host-wide CPU ticks by state from /proc/stat (None off Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of the host's CPU time the hypervisor gave to other guests."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else None


def source_digest():
    """Hash of everything the build reads from the checkout."""
    files = []
    for pattern in ("build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
                    "perfbench/build.sbt", "perfbench/project/*.properties",
                    "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; returns (classpath, jvm options)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("[perfbench] no engine sources next to the benchmark; nothing to build")
    digest = source_digest()
    fresh = os.path.isfile(LAUNCHER) and os.path.isfile(STAMP) and \
        open(STAMP).read().strip() == digest
    if not fresh:
        sbt = shutil.which("sbt")
        if sbt is None:
            raise SystemExit("[perfbench] sbt not found on PATH")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
        os.makedirs(BUILD, exist_ok=True)
        log("building engine and harness (sbt)")
        t0 = time.time()
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "perfbench/writeLauncher"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0 or not os.path.isfile(LAUNCHER):
            raise SystemExit("[perfbench] build failed (see .bench_build/build.log)")
        with open(STAMP, "w") as f:
            f.write(digest + "\n")
        log("built in %.0f s" % (time.time() - t0))
    lines = open(LAUNCHER).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def run_jvm(cp, opts, args, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    # no perf-data file and no Spark scratch outside the checkout
    cmd = [java] + HEAP + ["-XX:+UseG1GC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + opts + \
        ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", work, "--out", out] + (["--queries", args.queries] if args.queries else [])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("[perfbench] stopped by signal %d" % signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=PROFILE_TIMEOUT_S if args.queries else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def evaluate(raw, pinned_counts):
    """End-to-end and per-layer values, extra facts to print, and the list
    of failed checks."""
    problems = ["%s: %s" % (k, v["detail"]) for k, v in raw.get("checks", {}).items()
                if not v["ok"]]
    w = raw["workload"]
    ops = list(raw.get("ops_ms", []))
    layers = dict(raw.get("layers", {}))
    info = {}

    admitted = {}
    for name, st in raw.get("streams", {}).items():
        admitted[name] = stats.source_log(st["checkpoint"])
        problems += ["%s: %s" % (name, p) for p in stats.check_batches(
            admitted[name], [tuple(x) for x in st["released"]], st["events_per_file"],
            [(c["batch_ids"], c["rows"]) for c in st["committed"]])]
    if "generated" in raw and "trickle" in admitted:
        gen = raw["generated"]
        fresh = stats.freshness_ms(gen, raw["sink_calls"], admitted["trickle"])
        t, pct, n = stats.tail(fresh)
        layers.update({"freshness.p50_ms": stats.median(fresh), "freshness.tail_ms": t,
                       "freshness.tail_pct": pct, "freshness.samples": n,
                       "source.generator_late_ms_max": stats.generator_late_ms(gen),
                       "source.backlog_files_max": stats.files_per_batch_max(
                           admitted["trickle"], {g[0] for g in gen})})
        info["freshness"] = "p50 %.1f ms, p%.1f %.1f ms of %d files" % (
            layers["freshness.p50_ms"], pct, t, n)
    if "stream_detections" in raw:
        mm = stats.mismatch(raw["stream_detections"], raw["oracle_detections"])
        info["cep_oracle_mismatch"] = "%d rows (%d streamed detections, %d from Cep.detectBatch)" % (
            mm, len(raw["stream_detections"]), len(raw["oracle_detections"]))
        layers["cep.oracle_mismatch"] = mm
    if w == "batch_queries":
        counts = raw.get("counts", {})
        ran = raw.get("order", [])
        bad = sorted(q for q in ran if counts.get(q) != pinned_counts.get(q))
        if bad:
            problems.append("row counts differ from perfbench/expected_counts.json: " +
                            ", ".join("%s=%s (want %s)" % (q, counts.get(q), pinned_counts.get(q))
                                      for q in bad))
        info["counts"] = "%d of %d queries match the pinned row counts" % (
            len(ran) - len(bad), len(ran))
        info["groups_s"] = {g: round(v, 3) for g, v in
                            stats.group_sums(raw.get("query_s", {}), raw.get("groups", {})).items()}

    e2e = {}
    if ops and raw.get("window_s") and raw.get("warmup_s") is not None:
        t, pct, n = stats.tail(ops)
        setup = [raw[k] for k in ("jvm_start_s", "session_start_s", "staging_s", "warmup_s")]
        e2e = {
            "setup_s": sum(setup),
            "throughput_per_s": raw["work_items"] / raw["window_s"],
            # a micro-batch's time; the typical query's time
            "latency_ms": stats.geomean(ops) if w == "batch_queries" else stats.median(ops),
            "heap_live_mb": max(raw["heap_live_mb"]),
        }
        info["setup"] = "JVM start %.2f s, cold session start %.2f s, staging %.2f s, warm-up %.2f s" \
            % tuple(setup)
        info["latency"] = "p50 %.1f ms, p%.1f %.1f ms of %d samples" % (stats.median(ops), pct, t, n)
        info["work"] = "%d %s in %.2f s" % (raw["work_items"], raw.get("unit", ""), raw["window_s"])
    elif not problems:
        problems.append("no measured operations")
    if raw.get("trace"):
        layers["trace.spans"] = raw.get("spans", 0)
        if raw.get("trace_file"):
            with open(raw["trace_file"]) as f:
                by_name = stats.self_time_by_name(json.load(f))
            info["self_time_ms"] = ", ".join("%s %.0f" % kv for kv in
                                             sorted(by_name.items(), key=lambda kv: -kv[1]))
        if e2e and raw.get("traced_rate"):
            layers["trace.overhead_pct"] = stats.overhead_pct(e2e["throughput_per_s"],
                                                              raw["traced_rate"])
            info["trace_overhead"] = "%.1f%%: untraced %.4g /s, then traced %.4g /s in this run" % (
                layers["trace.overhead_pct"], e2e["throughput_per_s"], raw["traced_rate"])
        else:
            problems.append("tracing overhead not measured")
    return e2e, layers, problems, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="batch_queries only: 'all' or a comma list instead of "
                    "the benchmark's ten (for profiling; not a benchmark run)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit("[perfbench] unknown workload " + args.workload)
    with open(os.path.join(HERE, "expected_counts.json")) as f:
        pinned = json.load(f)

    cp, opts = build()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(WORK, "run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    raw_path = os.path.join(results, tag + ".raw.json")
    try:
        t0 = time.time()
        ticks = cpu_ticks()
        rc = run_jvm(cp, opts, args, work, raw_path + ".tmp")
        steal = steal_pct(ticks, cpu_ticks())
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(results, tag + ".jvm.log"))
        if rc is None:
            raise SystemExit("[perfbench] JVM exceeded its time limit")
        if rc != 0 or not os.path.isfile(raw_path + ".tmp"):
            raise SystemExit("[perfbench] JVM exited with %s and no result (see %s)"
                             % (rc, os.path.join(results, tag + ".jvm.log")))
        os.replace(raw_path + ".tmp", raw_path)
        with open(raw_path) as f:
            raw = json.load(f)
        e2e, layers, problems, info = evaluate(raw, pinned)
        if raw.get("trace_file"):
            shutil.copy(raw["trace_file"], os.path.join(results, tag + ".trace.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        chosen = [(m["name"], m["unit"], layers.get(m["name"], 0.0)) for m in spec["per_layer"]]
    else:
        chosen = [(m["name"], m["unit"], e2e.get(m["name"])) for m in spec["end_to_end"]]
    missing = [n for n, _, v in chosen if v is None]
    if missing:
        problems.append("not measured: " + ", ".join(missing))
    metrics = {n: {"value": float(v) if v is not None else 0.0, "unit": u} for n, u, v in chosen}

    hb, ha = raw.get("host_before", {}), raw.get("host_after", {})
    log("host: nproc=%s heap_max=%.0fMB java=%s spark=%s load %.2f -> %.2f, cpu steal %s; "
        "widths local[%s], local[1]"
        % (hb.get("nproc"), hb.get("heap_max_mb", 0), hb.get("java"), hb.get("spark"),
           hb.get("load_avg_1m", -1), ha.get("load_avg_1m", -1),
           "n/a" if steal is None else "%.1f%%" % steal, hb.get("nproc")))
    for k, v in info.items():
        log("%s: %s" % (k, v))
    for n, u, v in chosen:
        log("%-34s %14.4f %s" % (n, metrics[n]["value"], u))
    for p in problems:
        log("CHECK FAILED: " + p)
    log("run took %.1f s" % (time.time() - t0))
    correct = not problems and raw.get("failed", 1) == 0
    print(json.dumps({"correct": correct, "attempted": max(1, int(raw.get("attempted", 0))),
                      "failed": int(raw.get("failed", 0)), "metrics": metrics}))


if __name__ == "__main__":
    main()
