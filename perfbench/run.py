#!/usr/bin/env python3
"""Benchmark of the 1C log pump and the analytics surface.

    python3 perfbench/run.py --workload backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline) into `.bench_build/`; later runs reuse that
build while the sources are unchanged. Inputs are generated from `--seed`
under `.bench_work/`, which each run removes when it ends.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md
for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import techlog_gen  # noqa: E402

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# The heap grows only as far as the data the program keeps alive needs, so
# peak RSS follows retained memory: with a fixed 256 MB young generation,
# the serial collector enlarges the old generation only when what survives
# no longer fits, and then in small steps (10% of it free after a full
# collection), so that RSS does not jump between step sizes run to run.
HEAP_FLAGS = ["-XX:+UseSerialGC", "-Xmn256m", "-Xms512m", "-Xmx4g", "-XX:MinHeapFreeRatio=10"]
BUILD_TIMEOUT_S = 700
JVM_TIMEOUT_S = 160

PHASES = (("trigger", "triggerExecution"), ("latest_offset", "latestOffset"),
          ("query_planning", "queryPlanning"), ("add_batch", "addBatch"),
          ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets"),
          ("state_commit", None))
DROP_REASONS = ("short_filename", "bad_hour", "no_time_match", "bad_time")
TAIL_RATE = 100          # records per second, all process dirs together
TAIL_CAP_MS = 60000.0    # latency reported for a lost or wrong record


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt and java fork children) and wait for it. Returns the exit code,
    or "timeout"."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a checkout of the program (build.sbt and src/main are missing)")
    os.makedirs(BUILD, exist_ok=True)
    # the stamp of the sources last compiled, and the classpath; the class
    # directories are shared, so only the last build's classpath is valid
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            built, cp = fh.read().split("\n", 1)
        if built == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                        "export perfbench/Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    with open(log) as fh:
        out = fh.read().splitlines()
    cps = [l for l in out if "sbt-target" in l and os.pathsep in l and " " not in l]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{cps[-1]}")
    return cps[-1]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def mount_of(path):
    """The mount point and filesystem type holding `path`."""
    path = os.path.realpath(path)
    best = ("?", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return f"{best[0]} ({best[1]})"


def jvm_flags(work):
    return ([f for p in JDK_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + HEAP_FLAGS + ["-XX:ReservedCodeCacheSize=1g",
               f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={work}/spark-local"])


def run_jvm(cp, workload, work, seconds, trace, cpus):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    cmd = ["java"] + jvm_flags(work) + ["-cp", cp, "graft.perfbench.Main", workload, work,
                                        str(seconds), str(trace), str(cpus),
                                        os.path.join(HERE, "data")]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                       env=env)
    result = os.path.join(work, "jvm.json")
    if rc != 0 or not os.path.isfile(result):
        with open(log, errors="replace") as fh:
            tail = "".join(fh.readlines()[-40:])
        die(f"{workload} run failed (exit {rc}):\n{tail}")
    with open(result) as fh:
        return json.load(fh)


def write_pump_config(work, dirs):
    """The pump's config.yaml (PumpConfig's YAML subset)."""
    lines = ["LogDirectoryMap:"] + [f'  {k}: "{v}"' for k, v in sorted(dirs.items())]
    lines += ['FilePattern: "*.log"', "BatchSize: 100", "BatchInterval: 1", "RescanInterval: 1",
              "ClickHouse:", '  Address: "localhost:9000"', '  Database: "logs"',
              f'  DefaultTable: "{techlog_gen.DEFAULT_TABLE}"', "  TableMap:"]
    lines += [f'    {c}: "{t}"' for c, t in sorted(techlog_gen.TABLE_MAP.items())]
    with open(os.path.join(work, "config.yaml"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def median(xs):
    return statistics.median(xs)


def weighted_percentile(samples, q):
    """Nearest-rank percentile of (value, count) samples."""
    total = sum(n for _, n in samples)
    rank = max(1, -(-q * total // 100))
    seen = 0
    for v, n in sorted(samples):
        seen += n
        if seen >= rank:
            return v
    raise ValueError("no samples")


def streaming_layers(batches, idle_triggers):
    """Per-trigger phase percentiles and batch counts from progress."""
    out = {}
    for name, key in PHASES:
        xs = [(b["state_commit_ms"] if key is None else b["durations"].get(key, 0), 1)
              for b in batches]
        out[f"streaming.{name}_ms_p50"] = weighted_percentile(xs, 50)
        out[f"streaming.{name}_ms_p99"] = weighted_percentile(xs, 99)
    out["streaming.state_rows_max"] = max(b["state_rows"] for b in batches)
    data = sum(1 for b in batches if b["input_rows"] > 0)
    out["streaming.data_batch_frac"] = data / (len(batches) + idle_triggers)
    return out


def lag_max(appended_ms, rows_per_batch, commit_ms):
    """Largest count of appended records not yet visible, at each commit."""
    lag, visible = 0, 0
    for b in sorted(commit_ms, key=commit_ms.get):
        visible += rows_per_batch.get(b, 0)
        lag = max(lag, sum(1 for a in appended_ms if a <= commit_ms[b]) - visible)
    return lag


def backlog(args, cp, work, cpus):
    """Drain a generated tree written before the pump starts."""
    servers = ("srv1", "srv2") if args.workload == "backlog_2dirs" else ("srv1",)
    dirs, lines, expected, drops, size = techlog_gen.write_backlog(
        os.path.join(work, "logs"), args.seed, servers=servers)
    write_pump_config(work, dirs)
    with open(os.path.join(work, "lines.tsv"), "w") as fh:
        fh.writelines(f"{k}\t{n}\n" for k, n in sorted(lines.items()))
    res = run_jvm(cp, args.workload, work, args.seconds, args.trace, cpus)
    drains = res["drains"]
    n_rows = sum(len(v) for v in expected.values())
    attempted = failed = 0
    visible = []  # per warm drain: [(ms from pump start to the commit holding a row, rows)]
    for i, d in enumerate(drains):
        a, f, detail, per_batch = checks.pump_sink(d["sink"], expected)
        attempted += a
        failed += f
        if f or d["errors"]:
            print(f"backlog drain {i}: {detail} {d['errors']}", file=sys.stderr)
        commit = {b["batch"]: b["commit_end_ms"] for b in d["batches"]}
        if i > 0:
            visible.append([(commit.get(b, float("inf")) - d["start_ms"], n)
                            for b, n in per_batch.items()])
    warm = [d["wall_s"] for d in drains[1:]]
    metrics = {
        "setup_s": (drains[0]["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "drain_records_per_s": (n_rows / median(warm), "records/s"),
        # each drain's percentile, then the median over the warm drains
        "visible_p50_ms": (median([weighted_percentile(v, 50) for v in visible]), "ms"),
        "visible_p99_ms": (median([weighted_percentile(v, 99) for v in visible]), "ms"),
        "cold_mix_s": (drains[0]["wall_s"], "s"),
        "warm_mix_s": (median(warm), "s"),
    }
    info = {"drains": len(drains), "records": n_rows, "input_mb": size / 1e6,
            "latency_samples": sum(n for v in visible for _, n in v), "drops_expected": drops}
    if args.trace:
        metrics = dict(res["layers"])
        warm_batches = [b for d in drains[1:] for b in d["batches"]]
        metrics.update(streaming_layers(warm_batches,
                                        sum(d["idle_triggers"] for d in drains[1:])))
        # per_batch and commit are the last drain's
        metrics["sources.lag_records_max"] = lag_max([0] * n_rows, per_batch, commit)
        metrics["main.start_all_ms"] = median([d["start_all_s"] for d in drains]) * 1000
        metrics["trace.warm_mix_s"] = median(warm)
        # the Transform's drop reasons against the model, one check per reason
        for r in DROP_REASONS:
            attempted += 1
            if metrics.get(f"etl.dropped.{r}", 0) != drops.get(r, 0):
                failed += 1
                print(f"drop reason {r}: pump {metrics.get(f'etl.dropped.{r}', 0)}, "
                      f"model {drops.get(r, 0)}", file=sys.stderr)
    return attempted, failed, metrics, info, res


def analytics(args, cp, work, cpus):
    """The query mix: a cold pass, then warm passes."""
    res = run_jvm(cp, "analytics", work, args.seconds, args.trace, cpus)
    attempted, failed, detail = checks.analytics(ROOT, res["sf_dir"], os.path.join(work, "results"))
    if failed:
        print(f"analytics oracle mismatches: {json.dumps(detail)}", file=sys.stderr)
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    # per query, the median over the warm passes
    per_query = {n: {k: median([p["queries"][n][k] for p in warm]) for k in q}
                 for n, q in cold["queries"].items()}
    warm_s = sum(q["total_s"] for q in per_query.values())
    latencies = [(q["total_s"] * 1000, 1) for q in per_query.values()]
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "drain_records_per_s": (median([p["engine"]["input_records"] for p in warm]) / warm_s,
                                "records/s"),
        "visible_p50_ms": (weighted_percentile(latencies, 50), "ms"),
        "visible_p99_ms": (weighted_percentile(latencies, 99), "ms"),
        "cold_mix_s": (cold["wall_s"], "s"),
        "warm_mix_s": (warm_s, "s"),
    }
    info = {"mix": res["mix"], "passes": len(res["passes"]), "latency_samples": len(latencies),
            "builds_s": sum(res["builds"].values())}
    if args.trace:
        engine = {k: median([p["engine"][k] for p in warm]) for k in warm[0]["engine"]}
        metrics = {f"ops.{n}.{k}_ms": q[f"{k}_s"] * 1000
                   for n, q in per_query.items() for k in ("fn", "plan", "exec")}
        metrics.update({f"ops.{n}.cold_ms": q["total_s"] * 1000
                        for n, q in cold["queries"].items()})
        metrics.update({"spark.jobs": engine["jobs"],
                        "spark.shuffle_mb": engine["shuffle_bytes"] / 1e6,
                        "spark.spill_mb": engine["spill_bytes"] / 1e6,
                        "util.build_s": sum(res["builds"].values()),
                        "util.builds": len(res["builds"]), "trace.warm_mix_s": warm_s})
    return attempted, failed, metrics, info, res


def tail(args, cp, work, cpus):
    """Open-loop appends to live files while the pump runs."""
    dirs, schedule, expected = techlog_gen.tail_schedule(
        os.path.join(work, "logs"), args.seed, args.seconds, TAIL_RATE)
    write_pump_config(work, dirs)
    with open(os.path.join(work, "tail_index.tsv"), "w") as ix, \
            open(os.path.join(work, "tail_blob.bin"), "wb") as blob:
        for due, rel, data in schedule:
            ix.write(f"{due}\t{rel}\t{len(data)}\n")
            blob.write(data)
    res = run_jvm(cp, "tail", work, args.seconds, args.trace, cpus)
    t = res["tail"]
    got, non_null = checks.sink_rows(t["sink"])
    commit = {b["batch"]: b["commit_end_ms"] for b in t["batches"]}
    by_id, per_batch = {}, {}
    for table, rows in got.items():
        for batch, row in rows:
            by_id.setdefault(row[6], []).append((table, row, batch))
            per_batch[batch] = per_batch.get(batch, 0) + 1
    latencies, failed = [], non_null
    for i, (due, _, _) in enumerate(schedule):
        hits = by_id.pop(i + 1, [])
        if len(hits) == 1 and hits[0][:2] == expected[i + 1]:
            latencies.append((commit[hits[0][2]] - (t["writer_start_ms"] + due), 1))
        else:
            latencies.append((float("inf"), 1))
            failed += 1
    failed += sum(len(v) for v in by_id.values())
    visible = sum(1 for v, _ in latencies if v != float("inf"))
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "drain_records_per_s": (visible / args.seconds, "records/s"),
        "visible_p50_ms": (min(weighted_percentile(latencies, 50), TAIL_CAP_MS), "ms"),
        "visible_p99_ms": (min(weighted_percentile(latencies, 99), TAIL_CAP_MS), "ms"),
    }
    lateness = [a - (t["writer_start_ms"] + d) for a, (d, _, _) in zip(t["appended_ms"], schedule)]
    info = {"rate_per_s": TAIL_RATE, "records": len(schedule), "visible": visible,
            "latency_samples": len(latencies), "latency_cap_ms": TAIL_CAP_MS,
            "writer_late_ms_max": max(lateness), "batches": len(t["batches"]),
            "errors": t["errors"]}
    if args.trace:
        metrics = streaming_layers(t["batches"], t["idle_triggers"])
        metrics["sources.lag_records_max"] = lag_max(t["appended_ms"], per_batch, commit)
    return len(schedule), failed, metrics, info, res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backlog", "analytics", "tail", "backlog_2dirs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fn = {"backlog": backlog, "backlog_2dirs": backlog, "tail": tail,
              "analytics": analytics}[args.workload]
        attempted, failed, metrics, info, res = fn(args, cp, work, cpus)
        if args.trace:
            spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
            info["spans"] = os.path.relpath(spans, ROOT)
            metrics["jvm.old_gen_peak_mb"] = res["old_gen_peak_mb"]
            # every declared per-layer metric; a layer the workload does
            # not run reads 0
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                declared = json.load(fh)["per_layer"]
            undeclared = sorted(set(metrics) - {m["name"] for m in declared})
            if undeclared:
                print(f"measured but not in BENCHMARK.json: {undeclared}", file=sys.stderr)
            metrics = {m["name"]: (metrics.get(m["name"], 0), m["unit"]) for m in declared}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info.update({"git_sha": git_sha(), "input_mount": mount_of(ROOT),
                 "jvm_flags": " ".join(f for f in jvm_flags("<work>")
                                       if "java.base" not in f and f != "--add-opens"),
                 "cpus": cpus})
    print(f"# {args.workload} seed={args.seed} " + json.dumps(info, ensure_ascii=False))
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    print(f"# correct={failed == 0} attempted={attempted} failed={failed} "
          f"failed_frac={failed / max(attempted, 1):.6g}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
