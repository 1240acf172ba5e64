#!/usr/bin/env python3
"""graft benchmark: DistMain copy, curate and ingest runs plus a query slice.

    python3 graftbench/run.py --workload copy --seed 1 --seconds 8 --trace 0

Builds graft and the harness from this checkout (sbt, offline), then runs
the workload in fresh JVMs, each started at local[<cores>] the way one
DistMain invocation is: one that makes the seeded inputs, then one pass
per JVM until --seconds of pass time is measured. Every JVM is a set-up
sample. Every output is checked. The last
stdout line is one JSON object: end-to-end metrics with --trace 0, the
per-layer metrics of traced passes with --trace 1 (the traced run also
writes spans, per-operation self times and the tracing overhead to
graftbench/out/). See graftbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("copy", "curate", "ingest", "queries")
# Identical flags for every commit compared: a fixed heap, a fixed young
# generation and no adaptive sizing, so peak RSS moves with the program
# rather than with the collector's sizing decisions. Survivors large enough,
# and a tenuring age high enough, that short-lived data dies young instead
# of being promoted depending on when a young collection falls, and an
# initial metaspace that the session's classes fit in, so no full
# collection runs just to grow it. No perf-data file outside the workspace.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:SurvivorRatio=4", "-XX:InitialTenuringThreshold=15",
             "-XX:MaxTenuringThreshold=15", "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
RUN_BUDGET_S = 165  # a run, build excluded, ends within 180 s
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
END_TO_END = (("wall_s", "s"), ("setup_s", "s"), ("rows_per_s", "1/s"),
              ("out_bytes_ratio", "ratio"), ("peak_rss_mb", "MB"), ("ok_frac", "ratio"))


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile graft (with its own build file) and the harness; return the
    runtime classpath.

    Skipped when no source or build file changed since the last build here."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}/src/main/scala/graft; run from a graft checkout")
        sys.exit(2)
    files = [os.path.join(d, f) for d in (ROOT, HARNESS)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    digest = hashlib.sha256()
    for f in sorted(files):
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    target = os.path.join(HARNESS, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    os.makedirs(target, exist_ok=True)
    build_log = os.path.join(target, "build.log")
    started = time.time()
    with open(build_log, "wb") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(cp_file):
        with open(build_log, errors="replace") as fh:
            tail = fh.read().splitlines()[-40:]
        log(f"build failed ({rc}); last lines of {build_log}:\n" + "\n".join(tail))
        sys.exit(3)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    log(f"built in {time.time() - started:.1f} s")
    return open(cp_file).read().strip()


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def launch(cp, ws, i, deadline, **args):
    """One benchmark JVM. Returns its result dict (None if it died) with the
    set-up time, exit status and peak RSS measured from here."""
    result_file = os.path.join(ws, f"result-{i}.json")
    log_file = os.path.join(ws, f"jvm-{i}.log")
    jvm = ["java", *JVM_FLAGS]
    for p in OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += [f"-Djava.io.tmpdir={ws}/tmp", f"-Dderby.system.home={ws}/derby",
            f"-Dspark.local.dir={ws}/local", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
            "--result", result_file, "--root", ROOT, "--data", DATA, "--ws", ws,
            "--expected", EXPECTED, "--cores", str(cores())]
    for k, v in args.items():
        jvm += [f"--{k}", str(v)]
    launched = time.time()
    with open(log_file, "wb") as out:
        # two malloc arenas: with one per thread, native memory (codecs,
        # JDBC, netty) and so peak RSS varied with thread scheduling
        proc = subprocess.Popen(jvm, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                cwd=ws, env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        killed = False
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline and not killed:
                proc.kill()
                killed = True
            time.sleep(0.02)
        proc.returncode = os.waitstatus_to_exitcode(status)
    res = None
    if os.path.exists(result_file):
        with open(result_file) as fh:
            res = json.load(fh)
    if proc.returncode != 0 or killed or res is None or (args["mode"] == "pass" and "wall_s" not in res):
        with open(log_file, errors="replace") as fh:
            lines = fh.read().splitlines()
        first = next((n for n, l in enumerate(lines) if "Exception" in l or "Error" in l), None)
        causes = lines[first:first + 6] if first is not None else []
        log(f"JVM {i} ({args['mode']}) died: exit {proc.returncode}"
            f"{' after the run deadline' if killed else ''}; cause:\n  " +
            "\n  ".join(causes or lines[-10:]))
        return None
    res["setup_s"] = res["ready_epoch_s"] - launched
    res["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    res["jvm_s"] = time.time() - launched
    return res


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def run(args, cp):
    ws = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(ws, ignore_errors=True)
    for d in ("tmp", "derby", "local"):
        os.makedirs(os.path.join(ws, d))
    deadline = time.time() + RUN_BUDGET_S
    passes, setups, died = [], [], 0
    traced = args.trace == 1
    i, measured, longest = 0, 0.0, 0.0
    jvm_args = dict(workload=args.workload, seed=args.seed, tiny=int(args.tiny),
                    corrupt=int(args.corrupt))
    try:
        # The first JVM makes the seeded inputs (if the workload has any) and
        # is a set-up sample; passes then run on inputs already on disk.
        res = launch(cp, ws, i, deadline, mode="gen", **jvm_args)
        i += 1
        if res is None:
            return passes, setups, 1
        setups.append(res["setup_s"])
        # Passes until --seconds of pass time is measured. A traced run
        # alternates traced and untraced passes so it can report the
        # tracing overhead; it needs at least one of each.
        while True:
            trace = 1 if traced and (len(passes) % 2 == 0) else 0
            started = time.time()
            res = launch(cp, ws, i, deadline, mode="pass", trace=trace, **jvm_args)
            longest = max(longest, time.time() - started)
            i += 1
            if res is None:
                died += 1
                break
            res["traced"] = trace
            passes.append(res)
            setups.append(res["setup_s"])
            if not trace:
                measured += res["wall_s"]
            enough = measured >= args.seconds or (traced and measured > 0)
            if enough or time.time() + longest > deadline:
                break
    finally:
        shutil.rmtree(ws, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ws))
        except OSError:
            pass
    return passes, setups, died


def report(args, passes, setups, died):
    known_ops = max((len(p["ops"]) for p in passes), default=1)
    attempted = sum(len(p["ops"]) for p in passes) + died * known_ops
    failed = sum(1 for p in passes for op in p["ops"] if not op["ok"]) + died * known_ops
    for p in passes:
        for op in p["ops"]:
            if not op["ok"]:
                log(f"{op['name']} failed: {op['error']}")
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    samples = {
        "wall_s": [p["wall_s"] for p in plain],
        "setup_s": setups,
        "rows_per_s": [p["in_rows"] / p["wall_s"] for p in plain],
        "out_bytes_ratio": [p["out_bytes"] / p["in_bytes"] for p in plain if p["in_bytes"]],
        "peak_rss_mb": [p["peak_rss_mb"] for p in plain],
    }
    print(f"workload {args.workload}  seed {args.seed}  passes {len(passes)}  "
          f"setups {len(setups)}  operations {attempted}  failed {failed}")
    if passes:
        print(f"  input {passes[0]['in_rows']} rows, {passes[0]['in_bytes']} bytes")
    metrics = {}
    if not args.trace:
        for name, unit in END_TO_END:
            vals = samples.get(name) or []
            if name == "ok_frac":
                vals = [(attempted - failed) / attempted] if attempted else []
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            metrics[name] = {"value": med, "unit": unit}
            print(f"  {name:16s} median {med:.6g} {unit}  q1 {q1:.6g}  q3 {q3:.6g}  n {len(vals)}")
    else:
        for name in sorted({k for p in traced for k in p["layers"]}):
            vals = [p["layers"][name] for p in traced]
            metrics[name] = {"value": statistics.median(vals), "unit": layer_unit(name)}
        overhead = (statistics.median(p["wall_s"] for p in traced) -
                    statistics.median(p["wall_s"] for p in plain)) if traced and plain else None
        write_trace(args, passes, metrics, overhead)
    correct = attempted > 0 and failed == 0 and bool(passes)
    return {"correct": correct, "attempted": max(attempted, 1), "failed": failed if attempted else 1,
            "metrics": metrics}


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_in") or name.endswith("bytes_out"):
        return "bytes"
    if name.endswith(("_ratio", "_util", "_amp")):
        return "ratio"
    return "count"


def write_trace(args, passes, metrics, overhead):
    """Side file of the traced run: spans, per-operation self times and the
    tracing overhead against the untraced passes."""
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    doc = {"workload": args.workload, "seed": args.seed, "per_layer": metrics,
           "tracing_overhead_s": overhead,
           "untraced_wall_s": [p["wall_s"] for p in passes if not p["traced"]],
           "traced_wall_s": [p["wall_s"] for p in passes if p["traced"]],
           "passes": []}
    for n, p in enumerate(passes):
        if not p["traced"]:
            continue
        start = min((s["start_ms"] for s in p["spans"]), default=0)
        end = max((s["end_ms"] for s in p["spans"]), default=0)
        doc["passes"].append({
            "pass": n, "wall_s": p["wall_s"], "setup_s": p["setup_s"],
            "spans": [{"id": "pass", "parent": "run", "name": f"pass {n}", "layer": "run",
                       "start_ms": start, "end_ms": end}] + p["spans"],
            "operations": p["op_traces"]})
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    ov = "n/a" if overhead is None else f"{overhead:+.3f} s"
    print(f"  trace written to {os.path.relpath(path, ROOT)}; tracing overhead {ov} wall")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke size: small copy inputs, four queries")
    ap.add_argument("--corrupt", action="store_true",
                    help="negative control: drop one part file of copy's first output")
    args = ap.parse_args()
    if not os.path.exists(DATA) or not os.path.exists(EXPECTED):
        log(f"missing {DATA} or {EXPECTED}")
        sys.exit(2)
    cp = build()
    passes, setups, died = run(args, cp)
    result = report(args, passes, setups, died)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
