#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload {mr_pipeline,query_mix,ingest} \
        --seed N --seconds S --trace {0,1}

The first run in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt, which builds the root project too);
later runs reuse that build until a source file changes. Each run is one
JVM with a fresh temporary, Spark-local and warehouse directory under
.perfbench/, removed afterwards. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones from a traced run. The full record of every run (environment,
per-operation latencies, failures, spans) is kept in .perfbench/records/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("mr_pipeline", "query_mix", "ingest")
# heap of the benchmark JVM, passed to the root build's -Xmx setting
DRIVER_MEM = "4g"
JVM_TIMEOUT_S = 170

# the layers a traced operation's wall time is split across
LAYERS = ("queries", "plans", "sched", "task", "shuffle", "scan", "store", "streaming")

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "mr_records_per_s": "records/s",
    "ok_ratio": "fraction",
}


def layer_unit(name):
    if name.startswith("share.") or name == "trace.overhead":
        return "fraction"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    return "bytes" if "bytes" in name else "count"


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so any source change rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src/main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep)
            and f.endswith((".sbt", ".scala", ".properties", ".java")))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Build with sbt unless target/launch.txt matches the current sources.
    Returns (JVM flags, classpath) from the build's launch file."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = launch + ".stamp"
    stamp = source_stamp()
    fresh = os.path.isfile(launch) and os.path.isfile(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        os.makedirs(WORK, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        log_path = os.path.join(WORK, "build.log")
        with open(log_path, "w") as log:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=log, timeout=700)
        if rc != 0:
            sys.stderr.write(tail(log_path))
            fail(f"build failed (exit {rc}); log in {log_path}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().split("\n")
    blank = lines.index("")
    flags = lines[:blank]
    cp = [p for p in lines[blank + 1:] if p]
    return flags, os.pathsep.join(cp)


def run_group(cmd, cwd, env, stdout, timeout):
    """Run cmd in its own process group and wait for it; on timeout or
    interruption, kill the whole group and wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_id():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"{ROOT} holds no program source (build.sbt, src/main/scala)", 2)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    flags, cp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = ["java"] + flags + [
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--bench", HERE, "--out", result_path]
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            rc = run_group(cmd, cwd=run_dir, env=dict(os.environ), stdout=log,
                           timeout=JVM_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(result_path):
            sys.stderr.write(tail(log_path))
            fail(f"benchmark JVM exited {rc} without a result")
        with open(result_path) as f:
            rec = json.load(f)
        with open(log_path, errors="replace") as f:
            sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))
        print(f"[perfbench] JVM ended after {time.time() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    rec["env"]["source"] = source_id() or source_stamp()
    rec["env"]["nproc"] = cores
    if args.trace:
        values = rec["per_layer"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(values.items())}
    else:
        values = rec["end_to_end"]
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, time.strftime("%Y%m%dT%H%M%S") +
                        f"-{args.workload}-s{args.seed}-t{args.trace}")
    spans = rec.pop("trace_spans", None)
    if spans is not None:
        with open(stem + "-spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    with open(stem + ".json", "w") as f:
        json.dump(rec, f, indent=1)

    env = rec["env"]
    print(f"env: nproc={cores} seed={args.seed} loadavg {env['loadavg_start']} -> "
          f"{env['loadavg_end']} steal_ms {env['steal_ms']:.0f} canary_ms {env['canary_ms_start']:.1f} -> "
          f"{env['canary_ms_end']:.1f} java {env['java_version']} source {env['source']}")
    if args.trace:
        wall = sum(values[f"self.{l}_ms"] for l in LAYERS)
        print(f"layer self time over {wall / 1000:.2f} s of traced operations "
              f"(tracing overhead {values['trace.overhead']:+.1%}):")
        for l in LAYERS:
            print(f"  {l:<10} {values[f'self.{l}_ms'] / 1000:8.2f} s  {values[f'share.{l}']:6.1%}")
    else:
        print(f"not gated: op_tail_ms {rec['op_tail_ms']:.1f} (p{rec['op_tail_percentile']:.1f} "
              f"of {rec['op_samples']} operations), peak_rss_mb {rec['peak_rss_mb']:.1f}; "
              f"passes_ms {[round(p) for p in rec['passes_ms']]}")
    for f in rec["failures"]:
        print(f"FAILED {f}")
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
