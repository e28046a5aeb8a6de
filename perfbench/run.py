#!/usr/bin/env python3
"""graft benchmark: two seeded closed-loop workloads at local[min(nproc,4)].

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the benchmark's JVM program from source
(perfbench/build.py), runs one workload in a fresh JVM with a fresh
java.io.tmpdir, Spark local dir and warehouse under the build
directory, deletes them afterwards, checks the outputs, and prints the
workload's own metrics as `name = value unit` lines followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the JSON metrics are metrics.END_TO_END; with --trace 1
spans are recorded at every layer boundary and the JSON metrics are
metrics.PER_LAYER, with the per-module table and the tracing overhead
(against the last untraced run of the same workload) printed above it.

Exit status: 0 when every op and every check passed, 1 when any op
failed or any output was wrong, 2 when the benchmark could not run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest", "analytics")
DEADLINE_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def driver_mem():
    """Spark driver heap: half of RAM in GiB, within 2..8 (the formula the
    sbt test run uses for SPARK_DRIVER_MEM)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, work, n_cores, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jars = os.path.join(build.spark_jars(os.getcwd()), "*")
    cmd = ["java", *[f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS],
           f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{jars}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(n_cores), "--work", work,
           "--out", os.path.join(work, "raw.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, "jvm.log")
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("benchmark JVM exceeded its deadline") from None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(log_path) as fh:
        log_tail = fh.read()[-3000:]
    raw_path = os.path.join(work, "raw.json")
    if proc.returncode != 0 or not os.path.exists(raw_path):
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}:\n{log_tail}")
    with open(raw_path) as fh:
        raw = json.load(fh)
    raw["jvm_wall_s"] = time.monotonic() - t0
    return raw, log_tail


def fmt(v):
    return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    try:
        classes, src_stamp = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    out_dir = build.build_dir(root)
    runs = os.path.join(out_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    n_cores = cores()
    try:
        if args.workload == "analytics":
            import gen
            os.makedirs(os.path.join(work, "data"))
            gen.tables(os.path.join(work, "data"), args.seed)
        try:
            raw, log_tail = run_jvm(classes, args, work, n_cores, deadline)
        except RuntimeError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 2
        if raw.get("fatal"):
            print(log_tail, file=sys.stderr)
        facts = raw.get("facts", {})
        if args.workload == "analytics" and facts.get("oracle"):
            import oracle
            raw["checks"] += oracle.compare(root, facts["sf_dir"],
                                            facts["results_dir"], facts["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed = metrics.accounting(raw)
    report = metrics.workload_report(raw)
    env = dict(raw.get("env", {}), git_commit=git_commit(root),
               source_sha256=src_stamp, driver_mem=driver_mem())
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={n_cores} nproc={env.get('nproc')} "
          f"heap_max_mb={env.get('heap_max_mb')} commit={env['git_commit']}")
    for c in raw.get("checks", []):
        if not c["ok"]:
            print(f"# FAILED check: {c['name']}: {c['detail']}")
    for o in raw.get("ops", []):
        if not o["ok"]:
            print(f"# FAILED op: {o['name']}: {o['error'][:300]}")
    for k, v in report.items():
        print(f"{k} = {fmt(v)}")

    results = os.path.join(out_dir, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        values, table = metrics.per_layer(raw, n_cores)
        spec = metrics.PER_LAYER
        table.update({k: v for k, v in values.items() if k not in spec})
        last = os.path.join(results, f"last-{args.workload}-trace0.json")
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)["metrics"].get("latency_p50_ms", {}).get("value")
            traced = metrics.end_to_end(raw).get("latency_p50_ms")
            if base and traced:
                table["trace.overhead_frac"] = traced / base - 1
        for k, v in sorted(table.items()):
            print(f"layer {k} = {fmt(v)}")
    else:
        values, spec = metrics.end_to_end(raw), metrics.END_TO_END
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u}
                          for k, u in spec.items() if k in values}}
    record = dict(result, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, env=env,
                  report=report, setups_s=raw.get("setup_s"),
                  measure_s=raw.get("measure_s"), ops=raw.get("ops"),
                  facts=facts, checks=raw.get("checks"),
                  phases=raw.get("phases"), jvm_wall_s=raw.get("jvm_wall_s"))
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(record, fh, indent=1)
    if not args.trace and correct:
        shutil.copyfile(os.path.join(results, name),
                        os.path.join(results, f"last-{args.workload}-trace0.json"))
    print(json.dumps(result))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
