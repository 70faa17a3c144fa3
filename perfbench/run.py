#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload board --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --selftest

Workloads: board, serve_mix, stream_ingest (see perfbench/README.md). The
run builds the engine from source if needed (perfbench/build.py), starts one
JVM with Spark local[nproc], and prints, in order: an environment stamp, the
workload's own named figures, and as the last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, and spans and per-query profiles are written under
.bench_build/traces/.

Extra, for maintenance only:
    --queries all        board over every SparkEntry query, not the timed set
    --write-witness      with --queries all: rewrite perfbench/expected/
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("board", "serve_mix", "stream_ingest")
TIMEOUT_S = 170
# the input tables, a copy of the sf0.1 test data
DATA = "sf0.1"
# CPU calibration probe on the reference box (4 cores, see README.md), and
# the band around it outside which a run is flagged as not comparable
CALIBRATION_MS = 100.0
CALIBRATION_BAND = 0.1
# the whole board (--queries all) is a maintenance run with a longer limit
TIMEOUT_ALL_S = 900
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(code)


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def heap():
    gb = mem_total_kb() // (1024 * 1024)
    return "%dg" % max(2, min(4, gb // 2))


def jvm_cmd(classes, main, work, extra):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xms" + heap(), "-Xmx" + heap(), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dderby.system.home=" + work,
        "-cp", classes + os.pathsep + jars, main,
    ]
    return cmd + extra


def run_jvm(cmd, work, timeout):
    """Run the JVM in its own process group; stderr goes to a log file."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        old = signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop()
            proc.communicate()
            return None, "timed out after %ds" % timeout, log_path
        finally:
            signal.signal(signal.SIGTERM, old)
    return proc.returncode, out, log_path


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def selftest():
    classes, _ = build.build()
    work = os.path.join(build.build_dir(), "work", "selftest-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        code, out, log = run_jvm(jvm_cmd(classes, "perfbench.SelfTest", work, []), work, TIMEOUT_S)
        print(out if code is not None else "", end="")
        if code != 0:
            print(tail(log), file=sys.stderr)
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", choices=("timed", "all"), default="timed")
    ap.add_argument("--write-witness", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    params_path = os.path.join(HERE, "params.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    with open(params_path) as fh:
        params = json.load(fh)
    try:
        if args.selftest:
            return selftest()
        if not args.workload:
            die("--workload is required")
        seed = params["default_seed"] if args.seed is None else args.seed
        seconds = spec["run_seconds"] if args.seconds is None else args.seconds
        classes, digest = build.build()
    except build.BuildError as e:
        die("build failed: %s" % e)

    data = os.path.join(HERE, "data", DATA)
    if not os.path.isdir(data):
        die("input tables missing: %s" % os.path.relpath(data, ROOT))
    out_dir = build.build_dir()
    stamp = "%s-seed%d-trace%d-%d" % (args.workload, seed, args.trace, os.getpid())
    work = os.path.join(out_dir, "work", stamp)
    trace_dir = os.path.join(out_dir, "traces", stamp)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    expected = os.path.join(HERE, "expected", "board_%s.json" % DATA)
    launched_ms = time.time() * 1000.0
    jargs = [
        "--workload", args.workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(args.trace), "--data", data, "--params", params_path,
        "--result", result_path, "--trace-dir", trace_dir,
        "--launched-ms", repr(launched_ms), "--expected", expected,
        "--queries", args.queries, "--write-witness", "1" if args.write_witness else "0",
    ]
    try:
        timeout = TIMEOUT_ALL_S if args.queries == "all" else TIMEOUT_S
        code, out, log = run_jvm(jvm_cmd(classes, "perfbench.Main", work, jargs), work, timeout)
        if code is None or code != 0 or not os.path.exists(result_path):
            print(tail(log), file=sys.stderr)
            die("workload %s failed: %s" % (args.workload, out if code is None else "exit %s" % code), 1)
        with open(result_path) as fh:
            res = json.load(fh)
        if args.trace:
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(log, os.path.join(trace_dir, "jvm.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lo, hi = CALIBRATION_MS * (1 - CALIBRATION_BAND), CALIBRATION_MS * (1 + CALIBRATION_BAND)
    env = dict(res["env"])
    env.update({
        "workload": args.workload, "seed": seed, "seconds": seconds, "trace": args.trace,
        "git_commit": git_commit(), "source_digest": digest,
        "nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(),
        "data": os.path.relpath(data, ROOT),
        "calibration_band_ms": [round(lo, 3), round(hi, 3)],
        "calibration_ok": all(lo <= env[k] <= hi for k in ("calibration_start_ms", "calibration_end_ms")),
    })
    if not env["calibration_ok"]:
        print("perfbench: calibration probe outside its band; this run's figures are not "
              "comparable with the baseline", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({"report": res["report"], "notes": res["notes"], "errors": res["errors"]}))

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["layers"] if args.trace else res["metrics"]
    metrics, problems = {}, []
    for m in want:
        v = got.get(m["name"])
        if v is None or v["value"] is None or not math.isfinite(v["value"]):
            problems.append("%s not measured" % m["name"])
        elif v["unit"] != m["unit"]:
            problems.append("%s in %s, BENCHMARK.json says %s" % (m["name"], v["unit"], m["unit"]))
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    extra = sorted(set(got) - {m["name"] for m in want})
    if extra:
        problems.append("measured but not in BENCHMARK.json: %s" % ", ".join(extra))
    aborted = [e for e in res["errors"] if e.startswith("run aborted")]
    if problems or aborted:
        die("; ".join(aborted + problems), 1)
    if res["failed"]:
        print("perfbench: %d of %d operations failed or were wrong" % (res["failed"], res["attempted"]),
              file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
