#!/usr/bin/env python3
"""JobMiner engine benchmark: three closed-loop workloads, layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads (one client, closed loop, sf0.1 fixture):
  dashboard  star-schema analytics queries (job, planning and resolution costs)
  corpus     LLM-data operators (eager build jobs, native kernels, task width)
  ingest     a daily scrape: 60-listing pages parsed, matched and upserted to
             three sinks

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer metrics
(see BENCHMARK.json). The last stdout line is the result object; the line
before it reports the run's environment and extra figures. Every run also
leaves `.bench_build/results/<workload>-s<seed>-t<trace>.json` (and, traced,
the spans as CSV).

Other modes:
  --steady N   run N times (seeds --seed .. --seed + N - 1) and print each
               metric's median and quartile spread, the evidence for the
               bounds in BENCHMARK.json
  --record     re-record perfbench/expected.json (query digests) from this tree
  --selftest   check the benchmark's own failure accounting

The engine and the benchmark are compiled by perfbench/build.py; the fixture
is generated once by tools/gen_testdata.py (fixed generator seed) into
.bench_build/data. The workload seed drives op order and the ingest batches.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("dashboard", "corpus", "ingest")
BUILD = build.BUILD
EXPECTED = os.path.join("perfbench", "expected.json")
GENERATOR = os.path.join("tools", "gen_testdata.py")
SCALE = "0.1"
HEAP = "4g"
JVM_TIMEOUT_S = 170

# The forked-JVM flags tools/run_graft.sh pins (JDK 17 add-opens, fixed heap,
# G1, 1 GB code cache), with the heap fixed here so every run is alike.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
    "-XX:ReservedCodeCacheSize=1g"]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build_stamp():
    """Short hash of the build stamp, which digests the engine and the
    benchmark sources alike."""
    with open(os.path.join(BUILD, "classes", "bench.stamp"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def fixture():
    """Generate the sf0.1 fixture once per generator version."""
    if not os.path.exists(GENERATOR):
        raise SystemExit(f"run: {GENERATOR} not found; run from the repository root")
    with open(GENERATOR, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    out = os.path.join(BUILD, "data", f"sf{SCALE}")
    stamp_path = out + ".stamp"
    if not (os.path.exists(stamp_path) and open(stamp_path).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        r = subprocess.run([sys.executable, GENERATOR, SCALE, out],
                           stdout=subprocess.DEVNULL, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            raise SystemExit("run: fixture generation failed")
        with open(stamp_path, "w") as f:
            f.write(stamp)
    return out


def java(cp, main_args, work, log):
    # temporary files go under the checkout; no hsperfdata file in the
    # system temp directory
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-cp", cp, "perfbench.Main", *main_args]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run: benchmark JVM timed out (see {log})")
    return p.returncode, out


def run_once(a):
    load0 = loadavg()
    cp = build.build()
    data = fixture()
    work = os.path.abspath(os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}"))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    log = os.path.join(results, tag + ".log")
    code, out = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", os.path.abspath(data), "--work", work,
                          "--expected", EXPECTED], work, log)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    report = next((json.loads(ln)["report"] for ln in lines if ln.startswith('{"report"')), None)
    result = next((ln for ln in reversed(lines) if ln.startswith('{"correct"')), None)
    if code != 0 or result is None or report is None:
        raise SystemExit(f"run: benchmark JVM failed with code {code} (see {log})")
    if a.trace and os.path.exists(os.path.join(work, "spans.csv")):
        shutil.copy(os.path.join(work, "spans.csv"), os.path.join(results, tag + ".spans.csv"))
    shutil.rmtree(work, ignore_errors=True)
    env = {"nproc": len(os.sched_getaffinity(0)), "heap": HEAP,
           "jvm_flags": JVM_FLAGS[2 * len(ADD_OPENS):],
           "git_commit": git_commit(), "build_stamp": build_stamp(),
           "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
           "loadavg_start": load0, "loadavg_end": loadavg()}
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"env": env, "report": report, "result": json.loads(result)}, f, indent=1)
    print(json.dumps({"env": env, "report": report}))
    print(result)


def steady(a):
    """Run the workload a.steady times, seeds a.seed, a.seed + 1, ..., and
    print each metric's median and quartile spread."""
    values = {}
    for seed in range(a.seed, a.seed + a.steady):
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        if r.returncode != 0:
            raise SystemExit(f"steady: seed {seed} failed: {r.stderr.strip()[-500:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"seed {seed}: correct=false ({res['failed']}/{res['attempted']} failed)")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{a.workload} {k}: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {spread:.4f}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0)
    p.add_argument("--record", action="store_true")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        code = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.build(),
                               "perfbench.Main", "--selftest"]).returncode
        sys.exit(code)
    if a.record:
        cp, data = build.build(), fixture()
        for w in ("dashboard", "corpus"):
            work = os.path.abspath(os.path.join(BUILD, "work", f"record-{w}"))
            code, out = java(cp, ["--workload", w, "--seed", "1", "--seconds", "0", "--trace", "0",
                                  "--data", os.path.abspath(data), "--work", work,
                                  "--expected", EXPECTED, "--record"], work,
                             os.path.join(BUILD, f"record-{w}.log"))
            print(out.strip().splitlines()[0] if out.strip() else f"record {w}: code {code}")
            shutil.rmtree(work, ignore_errors=True)
        return
    if a.workload is None:
        p.error("--workload is required")
    if a.steady:
        steady(a)
    else:
        run_once(a)


if __name__ == "__main__":
    main()
