#!/usr/bin/env python3
"""Benchmark of the repository: one workload per invocation.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py) on first use, runs
the workload's harness JVM in a throwaway directory under .bench_work/
(removed afterwards), and prints two lines: a stamp for diagnosis (commit,
cores, load average, JVM flags, seed) and, last, the result
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("kg_batch", "annotate_service")
# every run must end well inside the 180 s the caller allows
HARNESS_TIMEOUT_S = 165
# a fixed heap: heap growth decisions otherwise differ from JVM to JVM and
# move the timings of the Spark workloads by several per cent
HEAP = ["-Xms2g", "-Xmx2g"]
# JDK 17 module access Spark needs outside spark-submit; the same list as
# the program's build.sbt and Spark's JavaModuleOptions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags(work):
    # no hsperfdata file outside the checkout
    flags = list(HEAP) + ["-XX:-UsePerfData"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Djava.io.tmpdir={work / 'tmp'}"]


def commit_sha():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def expected_metrics(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1", 2)

    try:
        classes, cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    load_start = os.getloadavg()
    launched_ms = int(time.time() * 1000)
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    flags = jvm_flags(work)
    cmd = (["java"] + flags + ["-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--launched-at-ms", str(launched_ms)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    log_path = work / "harness.log"
    try:
        with open(log_path, "w") as log:
            # own process group: a harness that overruns is killed together
            # with the server JVM it started
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                 stderr=log, text=True, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=HARNESS_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                out = None
            finally:
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        lines = [ln for ln in (out or "").splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            tail = log_path.read_text().splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            fail(f"harness exited with {p.returncode}"
                 + (" (timed out)" if out is None else ""))
        res = json.loads(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass

    metrics = {k: v for k, v in res["metrics"].items()}
    want = expected_metrics(a.trace == 1)
    if want is not None:
        got = {k: v["unit"] for k, v in metrics.items()}
        if got != want:
            fail(f"metrics differ from BENCHMARK.json: missing "
                 f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                 f"units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}")
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit_sha(), "source_digest": classes.parent.name,
        "nproc": os.cpu_count(), "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "jvm_flags": flags,
        "info": res.get("info", {}),
    }
    print(json.dumps({"perfbench_stamp": stamp}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
