#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds graft and the harness from
source (perfbench/build.py), makes the workload's inputs from the seed,
runs the benchmark JVM (local[nproc], heap from MemTotal by the tier-1
rule: MemTotal/2 clamped to 2..8 GiB), checks the outputs, and prints as
its LAST stdout line one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when --trace 0 and its
per-layer metrics when --trace 1. The line before it holds the input's
properties (records, bytes, planted shares). Everything the run writes
stays under <checkout>/.bench_build and is removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402

WORKLOADS = ("marc_index", "registry_construct")
# whole-run limit; the first run in a checkout also builds and gets longer
RUN_LIMIT_S = 170
SETUP_PROBES = 2  # set-up samples besides the main JVM's own

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb() -> int:
    """The tier-1 rule: half of MemTotal in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def java_cmd(classes: str, run_dir: Path, args):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    # -UsePerfData: no hsperfdata file in the system temp directory
    return (["java", f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main"]
            + [str(a) for a in args])


def run_jvm(cmd, cwd: Path, deadline: float):
    """Run one JVM in its own process group; kill the group past deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit(f"benchmark JVM exceeded the run time limit: {cmd[-12:]}")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out, err


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.ensure()
    deadline = time.monotonic() + RUN_LIMIT_S
    n = cores()
    run_dir = build.build_dir() / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        setups, phases = [], {}
        t0 = time.monotonic()
        if not a.trace:
            for i in range(SETUP_PROBES):
                pdir = run_dir / f"probe{i}"
                pdir.mkdir()
                code, out, err = run_jvm(java_cmd(classes, pdir, ["probe", "--cores", n, "--dir", pdir]),
                                         pdir, deadline)
                lines = [l for l in out.splitlines() if l.startswith("SETUP ")]
                if code != 0 or not lines:
                    sys.stderr.write(err[-5000:])
                    raise SystemExit("set-up probe failed")
                setups.append(float(lines[-1].split()[1]))
                shutil.rmtree(pdir, ignore_errors=True)
        phases["probes_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        result_file = run_dir / "result.json"
        main_dir = run_dir / "main"
        main_dir.mkdir()
        code, out, err = run_jvm(java_cmd(classes, main_dir, [
            "run", "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--cores", n, "--dir", main_dir, "--out", result_file]),
            main_dir, deadline)
        if code != 0 or not result_file.exists():
            sys.stderr.write(err[-20000:])
            raise SystemExit(f"benchmark JVM failed with code {code}")
        phases["jvm_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        res = json.loads(result_file.read_text())
        inputs = res["inputs"]
        correct, attempted, failed = res["correct"], res["attempted"], res["failed"]
        problems = list(res["problems"])
        if a.workload == "registry_construct":
            import oracle
            checked, bad = oracle.check(ROOT, inputs["tables_dir"], inputs["results_dir"])
            failed += len(bad)
            problems += [f"oracle {q}: {why}" for q, why in bad]
            inputs["oracle_checked"] = checked
            if bad or checked == 0:
                correct = False
            for key in ("tables_dir", "results_dir"):
                inputs.pop(key)
        phases["check_s"] = time.monotonic() - t0
        inputs["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
        e2e = dict(res["end_to_end"])
        samples = setups + [e2e["setup_s"]["value"]] if "setup_s" in e2e else setups
        if samples:
            e2e["setup_s"] = {"value": statistics.median(samples), "unit": "s"}
            inputs["setup_samples_s"] = sorted(samples)
        if a.trace:  # the spans outlive the run, beside the build
            traces = build.build_dir() / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            trace_file = traces / f"{a.workload}-{a.seed}.json"
            trace_file.write_text(json.dumps(res["spans"], indent=1))
            inputs["spans_file"] = str(trace_file.relative_to(ROOT))
        got = e2e if not a.trace else res["per_layer"]
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        # a layer the workload bypasses reports 0
        metrics = {m["name"]: {"value": got.get(m["name"], {}).get("value", 0.0),
                               "unit": m["unit"]} for m in wanted}
        for p in problems:
            sys.stderr.write(f"[perfbench] {p}\n")
        print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": inputs,
                          "failed_share": failed / attempted if attempted else None}))
        print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
