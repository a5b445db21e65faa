#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (into `.bench_build/` and the sbt `target/`
directories); later runs reuse the build while the sources are unchanged.
Each run writes under `.bench_out/`: its logs, `result.json`, and with
`--trace 1` the span record `trace.json`. The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or with `--trace 1` the per-layer metrics, of
BENCHMARK.json).
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
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD_DIR = ROOT / ".bench_build"
OUT_DIR = ROOT / ".bench_out"
WORKLOADS = ("advisory_nightly", "registry_scan", "registry_build")
RUN_TIMEOUT_S = 170
# recording a golden runs the whole list, far longer than a measured run
RECORD_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 880

# Spark 4 on JDK 17 outside spark-submit (the same list as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads from the repository, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def run_group(cmd, timeout, what, log, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt starts its JVM as a child) and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} timed out after {timeout}s; see {log}")
    if proc.returncode != 0:
        fail(f"{what} failed (exit {proc.returncode}); see {log}")
    return out


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no program sources under {ROOT}: nothing to build")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD_DIR / "classpath.txt", BUILD_DIR / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD_DIR.mkdir(exist_ok=True)
    log = BUILD_DIR / "build.log"
    t0 = time.time()
    with open(log, "w") as lf:
        out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, "build", log,
                        cwd=BENCH, stdout=subprocess.PIPE, stderr=lf, text=True)
        lf.write(out)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def run_java(cp, args, run_dir, timeout):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java_bin(), "-Xms3g", "-Xmx3g", *opens, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}", "-cp", cp, "perfbench.Main",
           "--bench-dir", str(BENCH), "--out", str(run_dir), *args]
    log = run_dir / "run.log"
    with open(log, "w") as lf:
        run_group(cmd, timeout, "run", log, cwd=run_dir, stdout=lf,
                  stderr=subprocess.STDOUT)


def metric_specs():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def tracing_overhead(result, results_dir):
    """Traced wall time minus the median untraced wall time of the same
    workload, run length and op count (untraced runs kept in this
    checkout)."""
    walls = []
    for f in results_dir.glob("*-t0-*.json"):
        r = json.loads(f.read_text())
        if (r["seconds"], r["attempted"]) == (result["seconds"], result["attempted"]):
            walls.append(r["end_to_end"]["wall_s"])
    if not walls:
        return None
    base = statistics.median(walls)
    traced = result["end_to_end"]["wall_s"]
    return {"traced_wall_s": traced, "untraced_wall_s_median": base,
            "untraced_runs": len(walls), "overhead_s": traced - base,
            "overhead_frac": (traced - base) / base}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", metavar="FILE",
                    help="write the outputs seen as the workload's golden")
    a = ap.parse_args()

    e2e_spec, layer_spec = metric_specs()
    cp = build()
    stamp = time.strftime("%Y%m%d-%H%M%S")
    run_dir = OUT_DIR / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.record_golden:
        args += ["--record-golden", str(Path(a.record_golden).resolve())]
    done = False
    try:
        run_java(cp, args, run_dir, RECORD_TIMEOUT_S if a.record_golden else RUN_TIMEOUT_S)
        result_file = run_dir / "result.json"
        if not result_file.is_file():
            fail(f"run wrote no result; see {run_dir / 'run.log'}")
        result = json.loads(result_file.read_text())
        results_dir = OUT_DIR / "results" / a.workload
        results_dir.mkdir(parents=True, exist_ok=True)
        name = f"s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
        overhead = None
        if a.trace:
            overhead = tracing_overhead(result, results_dir)
            trace = json.loads((run_dir / "trace.json").read_text())
            trace["tracing_overhead"] = overhead
            (results_dir / f"{name}.trace.json").write_text(json.dumps(trace) + "\n")
        (results_dir / f"{name}.json").write_text(json.dumps(result) + "\n")
        done = True
    finally:
        # a failed run keeps its directory (and log) for inspection
        if done:
            shutil.rmtree(run_dir, ignore_errors=True)

    spec = layer_spec if a.trace else e2e_spec
    source = result["per_layer"] if a.trace else result["end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in source]
    if missing:
        fail(f"run did not report {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in spec}

    attempted, failed = result["attempted"], result["failed"]
    for f in result["failures"]:
        print(f"[perfbench] FAILED op {f['op']} {f['name']}: {f['error']}")
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(f"fail_frac = {failed / attempted:.6g} ({failed} of {attempted} ops)")
    tail = result.get("op_s_tail")
    if tail:
        print(f"op_s_tail = {tail['value']:.6g} s (p{tail['percentile']} of {tail['samples']} ops)")
    else:
        print(f"op_s_tail: omitted, {attempted} ops leave no percentile with 10 ops beyond it")
    if a.trace:
        print(f"trace: {results_dir / (name + '.trace.json')}")
        if overhead:
            print(f"tracing overhead = {overhead['overhead_s']:.6g} s "
                  f"({overhead['overhead_frac']:.2%} of the untraced median wall_s "
                  f"over {overhead['untraced_runs']} runs)")
        else:
            print("tracing overhead: no untraced run of this workload to compare with")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
