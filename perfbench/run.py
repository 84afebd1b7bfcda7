#!/usr/bin/env python3
"""Build the engine from source, run one benchmark workload, print one JSON
result line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine and the benchmark's Scala sources
are compiled with the Scala compiler that ships in the Spark jars directory
named by build.sbt, into `.bench_build/`. Inputs, Spark scratch space and
reports go to `.bench_work/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import plan as txplan  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("catalog", "txlog_rw")
JVM_TIMEOUT_S = 170
# A run that starts while other threads keep a quarter of the cores busy may
# not become a baseline.
CONTENDED_RUNNABLE_PER_CPU = 0.25
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir(root):
    """The Spark jars directory build.sbt compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        fail("build.sbt names no unmanagedBase jars directory")
    d = Path(m.group(1))
    if not d.is_dir():
        fail(f"Spark jars directory {d} is missing")
    return d


def build(root):
    """Compile src/main and the benchmark's sources once per source state."""
    srcs = sorted((root / "src/main/scala").rglob("*.scala")) + \
        sorted((BENCH / "src").rglob("*.scala"))
    res_dir = root / "src/main/resources"
    resources = sorted(p for p in res_dir.rglob("*") if p.is_file()) if res_dir.is_dir() else []
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()[:16]
    build_dir = root / ".bench_build"
    out = build_dir / f"classes-{digest}"
    jars = sorted(jars_dir(root).glob("*.jar"))
    if not (out / ".ok").exists():
        if build_dir.is_dir():
            for old in build_dir.glob("classes-*"):
                shutil.rmtree(old)
        out.mkdir(parents=True)
        compiler = [str(j) for j in jars
                    if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
        t0 = time.time()
        cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(map(str, jars)),
               "-d", str(out)] + [str(p) for p in srcs]
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            fail("compilation failed")
        for p in resources:
            dst = out / p.relative_to(res_dir)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(p, dst)
        (out / ".ok").touch()
        print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return out, jars, digest


def runnable_others():
    """Threads other than this one ready to run, the median of ten samples
    over one second. Unlike the 1-minute loadavg it does not still count a
    benchmark process that has just ended."""
    samples = []
    for _ in range(10):
        with open("/proc/stat") as f:
            n = next(int(line.split()[1]) for line in f if line.startswith("procs_running"))
        samples.append(n - 1)
        time.sleep(0.1)
    return sorted(samples)[len(samples) // 2]


def commit_of(root):
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cmd):
    """Run the benchmark JVM; it is killed if this process is stopped or
    the JVM outlives its time limit."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")


def java_cmd(classes, jars, work, main_class, args, heap):
    """The JVM command line for one of the compiled mains, with the module
    opens Spark needs on JDK 17 and every temp file kept under `work`."""
    # -XX:-UsePerfData: the JVM would otherwise write its perf file to /tmp
    return ["java", "-XX:-UsePerfData"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
        f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join([str(classes)] + [str(j) for j in jars]), main_class] + args


def check_outputs(res):
    """Compare the JVM's output checks with the expected values in
    `expected/` (see expected.py for how they are made). Returns the names
    of ops whose output is wrong, and whether every check could be made.
    txlog_rw reads are checked against the keyed model inside the run."""
    if res["workload"] != "catalog":
        return set(), True
    bad, complete = set(), True
    groups = {"catalog": {n: c for n, c in res["checks"].items() if n != "corpus"}}
    if "corpus" in res["checks"]:
        groups["corpus"] = {"prepare_full": res["checks"]["corpus"]}
    for name, got in groups.items():
        p = BENCH / "expected" / f"{name}.json"
        if not p.exists():
            complete = False
            continue
        want = json.loads(p.read_text())
        wrong = {n for n in set(got) | set(want) if got.get(n) != want.get(n)}
        for n in sorted(wrong):
            print(f"[perfbench] output check failed: {n} got {got.get(n)} want {want.get(n)}",
                  file=sys.stderr)
        bad |= wrong
    return bad, complete


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala"):
        if not (root / need).exists():
            fail(f"run from the repository root: {need} not found in {root}")
    load_before = os.getloadavg()[0]
    busy_before = runnable_others()
    classes, jars, source_hash = build(root)

    work = root / ".bench_work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = work / f"result-{tag}.json"
    out.unlink(missing_ok=True)
    plan_file = work / f"plan-s{a.seed}.txt"
    plan_file.write_text(txplan.plan_text(txplan.txlog_plan(a.seed)))

    heap = "4g"
    cmd = java_cmd(classes, jars, work, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(BENCH / "data"), "--work", str(work),
        "--out", str(out), "--plan", str(plan_file)], heap)
    rc = run_jvm(cmd)
    if rc != 0 or not out.exists():
        fail(f"benchmark JVM exited with {rc}")
    res = json.loads(out.read_text())
    load_after = os.getloadavg()[0]

    bad, checked = check_outputs(res)
    for o in res["ops"]:
        if o["name"] in bad:
            o["ok"] = False
    attempted = len(res["ops"])
    failed = stats.failed_count(res["ops"])
    metrics = stats.per_layer(res) if a.trace else stats.end_to_end(res)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "commit": commit_of(root), "source_hash": source_hash, "cpus": res["cpus"],
        "heap": heap, "spark_version": res["spark_version"], "spark_confs": res["confs"],
        "loadavg_before": load_before, "loadavg_after": load_after,
        "runnable_before": busy_before,
        "contended": busy_before >= CONTENDED_RUNNABLE_PER_CPU * res["cpus"],
        "calibration_s": res["calibration_s"],
        "setup": {"jvm_to_main_s": res["jvm_to_main_s"], "session_s": res["session_s"],
                  "warmup_s": res["warmup_s"], "input_prepare_s": res["prepare_s"]},
        "runs": len([r for r in res["runs"] if not r["traced"]]),
        "traced_runs": len([r for r in res["runs"] if r["traced"]]),
        "tails": stats.tails(res), "checked": checked, "checks": res["checks"],
        "metrics": metrics,
        "layers": stats.layer_table(res) if a.trace else {},
    }
    (work / f"report-{tag}.json").write_text(json.dumps(report, indent=1) + "\n")
    if report["contended"]:
        print(f"[perfbench] WARNING: {busy_before} other runnable threads at start on "
              f"{res['cpus']} cpus: "
              "contended, not a baseline", file=sys.stderr)
    print("perfbench-report " + json.dumps({k: report[k] for k in (
        "commit", "source_hash", "cpus", "loadavg_before", "loadavg_after",
        "runnable_before", "contended",
        "calibration_s", "runs", "traced_runs", "tails")}))
    print(json.dumps({
        "correct": checked and failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
