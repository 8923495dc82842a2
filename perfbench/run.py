#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload store_cycle --seed 7 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use (and
again whenever a source file changes), then runs the benchmark JVM once.
The benchmark's own lines pass through; the last stdout line is the
result object. Build outputs, scratch data and span files stay under
`.bench_build/` in the checkout.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the engine build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change calls for a rebuild."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = os.environ.copy()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + benchmark if the sources changed; returns the
    runtime classpath."""
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "stamp.txt"
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_hash()
        if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == digest:
            return cp_file.read_text().strip()
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt not found on PATH")
        t0 = time.time()
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            fail(f"build failed (sbt exit {proc.returncode})")
        cps = [l for l in proc.stdout.splitlines()
               if ".jar" in l and os.pathsep in l and not l.startswith("[")]
        if not cps:
            fail("build did not report a classpath")
        cp_file.write_text(cps[-1])
        stamp_file.write_text(digest)
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
        return cps[-1]


def failed_run(traced, why, code):
    """Prints the result line of a run that did not produce a valid one
    (timeout, crash, malformed output) and exits with `code`: one failed
    operation, every end-to-end metric at its worst value for its direction
    (0 when higher is better, 1e9 when lower is), per-layer metrics 0, as
    the benchmark JVM prints a metric it did not get to measure."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {
        m["name"]: {"value": 0 if traced or m["better"] == "higher" else 1e9, "unit": m["unit"]}
        for m in spec["per_layer" if traced else "end_to_end"]}
    print(f"perfbench: {why}", file=sys.stderr)
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(code)


def check_result(line, traced):
    """The result object must carry exactly the metrics BENCHMARK.json names."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        res = json.loads(line)
    except ValueError:
        return "the last line is not a JSON object"
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        return "the last line is not a result object"
    want = {m["name"] for m in spec["per_layer" if traced else "end_to_end"]}
    got = set(res["metrics"])
    if got != want:
        return f"metrics differ from BENCHMARK.json: missing {sorted(want - got)}, extra {sorted(got - want)}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", help="print doc_pipeline pins for seeds FROM-TO instead")
    a = ap.parse_args()
    if not a.pins and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    if not (ROOT / "BENCHMARK.json").exists():
        fail("BENCHMARK.json missing")
    names = [w["name"] for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]]
    if not a.pins and a.workload not in names:
        fail(f"--workload must be one of {', '.join(names)}")
    cp = build()
    java = shutil.which("java") or fail("java not found on PATH")
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = OUT / "work" / run_id
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spans = OUT / "spans" / f"{run_id}.jsonl"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if a.pins:
        cmd += ["-cp", cp, "perfbench.Pins", "--pins", a.pins, "--work", str(work)]
        code = subprocess.call(cmd, cwd=ROOT)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--spans", str(spans)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        os.killpg(proc.pid, 9)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        partial = e.stdout or ""
        sys.stderr.write(partial.decode() if isinstance(partial, bytes) else partial)
        failed_run(a.trace == 1, f"run exceeded {RUN_TIMEOUT_S}s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        failed_run(a.trace == 1, f"benchmark JVM exited {proc.returncode}", 3)
    problem = check_result(lines[-1], a.trace == 1)
    if problem:
        sys.stderr.write(out[-4000:])
        failed_run(a.trace == 1, problem, 3)
    print("\n".join(lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
