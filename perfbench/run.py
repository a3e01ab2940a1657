#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload bulk_load|query_suite \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark with sbt (offline); later runs reuse the build while no source
file changed. Each run generates its inputs from the seed, runs the
workload in a fresh JVM (`graft.perfbench.Main`), checks every output and
prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
BUILD_TIMEOUT_S = 850

# input sizes per workload; see README.md for why
SIZES = {
    "bulk_load": dict(rows=200_000, warm_rows=200_000),
    "query_suite": dict(scale=1.0, warm_scale=0.01),
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def _fingerprint():
    """Sizes and mtimes of every build input, to reuse a matching build."""
    parts = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                parts.append(f"{os.path.join(d, f)}:{st.st_size}:{st.st_mtime_ns}")
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        st = os.stat(f)
        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def build():
    """Compile program + benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) and
            os.path.isfile(os.path.join(ROOT, "tools", "compare.py"))):
        fail("the program's sources (build.sbt, src/main/scala/graft, tools/compare.py) "
             "are not in this directory; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cache = os.path.join(HERE, "target", "perfbench-classpath.json")
    stamp = _fingerprint()
    if os.path.isfile(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building program and benchmark with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(p.stdout[-4000:])
        log(p.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return classpath


def generate(workload, seed, data):
    t0 = time.perf_counter()
    size = SIZES[workload]
    if workload == "bulk_load":
        gen.gen_bulk(data, seed, **size)
    else:
        gen.gen_suite(data, seed, size["scale"])
        gen.gen_suite(os.path.join(data, "warm"), seed, size["warm_scale"])
    return time.perf_counter() - t0


def run_jvm(classpath, args, work, budget_s):
    cmd = ["java", "-Xmx3g", *JVM_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.Main", *args]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # also on SIGTERM (see main) or an interrupt: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(os.path.join(work, "jvm.log"), errors="replace") as f:
        jvm_log = f.read()
    if rc != 0:
        log(jvm_log[-6000:])
        fail("the workload's JVM " + ("timed out" if rc is None else f"exited with {rc}"), 3)
    for line in jvm_log.splitlines():
        if line.startswith("perfbench: "):
            log(line)


def check_queries(data, work, budget_s):
    """Compare each query result of the run with its DuckDB oracle through
    the repo's own gate, `tools/compare.py`; a result without an oracle must
    also be non-empty. Returns (results checked, mismatch messages)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"), data,
                        os.path.join(work, "results")],
                       cwd=work, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=max(10, budget_s))
    lines = p.stdout.splitlines()
    per_query = [x for x in lines if x.startswith(("X ", "  "))]
    bad = [x.strip() for x in per_query if x.startswith("X ") or x.endswith("!! EMPTY")]
    if p.returncode != 0 and not bad:
        bad.append(f"tools/compare.py exited with {p.returncode}: {p.stderr.strip()[-2000:]}")
    return len(per_query), bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    t_start = time.monotonic()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, "work", run_id)
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    data = os.path.join(work, "data")
    try:
        gen_s = generate(a.workload, a.seed, data)
        result_path = os.path.join(out_dir, f"{run_id}.json")
        args = ["--workload", a.workload, "--data", data, "--work", work,
                "--out", result_path, "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--spans", os.path.join(out_dir, f"{run_id}-spans.jsonl")]
        run_jvm(classpath, args, work, DEADLINE_S - (time.monotonic() - t_start))
        with open(result_path) as f:
            r = json.load(f)
        attempted, failed, errors = r["attempted"], r["failed"], list(r["errors"])
        if a.workload == "query_suite":
            checked, bad = check_queries(data, work,
                                         DEADLINE_S - (time.monotonic() - t_start))
            attempted += checked
            failed += len(bad)
            errors += bad
            r["named"]["error_rate"] = failed / max(1, attempted)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = gen_s + r["setup_jvm_s"]
    if a.trace:
        values = r["per_layer"]
    else:
        values = dict(r["end_to_end"], setup_s=setup_s)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(want) != set(values):
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(want) ^ set(values))}", 4)
    metrics = {k: {"value": values[k], "unit": want[k]} for k in sorted(values)}

    named = dict(r["named"], setup_s=setup_s)
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"attempted={attempted} failed={failed}")
    for k in sorted(named):
        print(f"  {k:24s} {named[k]:.6g}")
    host = r["host"]
    print("  host: " + " ".join(f"{k}={host[k]:.3g}" for k in sorted(host)))
    for e in errors[:20]:
        print(f"  MISMATCH {e}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
