#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into $CARGO_TARGET_DIR/perfbench
(default .bench_build/perfbench) and caches the classpath keyed on a hash of
the sources; later runs start the JVM directly. Build and JVM output go to
stderr. Exit status is 0 only when every output matched its reference.

    python3 perfbench/run.py --selftest

runs the harness's own checks (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout clean of __pycache__
ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JAVA_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("stream_events", "batch_registry")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (MAIN_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile (or reuse) the harness; returns the runtime classpath."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building with sbt (offline) ...")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-Dperfbench.target=" + os.path.join(out, "target")])
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(res.stdout)
    if res.returncode != 0:
        raise SystemExit(f"sbt build failed ({res.returncode})")
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "classes" not in cp or cp.startswith("["):
        raise SystemExit("sbt did not print a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # write the build's output back now rather than during the first run
    os.sync()
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, workload, seed, seconds, trace, cores, deadline):
    """One harness JVM; returns its result object (or None if it died).
    batch_registry outputs are checked against the DuckDB oracle here."""
    work = os.path.join(build_dir(), "work", f"{workload}-c{cores}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap keeps peak RSS from following G1's
        # resizing and page-touching decisions, so it moves with native and
        # off-heap memory
        f"-Xms{JAVA_HEAP}", f"-Xmx{JAVA_HEAP}", "-XX:+AlwaysPreTouch",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores), "--work", work,
        "--out", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{workload}: JVM killed at the run deadline")
        return None
    if not os.path.exists(result):
        log(f"{workload}: JVM exited {proc.returncode} without a result")
        return None
    with open(result) as f:
        out = json.load(f)
    if workload == "batch_registry":
        import oracle
        errors = oracle.check(os.path.join(work, "out"))
        out["errors"] += errors
        out["failed"] += len(errors)
        out["correct"] = out["correct"] and not errors
    if trace:
        keep = os.path.join(build_dir(), "last_trace", f"{workload}-c{cores}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for name in ("spans.json", "result.json"):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), keep)
    shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="local[N] for the session (default: up to 4)")
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(MAIN_SRC) or not os.path.isfile(os.path.join(HERE, "build.sbt")):
        log("no engine sources here: run from the root of a repository checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    sys.path.insert(0, HERE)

    if args.selftest:
        import selftest
        return selftest.main(spec, lambda *a: run_jvm(cp, *a, deadline=time.time() + RUN_TIMEOUT_S))

    if args.workload is None:
        ap.error("--workload is required")
    out = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, args.cores,
                  time.time() + RUN_TIMEOUT_S)
    if out is None:
        return 4
    layer = out["layer"]
    log("per-layer: " + json.dumps(layer, sort_keys=True))
    for e in out["errors"]:
        log("MISMATCH " + e)

    if args.trace:
        wanted = spec["per_layer"]
        unknown = sorted(set(layer) - {m["name"] for m in wanted})
        if unknown:
            log(f"metrics missing from BENCHMARK.json: {unknown}")
            return 5
        # a layer this workload does not exercise reads 0
        values = {m["name"]: layer.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        if set(out["e2e"]) != {m["name"] for m in wanted}:
            log(f"end-to-end metrics {sorted(out['e2e'])} do not match BENCHMARK.json")
            return 5
        values = out["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    log(f"run took {time.time() - started:.1f} s")
    print(json.dumps({"correct": bool(out["correct"]), "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
