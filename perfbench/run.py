#!/usr/bin/env python3
"""Run one benchmark workload against the engine, built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt on first use (or when a source
file changed), runs the workload in a fresh JVM inside its own work
directory under perfbench/.work/, checks the outputs, and prints as the
last line of stdout one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The lines before it name every metric of the
workload with its unit, every failed operation and every output check.

    python3 perfbench/run.py --record-fingerprints

re-records perfbench/fingerprints.json, the registry subset's reference
row counts and hashes. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
RESULTS = BENCH / ".results"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build if needed; return the harness runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main", HARNESS / "build.sbt"):
        if not need.exists():
            fail(f"cannot build: {need.relative_to(ROOT)} is missing")
    digest = source_digest()
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists() and (BUILD / "digest.txt").exists() \
            and (BUILD / "digest.txt").read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cp = lines[-1].strip()
    if ".jar" not in cp:
        fail(f"build printed no classpath; log in {log}")
    cp_file.write_text(cp + "\n")
    (BUILD / "digest.txt").write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def wait(proc, timeout):
    """Wait for `proc`; on timeout kill its whole process group."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def harness(cp, args, work):
    """Run the harness JVM in `work`; return its exit code."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_INDEX_DIR"] = str(work / "index")
    env.pop("SPARK_GRAFT_STREAM_SHUFFLE", None)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    log = work / "harness.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, RUN_TIMEOUT_S)
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json is missing")
    spec = json.loads(spec_path.read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.record_fingerprints and a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {workloads}")

    cp = classpath()
    WORK.mkdir(parents=True, exist_ok=True)
    name = "record" if a.record_fingerprints else f"{a.workload}-{a.seed}-{a.trace}"
    work = WORK / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    common = ["--work", str(work), "--data", str(BENCH / "data")]
    try:
        if a.record_fingerprints:
            code = harness(cp, common + ["--record", str(BENCH / "fingerprints.json")], work)
            if code != 0:
                fail(f"recording failed (exit {code})")
            print(f"perfbench: wrote {BENCH / 'fingerprints.json'}")
            return
        code = harness(cp, common + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fingerprints", str(BENCH / "fingerprints.json"),
            "--out", str(out)], work)
        if code != 0 or not out.exists():
            fail(f"harness failed (exit {code})")
        res = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    RESULTS.mkdir(parents=True, exist_ok=True)
    (RESULTS / f"{name}.json").write_text(json.dumps(res, indent=1) + "\n")
    report(spec, res, a.trace)


def report(spec, res, trace):
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    if set(res["end_to_end"]) != set(e2e):
        fail(f"end-to-end metrics {sorted(res['end_to_end'])} != {sorted(e2e)}")
    unknown = set(res["per_layer"]) - set(layer)
    if unknown:
        fail(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload does not exercise reads 0
    res["per_layer"] = {k: res["per_layer"].get(k, 0.0) for k in layer}
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {res['workload']}: attempted {attempted}, failed {failed}, "
          f"failed_frac {failed / max(attempted, 1):.6f}")
    for k, v in res["end_to_end"].items():
        print(f"  {k} = {v} {e2e[k]['unit']}")
    for k, v in res["named"].items():
        print(f"  {k} = {v['value']} {v['unit']}")
    for f in res["failures"]:
        print(f"  FAILED {f['name']}: {f['exception']}")
    bad = [c for c in res["checks"] if not c["ok"]]
    print(f"  checks: {len(res['checks']) - len(bad)} of {len(res['checks'])} passed")
    for c in bad:
        print(f"  CHECK FAILED {c['name']}: {c['detail']}")
    for k, v in res["context"].items():
        print(f"  context {k}: {v}")
    chosen = (res["per_layer"], layer) if trace else (res["end_to_end"], e2e)
    metrics = {k: {"value": v, "unit": chosen[1][k]["unit"]}
               for k, v in chosen[0].items()}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
