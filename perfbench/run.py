#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload batch|serve \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the library and
the benchmark from source with sbt; a copy of the compiled classes is cached
under .bench_build/ by a hash of the sources. Each run then

1. generates the workload's inputs from the seed (perfbench/gen.py), before
   any timing, and reports the time as bench.generate_s;
2. runs the workload in one JVM with a session from graft's own factory
   (graft.core.Sessions.local), timed for --seconds;
3. checks every output: gate outputs against the DuckDB oracle and the cold
   pass fingerprint, serve replies against their planted truth;
4. prints every metric as `name value unit`, then one JSON line:
   {"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics
   with --trace 0, the per-layer metrics with --trace 1.

Spans of a traced run go to .bench_build/traces/, each run's full record to
.bench_build/results/.
"""
import argparse
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
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("batch", "serve")
# Gate input scale: 1/100 of TPC-H sf1 row counts, 500 documents.
TABLE_SF = 0.01
RUN_LIMIT_S = 175  # a run (after any build) must end within this
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key():
    """Hash of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile library + benchmark; return the runtime classpath.

    sbt's class directories hold whichever source state was compiled last, so
    the cache keeps its own copy of them per source hash: a classpath found
    in the cache names only those copies and the unchanging jars."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no graft sources under {ROOT}; run from a source checkout")
    cache = BUILD / f"classes-{source_key()}"
    cp_file = cache / "classpath.txt"
    if cp_file.is_file():
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    lines = log.read_text().splitlines()
    if rc != 0 or not lines or lines[-1].startswith("["):
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (rc={rc}); log in {log}")
    shutil.rmtree(cache, ignore_errors=True)
    cache.mkdir(parents=True)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if Path(entry).is_dir():
            shutil.copytree(entry, cache / str(i))
            entry = str(cache / str(i))
        entries.append(entry)
    cp = os.pathsep.join(entries)
    # written last: a cache entry without it is incomplete and gets rebuilt
    (cache / "classpath.tmp").write_text(cp)
    (cache / "classpath.tmp").rename(cp_file)
    return cp


def generate(workload, seed, into, corrupt):
    t0 = time.perf_counter()
    if workload == "serve":
        gen.serve(str(into / "serve"), seed)
        if corrupt:
            gen.corrupt_truth(str(into / "serve"))
    else:
        gen.tables(str(into / "tables"), seed, sf=TABLE_SF)
    return time.perf_counter() - t0


def corrupt_oracle(verify_dir):
    """Spoil the first gate's oracle answer (the self-test of the checks)."""
    path = verify_dir / "oracle_sql.json"
    sqls = json.loads(path.read_text())
    first = sorted(sqls)[0]
    sqls[first] = f"SELECT * FROM ({sqls[first]}) LIMIT 0"
    path.write_text(json.dumps(sqls))


def run_jvm(cp, args, work, budget_s):
    log = work / "jvm.log"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", cp, "graft.perfbench.Main", *args]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    lines = log.read_text(errors="replace").splitlines()
    if rc != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"workload JVM failed ({rc}); log in {log}")
    print("\n".join(ln for ln in lines if ln.startswith("perfbench:")), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-truth", action="store_true",
                    help="spoil the planted truth; the run must then report failures")
    a = ap.parse_args()

    cp = build()
    t_start = time.perf_counter()
    work = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen_s = generate(a.workload, a.seed, work / "in", a.corrupt_truth)
        out = work / "out"
        t_jvm = time.perf_counter()
        run_jvm(cp, ["--workload", a.workload, "--in", str(work / "in"),
                     "--out", str(out), "--seconds", str(a.seconds),
                     "--trace", str(a.trace)],
                work, RUN_LIMIT_S - (time.perf_counter() - t_start))
        jvm_s = time.perf_counter() - t_jvm
        rec = json.loads((out / "result.json").read_text())
        failures = list(rec["failures"])
        attempted, failed = rec["attempted"], rec["failed"]
        if a.workload != "serve":
            if a.corrupt_truth:
                corrupt_oracle(out / "verify")
            checked, bad = oracle.check(work / "in" / "tables", out / "verify")
            attempted += checked
            failed += len(bad)
            failures += bad
        rec["extra"][f"{a.workload}.fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}
        rec["extra"]["bench.generate_s"] = {"value": gen_s, "unit": "s"}
        for d in ("results", "traces"):
            (BUILD / d).mkdir(parents=True, exist_ok=True)
        stem = f"{a.workload}-s{a.seed}-t{a.trace}"
        (BUILD / "results" / f"{stem}.json").write_text(json.dumps(rec, indent=1))
        if (out / "trace.json").is_file():
            shutil.copy(out / "trace.json", BUILD / "traces" / f"{stem}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: generate {gen_s:.1f} s, jvm {jvm_s:.1f} s, "
          f"total {time.perf_counter() - t_start:.1f} s", file=sys.stderr)

    for f in failures:
        print(f"FAIL {f}")
    for group in ("end_to_end", "per_layer", "extra"):
        for k, m in rec[group].items():
            print(f"{k} {m['value']} {m['unit']}")
    metrics = rec["per_layer"] if a.trace else rec["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
