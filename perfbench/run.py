#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per run.

    python3 perfbench/run.py --workload wm_audit --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
benchmark program (sbt, offline) into perfbench/target; later runs reuse the
build while the sources are unchanged. The benchmark JVM (perfbench.Main, on
local[nproc]) writes a JSON artifact to perfbench/out/; this script adds the
process's peak RSS and, for the registry queries a run made, the DuckDB
oracle comparison, then prints one JSON line: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are BENCHMARK.json's
end_to_end list, with --trace 1 its per_layer list. Any failed op or check makes the exit code non-zero.

--selftest runs every workload briefly with a wrong output planted on purpose
(one flipped extracted bit, one wrong neighbour, one missing id, one dropped
result row) and passes only if each run reports the failure and exits
non-zero.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["wm_audit", "ann_serve", "ingest_verify", "registry_paper"]
RUN_LIMIT_S = 170  # a hung run is killed before three minutes are up

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src/main/**/*.scala"), recursive=True)
        + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources beside perfbench/ (run from a full checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    fp = sources_fingerprint()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(fp)
    return lines[-1]


def run_jvm(cp, workload, seed, seconds, trace, fault):
    """Run one JVM; return (artifact dict or None, peak RSS MB, exit code)."""
    tag = f"{workload}-s{seed}-t{trace}{'-fault' if fault else ''}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              workload, str(seed), str(seconds), str(trace), work, out]
           + (["fault"] if fault else []))
    log_path = os.path.join(OUT, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        deadline = time.time() + RUN_LIMIT_S
        status, rusage = None, None
        while status is None:
            pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                status, rusage = st, ru
            elif time.time() > deadline:
                # a thread dump into the log first, to show where it hung
                os.kill(proc.pid, signal.SIGQUIT)
                time.sleep(3)
                os.killpg(proc.pid, signal.SIGKILL)
                _, status, rusage = os.wait4(proc.pid, 0)
                print(f"perfbench: {tag} killed after {RUN_LIMIT_S} s", file=sys.stderr)
            else:
                time.sleep(0.1)
        proc.returncode = os.waitstatus_to_exitcode(status)
    doc = None
    if os.path.isfile(out):
        with open(out) as fh:
            doc = json.load(fh)
        spans = os.path.join(work, "spans.json")
        if os.path.isfile(spans):
            shutil.move(spans, os.path.join(OUT, f"{tag}.spans.json"))
        registry = os.path.join(work, "registry-dump")
        if os.path.isdir(registry):
            doc["oracle"] = oracle_compare(registry, os.path.join(work, "registry-data"))
    shutil.rmtree(work, ignore_errors=True)
    return doc, rusage.ru_maxrss / 1024.0, proc.returncode


def oracle_compare(dump, data):
    """Each dumped query against its oracle SQL in DuckDB, rows compared as
    sorted, column-name-ordered string tuples (the project's replay check).
    """
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{data}/embeddings.parquet/*.parquet'")
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    def canon(cur):
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return [cols[i] for i in order], sorted(
            tuple(str(r[i]) for i in order) for r in cur.fetchall())

    result = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(con.execute(f"SELECT * FROM '{dump}/{name}/*.parquet'"))
            want = canon(con.execute(sql))
            result[name] = "ok" if got == want else (
                f"mismatch: {len(got[1])} rows vs oracle {len(want[1])}")
        except Exception as e:  # a query the oracle cannot replay is a failed check
            result[name] = f"error: {type(e).__name__}: {str(e)[:200]}"
    return result


def bench_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def one_run(args, spec, fault=False):
    cp = build()
    doc, rss_mb, code = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, fault)
    if doc is None:
        print(f"perfbench: benchmark JVM exited {code} without a result", file=sys.stderr)
        return None, False
    attempted, failed = doc["attempted"], doc["failed"]
    failures = list(doc["failures"])
    for name, verdict in doc.get("oracle", {}).items():
        attempted += 1
        if verdict != "ok":
            failed += 1
            failures.append({"op": -1, "kind": f"oracle:{name}", "error": verdict})
    if args.trace:
        values = doc["per_layer"]
        wanted = spec["per_layer"]
    else:
        values = dict(doc["end_to_end"], peak_rss_mb=rss_mb)
        wanted = spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in failures[:20]:
        print(f"perfbench: failed {f['kind']} (op {f['op']}): {f['error']}", file=sys.stderr)
    if missing:
        print(f"perfbench: no value for {', '.join(missing)}", file=sys.stderr)
    correct = failed == 0 and not missing and code == 0
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}, correct


def selftest(spec):
    ok = True
    for w in WORKLOADS:
        args = argparse.Namespace(workload=w, seed=1, seconds=4, trace=0)
        res, correct = one_run(args, spec, fault=True)
        fired = res is not None and res["failed"] > 0 and not correct
        print(f"selftest {w}: planted fault {'reported' if fired else 'NOT reported'}"
              f" (failed={res and res['failed']})", file=sys.stderr)
        ok &= fired
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    spec = bench_spec()
    if args.selftest:
        return selftest(spec)
    if args.workload is None:
        fail("--workload is required")
    res, correct = one_run(args, spec)
    if res is None:
        return 1
    print(json.dumps(res))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
