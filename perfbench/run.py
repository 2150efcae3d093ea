#!/usr/bin/env python3
"""Benchmark of the engine as users run it.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads:

  serve      a closed loop of clients against the in-process REST server
             over a 5,000-point, 64-d collection with 10,000 edges: a read
             phase (exact/filtered/ANN kNN, BM25, hybrid, MATCH 2-hop, GET;
             half repeating a hot request per kind) then a write phase
             (fresh reads, 50-point upserts, 50-edge upserts, 10-id deletes).
  analytics  four SparkEntry rows over a generated TPC-H-shaped dataset,
             one client, cold pass then timed passes.

The first call in a checkout builds the engine and the harness from source
with sbt (perfbench/build.sbt) into `.bench_build` and `target` dirs. Each
run works in its own directory under `.bench_build/runs`, with its own data
dir, Spark local dir and derived-table cache (java.io.tmpdir), and deletes it
at the end. The last line of stdout is the result JSON; `--trace 1` reports
per-layer metrics instead of end-to-end ones. `--tiny 1` shrinks every size
for the self-check (perfbench/selfcheck.py), and `--corrupt <gate,...>`
corrupts those gates' expected answers to show that each gate fires.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve", "analytics")
# analytics dataset scale (lineitem ~ 6M x sf)
ANALYTICS_SF = 0.001
TINY_SF = 0.0005
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
START = time.monotonic()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_proc(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(classpath, tmp, heap=HEAP):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", *opens, "-cp", classpath]


def build():
    """Compile the engine and the harness (once per source tree)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    oracle_file = os.path.join(BUILD, "oracle_sql.json")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(cp_file) and os.path.exists(oracle_file)):
        return open(cp_file).read().strip(), oracle_file
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.monotonic()
    code, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       HERE, env, BUILD_LIMIT_S, sys.stderr)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {code})", 3)
    cp = open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp-build")
    os.makedirs(tmp, exist_ok=True)
    code, _ = run_proc(java_cmd(cp, tmp, "1g") + ["perfbench.Main", "--dump-oracle", oracle_file],
                       ROOT, env, 120, sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail("could not read the engine's oracle SQL", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.monotonic() - t0:.0f} s")
    return cp, oracle_file


def analytics_gates(results_dir, expected, pass_rows, corrupt):
    """Compare each exported result with its oracle answer, and every
    timed pass's row count with the exported result's. Returns (gate
    failures, mean share of each query's first 10 oracle rows, in
    normalized order, that the engine's answer holds)."""
    import oracle
    failures = {}
    recalls = []
    for q, exp in sorted(expected.items()):
        got = oracle.engine_answer(results_dir, q)
        want = dict(exp)
        if "oracle_hash" in corrupt:
            want["hash"] = "0" * 16
        if (got["cols"], got["rows"], got["hash"]) != (want["cols"], want["rows"], want["hash"]):
            failures[f"oracle_hash:{q}"] = (f"cols {got['cols']} vs {want['cols']}, rows "
                                            f"{got['rows']} vs {want['rows']}, hash {got['hash']} vs {want['hash']}")
        want_rows = got["rows"] + (1 if "pass_rowcount" in corrupt else 0)
        if any(n != want_rows for n in pass_rows.get(q, [])):
            failures[f"pass_rowcount:{q}"] = f"timed passes {pass_rows.get(q)} vs exported {got['rows']}"
        top = exp["lines"][:10]
        if top:
            recalls.append(sum(1 for ln in top if ln in set(got["lines"])) / len(top))
    return failures, (sum(recalls) / len(recalls) if recalls else 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default="")
    a = ap.parse_args()

    classpath, oracle_file = build()
    n = cpus()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--run-dir", run_dir,
                "--cpus", str(n), "--tiny", str(a.tiny),
                "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.jsonl")]
        if a.corrupt:
            args += ["--corrupt", a.corrupt]
        expected = None
        t_gen = 0.0
        if a.workload == "analytics":
            sys.path.insert(0, HERE)
            import oracle
            import tables
            t0 = time.monotonic()
            data = os.path.join(run_dir, "tables")
            tables.generate(data, a.seed, TINY_SF if a.tiny else ANALYTICS_SF)
            sqls = json.load(open(oracle_file))
            expected = oracle.expected(data, sqls, threads=n)
            t_gen = time.monotonic() - t0
            args += ["--data", data, "--results", os.path.join(run_dir, "results")]
        left = RUN_LIMIT_S - (time.monotonic() - START)
        code, out = run_proc(java_cmd(classpath, tmp) + args, ROOT, dict(os.environ),
                             max(10, left), subprocess.PIPE)
        if code is None:
            fail("benchmark JVM timed out", 4)
        lines = out.splitlines()
        rec = [l for l in lines if l.startswith("PERFBENCH_RECORD ")]
        res = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
        if code != 0 or not res:
            fail(f"benchmark JVM failed (exit {code})", 5)
        record = json.loads(rec[-1][len("PERFBENCH_RECORD "):]) if rec else {}
        result = json.loads(res[-1][len("PERFBENCH_RESULT "):])
        failed_gates = list(result.pop("failed_gates"))
        if expected is not None:
            failures, recall = analytics_gates(os.path.join(run_dir, "results"), expected,
                                               record.get("pass_rows", {}), a.corrupt.split(","))
            failed_gates += sorted(failures)
            record["oracle"] = {"checked": len(expected), "failed": failures,
                                "without_oracle": sorted(set(json.load(open(oracle_file))) - set(expected)),
                                "generate_and_oracle_s": round(t_gen, 3)}
            if "recall_at_10" in result["metrics"]:
                result["metrics"]["recall_at_10"]["value"] = recall
        record["failed_gates"] = failed_gates
        result["correct"] = bool(result["correct"]) and not failed_gates
        print("PERFBENCH_RECORD " + json.dumps(record, sort_keys=True))
        print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
