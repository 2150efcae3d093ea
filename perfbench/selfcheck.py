#!/usr/bin/env python3
"""Tiny-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

For every workload in BENCHMARK.json it runs run.py at tiny sizes and
checks that

  - an untraced run is correct and prints every end-to-end metric with its
    unit, and a traced run every per-layer metric;
  - with every gate's expected answer corrupted, the run reports
    correct=false and names each gate among its failed gates.

Exits 1 and names the failed checks if any fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GATES = {
    "serve": ["knn_exact_topk", "knn_filtered_topk", "bm25_term", "hybrid_ids",
              "match2_adjacency", "get_payload", "read_your_writes", "restart_durability"],
    "analytics": ["oracle_hash", "pass_rowcount"],
}


def run(workload, trace, corrupt=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--tiny", "1"]
    if corrupt:
        cmd += ["--corrupt", ",".join(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, None, f"exit {p.returncode}: {p.stderr[-500:]}"
    record = next((json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("PERFBENCH_RECORD ")), {})
    return json.loads(lines[-1]), record, None


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, _, err = run(w, trace)
            if err:
                problems.append(f"{w} trace={trace}: {err}")
                continue
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: not correct")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or malformed: {got}")
            print(f"{w} trace={trace}: {len(res['metrics'])} metrics, correct={res['correct']}", flush=True)
        res, record, err = run(w, 0, GATES[w])
        if err:
            problems.append(f"{w} corrupted: {err}")
            continue
        fired = record.get("failed_gates", [])
        for g in GATES[w]:
            if not any(f == g or f.startswith(g + ":") for f in fired):
                problems.append(f"{w}: gate {g} did not fire on a corrupted expected answer")
        if res["correct"]:
            problems.append(f"{w}: corrupted run reported correct")
        print(f"{w} corrupted: failed gates {sorted(set(f.split(':')[0] for f in fired))}", flush=True)
    for p in problems:
        print("SELFCHECK FAIL " + p)
    print("SELFCHECK " + ("FAIL" if problems else "OK"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
