"""The repository's benchmark: one closed-loop client on local[nproc].

Usage, from the repository root:
  python3 perfbench/run.py --workload <etl_load|report_queries|corpus_dedup>
                           --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM side
(perfbench/scala) and checks every op's answer (perfbench/refs.py). The
last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it carries the run's identity and details.
See perfbench/README.md.
"""
import argparse
import concurrent.futures
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analysis  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402
import refs  # noqa: E402

WORKLOADS = {"etl_load": "etl", "report_queries": "tpch", "corpus_dedup": "corpus"}
JVM_LIMIT_S = 150
DATAGEN_REPEATS = 3
JVM_FLAGS = ["-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, work, deadline):
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    log = open(os.path.join(work, "jvm.log"), "w")
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-cp", cp, "perfbench.Main"] + args
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def check(workload, result, inp, ties):
    """Check every op's answer; return the list of wrong ops (name, errors)."""
    ops = result["setup"]["ops"] + result["ops"]
    wrong = []
    if workload == "etl_load":
        try:
            exp = refs.etl_reference(inp)
        except Exception as e:  # a reference that raises makes every op wrong
            return [(o["op"], [f"reference failed: {e}"]) for o in ops]
        for o in ops:
            if not o["ok"]:
                wrong.append((o["op"], [o["error"]]))
                continue
            errors, t = refs.check_etl_op(o, exp)
            if errors:
                wrong.append((o["op"], errors))
            ties.setdefault("pipeline", []).extend(t)
        return wrong
    con = refs.connect(inp)
    out = os.path.join(os.path.dirname(inp), "out", "checked")
    checked = {o["op"]: o for o in result["setup"]["ops"]}

    def verify(name):
        o = checked[name]
        if not o["ok"]:
            return [o["error"]], []
        try:
            cur = con.cursor()
            cur.execute(refs.TIMEZONE)
            cols, rows, order = refs.reference(cur, name, result["oracles"])
            got_cols, got_rows = refs.read_parquet_dir(os.path.join(out, name))
            return refs.compare(got_cols, got_rows, cols, rows, order)
        except Exception as e:
            return [f"{type(e).__name__}: {e}"], []

    # one reference per query, computed concurrently (DuckDB releases the GIL)
    with concurrent.futures.ThreadPoolExecutor(cpus()) as pool:
        results = dict(zip(checked, pool.map(verify, checked)))
    con.close()
    verdict = {name: errors for name, (errors, _) in results.items()}
    ties.update({name: t for name, (_, t) in results.items() if t})
    for o in ops:
        name = o["op"]
        if not o["ok"]:
            wrong.append((name, [o["error"]]))
        elif verdict.get(name):
            wrong.append((name, verdict[name]))
        elif not refs.digest_matches(o["digest"], checked[name]["digest"], ties.get(name, [])):
            wrong.append((name, ["answer digest differs from the checked answer"]))
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.ensure()
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 2
    deadline = time.time() + JVM_LIMIT_S
    kind = WORKLOADS[a.workload]
    work = os.path.abspath(os.path.join(".bench_build", "work", f"{a.workload}-{os.getpid()}"))
    inp = os.path.join(work, "input")
    try:
        gen_s = []
        for _ in range(DATAGEN_REPEATS):
            t0 = time.time()
            digest = gen.generate(kind, a.seed, inp)
            gen_s.append(time.time() - t0)
        input_bytes = sum(os.path.getsize(os.path.join(inp, f)) for f in os.listdir(inp))
        n = cpus()
        t_jvm = time.time()
        result = run_jvm(cp, [a.workload, inp, os.path.join(work, "out"), str(a.seconds),
                              str(a.trace), str(a.seed), str(n)], work, deadline)
        t_check = time.time()
        ties = {}
        wrong = check(a.workload, result, inp, ties)
        result["harness_s"] = {"datagen": sum(gen_s), "jvm": t_check - t_jvm,
                               "check": time.time() - t_check}
        report(a, result, wrong, ties, n, digest, input_bytes, analysis.median(gen_s))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, result, wrong, ties, n, digest, input_bytes, datagen_s):
    ops = result["ops"]
    lat = [(o["end"] - o["start"]) / 1000.0 for o in ops]
    window_s = (result["window"]["end"] - result["window"]["start"]) / 1000.0
    setup = result["setup"]
    session_s, warmup_s = setup["session_s"], setup["warmup_s"]
    attempted = len(ops) + len(setup["ops"])
    failed = len(wrong)
    detail = {
        "workload": a.workload, "seed": a.seed, "cpus": n, "sizes": gen.sizes(WORKLOADS[a.workload]),
        "commit": build.source_digest(), "input_digest": digest, "seconds": a.seconds,
        "trace": a.trace, "timed_ops": len(ops), "passes": result["window"]["passes"],
        "fail_ratio": failed / attempted,
        "wrong_ops": [{"op": o, "errors": e[:3]} for o, e in wrong[:5]],
        "rounding_ties": {"count": sum(len(t) for t in ties.values()), "cells": ties},
        "op_p90_s": analysis.percentile(lat, 90) if analysis.p90_supported(len(lat)) else None,
        "op_latency_samples": len(lat),
        "harness_s": result["harness_s"],
    }
    if a.trace == 0:
        values = {
            "setup_s": session_s + datagen_s + warmup_s,
            "ops_per_s": len(ops) / window_s,
            "op_p50_s": analysis.median(lat),
            "live_heap_mb": result["live_heap_mb"],
        }
        section = "end_to_end"
    else:
        values, split, acc_errors = analysis.layer_metrics(result, a.workload, n, input_bytes)
        values.update({"setup.session_s": session_s, "setup.datagen_s": datagen_s,
                       "setup.warmup_s": warmup_s,
                       "trace.overhead": analysis.trace_overhead(ops)})
        section = "per_layer"
        detail.update({"split": split, "accounting": {
            "tolerance": analysis.ACCOUNTING_TOLERANCE, "ok": not acc_errors,
            "errors": acc_errors[:5]}})
    with open("BENCHMARK.json") as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[section]}
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
