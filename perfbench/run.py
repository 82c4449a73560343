"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload kv_point --seed 1 --seconds 15 --trace 0

Builds once per checkout (see build.py), writes the seeded inputs and
their expected values into a private run directory under
.bench_build/runs/ (deleted on exit), runs the workload in one fresh
JVM, checks the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. An earlier line (`detail ...`) carries each
workload's own figures, such as each operation kind's median.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Nominal seconds per round (kv_point: 120 requests and a compaction;
# bulk_etl: one cycle; llm_pipeline: one pass over the eight keys).
# The round count follows from --seconds alone, never from a clock, so
# every run with the same arguments does exactly the same work.
ROUND_SECONDS = {"kv_point": 7.5, "bulk_etl": 5.0, "llm_pipeline": 5.0}
MIN_ROUNDS = {"kv_point": 2, "bulk_etl": 3, "llm_pipeline": 3}
HEAP = "2g"
JVM_TIMEOUT_S = 170


def rounds_for(workload, seconds):
    return max(MIN_ROUNDS[workload], round(seconds / ROUND_SECONDS[workload]))


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(workload, inputs, run_dir, rounds, trace, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + build.java_opens() +
           ["-cp", build.classpath(), "perfbench.Main", workload, inputs,
            run_dir, str(rounds), str(trace), str(nproc())])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               cwd=run_dir,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            sys.exit(f"{workload}: JVM exceeded its time limit")
    if r.returncode != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        sys.stderr.write(open(log).read()[-6000:])
        sys.exit(f"{workload}: JVM exited with {r.returncode}")
    return json.load(open(os.path.join(run_dir, "result.json")))


def norm(v):
    """As tools/check.py: floats to 9 places, NaN as a string."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def rows_of(tbl):
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    return cols, [tuple(norm(v) for v in r)
                  for r in zip(*(c.to_pylist() for c in tbl.columns))]


def check_llm(run_dir):
    """Each key's rows against DuckDB's, plus properties that hold
    whatever the oracle says."""
    import pyarrow.parquet as pq
    bad = []
    expected = os.path.join(build.CORPUS, "expected")
    for key in sum(gen.FAMILIES.values(), []):
        files = sorted(glob.glob(os.path.join(run_dir, "out", key, "*.parquet")))
        if not files:
            bad.append(f"{key}: no output")
            continue
        got = pq.read_table(files)
        gcols, grows = rows_of(got)
        ecols, erows = rows_of(pq.read_table(os.path.join(expected, f"{key}.parquet")))
        if gcols != ecols or grows != erows:
            bad.append(f"{key}: {len(grows)} rows {gcols} != oracle "
                       f"{len(erows)} rows {ecols}")
        if key == "q_dedup_exact":
            ids = got.column("doc_id").to_pylist()
            docs = pq.read_table(os.path.join(build.CORPUS, "documents.parquet"),
                                 columns=["doc_id"]).column("doc_id").to_pylist()
            if len(set(ids)) != len(ids) or not set(ids) <= set(docs):
                bad.append("q_dedup_exact: survivors not unique or not a subset")
        if key == "q_sim_knn" and got.num_rows == 0:
            bad.append("q_sim_knn: empty")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(ROUND_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + JVM_TIMEOUT_S
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    build.ensure()
    rounds = rounds_for(a.workload, a.seconds)
    run_dir = os.path.join(build.OUT, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if a.workload == "llm_pipeline":
            gen.llm_inputs(a.seed, rounds, run_dir)
            inputs = build.CORPUS
        else:
            inputs = os.path.join(run_dir, "in")
            os.makedirs(inputs)
            if a.workload == "kv_point":
                gen.kv_inputs(a.seed, rounds, inputs)
            else:
                gen.bulk_inputs(a.seed, inputs)
        res = run_jvm(a.workload, inputs, run_dir, rounds, a.trace, deadline)
        bad = list(res["mismatches"])
        if a.workload == "llm_pipeline":
            bad += check_llm(run_dir)
        if a.trace:
            os.makedirs(os.path.join(build.OUT, "trace"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(build.OUT, "trace", f"{a.workload}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for b in bad:
        print(f"MISMATCH {b}")
    print("detail " + json.dumps({k: round(v, 6) for k, v in res["detail"].items()}))
    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = res["layer"]
        unused = [n for n, _ in names if n not in values]
        if unused:
            print("not called by this workload (reported as 0): " + ", ".join(unused))
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res["e2e"]
        missing = [n for n, _ in names if n not in values]
        if missing:
            sys.exit(f"{a.workload}: no value for {missing}")
    print(json.dumps({
        "correct": not bad,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names},
    }))


if __name__ == "__main__":
    main()
