"""The benchmark's own test, in a few minutes:

1. the in-process log synthesis yields exactly the rows
   ``generate_binlog`` yields (with and without schema changes);
2. every workload runs at ``--size smoke``, untraced and traced, passes
   all of its checks and prints the metric names of BENCHMARK.json;
3. in a directory holding only BENCHMARK.json and the benchmark, the
   command fails without printing a result.

    python3 perfbench/smoke.py        # from the checkout root; exit 0 = pass
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

FAILED_SHARE = {"cdc_backfill_tail": 0.0, "corpus_qc": 1 / 6}


def check_generator(root: str, work: str) -> list[str]:
    import duckdb
    import pyarrow as pa

    import oracle
    import run
    import synth

    sys.path.insert(0, root)
    from agr_loader_spark.generator import generate_binlog
    from agr_loader_spark.session import get_spark

    run.spark_env(work, run._cores())
    spark = get_spark("perfbench-smoke", cores=run._cores())
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    errors = []
    try:
        for changes, zipf in ((True, 1.05), (False, 0.0)):
            kw = dict(n_events=3000, n_docs=400, seed=5, epoch_size=1000, zipf_s=zipf)
            want = generate_binlog(spark, with_schema_changes=changes, **kw).toArrow()
            epochs, got = synth.log_rows(kw["n_events"], 0, kw["seed"], kw["n_docs"],
                                         kw["epoch_size"], zipf, changes)
            got = got.append_column("epoch", pa.array(epochs, pa.int32()))
            con = duckdb.connect()
            con.register("want", want)
            con.register("got", got)
            bad = oracle.count_mismatch(con, "SELECT * FROM want", "SELECT * FROM got",
                                        got.schema.names)
            if bad or want.num_rows != got.num_rows:
                errors.append(f"synthesised log differs from generate_binlog "
                              f"(schema changes={changes}): {bad} rows")
            con.close()
    finally:
        run.stop_spark(spark, jvm_pid)
    return errors


def check_workload(root: str, name: str, trace: int, bench: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    tag = f"{name} trace={trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"{tag}: result keys {sorted(res)}")
    if res.get("correct") is not True:
        errors.append(f"{tag}: a check failed\n{proc.stderr[-3000:]}")
    if res["failed"] / res["attempted"] != FAILED_SHARE[name]:
        errors.append(f"{tag}: failed {res['failed']} of {res['attempted']}")
    spec = bench["per_layer"] if trace else bench["end_to_end"]
    if set(res["metrics"]) != {m["name"] for m in spec}:
        errors.append(f"{tag}: metric names differ from BENCHMARK.json")
    for m in spec:
        got = res["metrics"].get(m["name"], {})
        v = got.get("value")
        if got.get("unit") != m["unit"] or not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{tag}: bad metric {m['name']}: {got}")
        elif not trace and v <= 0:
            errors.append(f"{tag}: end-to-end metric {m['name']} is {v}")
    print(f"{tag}: attempted={res['attempted']} failed={res['failed']} "
          f"correct={res['correct']}", flush=True)
    return errors


def check_bare_dir(root: str, work: str) -> list[str]:
    bare = os.path.join(work, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "corpus_qc",
                           "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                          timeout=180)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}"]
    return []


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(root, ".perfbench_work", f"smoke-{os.getpid()}")
    os.makedirs(work)
    errors: list[str] = []
    try:
        errors += check_bare_dir(root, work)
        errors += check_generator(root, work)
        for name in FAILED_SHARE:
            for trace in (0, 1):
                errors += check_workload(root, name, trace, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("smoke:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
