"""CDC-ingest and corpus-QC benchmark of agr_loader_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_backfill_tail --seed 1 --seconds 30 --trace 0

One fresh process runs one workload on ``local[<cores>]`` (cores = the
CPUs this process may use): input synthesis, session start (``setup_s``),
then whole rounds of the workload's operations on the cold JVM for about
``--seconds`` (closed loop, one client), then checks of every output
against answers computed apart from the engine. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it holds per-operation figures and host
context (steal and busy seconds).

Workloads: ``cdc_backfill_tail`` and ``corpus_qc`` (see README.md).
``--size smoke`` runs the same operations and checks on small inputs.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import QC_QUERIES, per_layer  # noqa: E402

SIZES = {
    "full": {
        "cdc": {"n_docs": 15_000, "backfill": 60_000, "backfill_epoch": 60_000,
                "tail_epochs": 1, "tail_epoch": 5_000},
        "scans": 3,
    },
    "smoke": {
        "cdc": {"n_docs": 2_000, "backfill": 10_000, "backfill_epoch": 10_000,
                "tail_epochs": 1, "tail_epoch": 1_000},
        "scans": 2,
    },
}
N_BUCKETS = 32
DRIVER_MEM = "4g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop Spark and wait until the JVM and its Python workers end."""
    from pyspark import SparkContext

    from host import tree_pids

    pids = tree_pids(jvm_pid)
    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def spark_env(work: str, cores: int) -> None:
    """Environment for a session whose files all stay under ``work`` and
    which leaves the host's settings alone."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        # get_spark would otherwise rewrite the host's TCP congestion
        # control on this kernel family
        "SPARK_GRAFT_LOOPBACK_CC_FIX": "0",
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)


class Bench:
    """One benchmark process: its session, work directory and spans."""

    def __init__(self, args, root: str) -> None:
        from spans import Tracer

        self.args = args
        self.sizes = SIZES[args.size]
        self.root = root
        self.cores = _cores()
        self.cache = os.path.join(root, ".perfbench_cache")
        os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.spark = None
        self.jvm_pid = None
        self.synth_s = 0.0
        self.session_s = 0.0
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "cores": self.cores, "size": args.size}

    # -------------------------------------------------------------- env
    def configure_env(self) -> None:
        spark_env(self.work, self.cores)
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })

    def start_session(self) -> None:
        from agr_loader_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}", cores=self.cores)
        sc = self.spark.sparkContext
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self.tracer.attach(sc, self.jvm_pid)
        self.session_s = time.monotonic() - T_START - self.synth_s

    def gc_s(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark, self.jvm_pid)
            self.spark = None

    def rounds(self, one_round) -> list[dict]:
        """Closed loop of whole rounds for about ``--seconds``: another
        round starts only while it is expected to end within the window."""
        from host import HostWindow

        win = HostWindow()
        t0 = time.monotonic()
        out: list[dict] = []
        gc0 = self.gc_s() if self.args.trace else 0.0
        while True:
            out.append(one_round(len(out)))
            elapsed = time.monotonic() - t0
            mean = elapsed / len(out)
            if elapsed + mean > self.args.seconds:
                break
        self.detail.update(win.close())
        self.detail["window_s"] = round(time.monotonic() - t0, 3)
        self.detail["rounds"] = len(out)
        if self.args.trace:
            self.detail["gc_s"] = self.gc_s() - gc0
        return out


# ------------------------------------------------------------- CDC workload

def cdc_backfill_tail(b: Bench) -> dict:
    """Backfill a zipf log with schema changes into an empty table, scan
    the snapshot, then land uniform tail epochs one at a time, each
    committed by a fresh ReplayRunner and consumed with changes_between."""
    import synth

    s = b.sizes["cdc"]
    t0 = time.monotonic()
    inputs = synth.cdc_inputs(b.cache, b.args.seed, s, max(b.cores, 8))
    b.synth_s = time.monotonic() - t0
    b.start_session()

    from agr_loader_spark.generator import schema_change_plan

    setup_s = b.session_s
    rounds = b.rounds(lambda i: _cdc_round(b, f"r{i}", inputs["backfill"],
                                           inputs["tail"], scans=b.sizes["scans"]))

    t0 = time.monotonic()
    readd = schema_change_plan(s["backfill"])[-1]["event_lsn"]
    correct = all(_cdc_check(b, r, inputs, readd) for r in rounds)
    b.detail["check_s"] = round(time.monotonic() - t0, 3)

    n_events = rounds[0]["backfill_events"]
    med = statistics.median
    b.detail.update({
        "replay_events_per_s": med(n_events / r["backfill_s"] for r in rounds),
        "replay_core_s_per_mevent": med(r["backfill_cpu_s"] / n_events * 1e6 for r in rounds),
        "scan_rows_per_s": med(r["rows"] / med(r["scan_s"]) for r in rounds),
        "state_mb": rounds[-1]["state_mb"],
        "commit_p50_s": med(x for r in rounds for x in r["commit_s"]),
        "commit_core_s": med(x for r in rounds for x in r["commit_cpu_s"]),
        "changes_p50_s": med(x for r in rounds for x in r["changes_s"]),
    })
    ops = 1 + b.sizes["scans"] + 2 * s["tail_epochs"]
    return {
        "correct": correct, "attempted": ops * len(rounds), "failed": 0,
        "setup_s": setup_s, "rounds": rounds,
        "round_s": med(r["wall_s"] for r in rounds),
        "round_core_s": med(r["cpu_s"] for r in rounds),
    }


def _cdc_round(b: Bench, tag: str, log: str, tail_src: str, scans: int) -> dict:
    import synth
    from agr_loader_spark.lake.table import LakeTable
    from agr_loader_spark.schema import TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
    from agr_loader_spark.streaming.runner import ReplayRunner

    rdir = os.path.join(b.work, tag)
    staged = synth.stage_epochs(tail_src, os.path.join(rdir, "staged"))
    live = os.path.join(rdir, "live")
    os.makedirs(live)
    table = LakeTable.create(b.spark, os.path.join(rdir, "table"), TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=N_BUCKETS)
    out = {"tag": tag, "table": table, "scan_s": [], "commit_s": [], "commit_cpu_s": [],
           "changes_s": [], "changes_dirs": [], "tail_epoch_dirs": [], "tail_sids": []}
    sp = b.tracer.span
    with sp("round", cpu=True) as rs:
        with sp("replay.backfill", cpu=True) as s:
            recs = ReplayRunner(b.spark, table, source_path=log).run()
        out["backfill_s"], out["backfill_cpu_s"] = s["wall_s"], s["cpu_s"]
        out["backfill_events"] = sum(int(r.get("n_events") or 0) for r in recs
                                     if not r.get("skipped"))
        for _ in range(scans):
            with sp("read.scan") as s:
                table.read().write.format("noop").mode("overwrite").save()
            out["scan_s"].append(s["wall_s"])
        for i, ep in enumerate(staged):
            prev = table.snapshot_id
            landed = os.path.join(live, os.path.basename(ep))
            with sp("tail.commit", cpu=True) as s:
                os.rename(ep, landed)
                ReplayRunner(b.spark, table, source_path=live).run()
            out["commit_s"].append(s["wall_s"])
            out["commit_cpu_s"].append(s["cpu_s"])
            out["tail_epoch_dirs"].append(landed)
            out["tail_sids"].append((prev, table.snapshot_id))
            cdir = os.path.join(rdir, "changes", str(i))
            with sp("changes") as s:
                table.changes_between(prev, table.snapshot_id).write.parquet(cdir)
            out["changes_s"].append(s["wall_s"])
            out["changes_dirs"].append(cdir)
    out["wall_s"], out["cpu_s"] = rs["wall_s"], rs["cpu_s"]
    out["span"] = rs["id"]
    out["state_mb"] = _live_bytes(table) / 1e6
    return out


def _live_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.root, fe["path"]))
               for files in table._m["buckets"].values() for fe in files)


def _epoch_dirs(log: str) -> list[str]:
    return sorted(os.path.join(log, n) for n in os.listdir(log) if n.startswith("epoch="))


def _cdc_check(b: Bench, r: dict, inputs: dict, readd: int) -> bool:
    """Final state and every tail changelog against DuckDB, and a second
    run over the applied backfill log committing nothing."""
    import duckdb

    import oracle
    from agr_loader_spark.streaming.runner import ReplayRunner

    table = r["table"]
    base = _epoch_dirs(inputs["backfill"])
    tails = r["tail_epoch_dirs"]
    con = duckdb.connect()
    ok = True
    state = table.read().toArrow()
    con.register("engine_state", state)
    final_sql = oracle.lww_state_sql(base + tails, readd)
    bad = oracle.count_mismatch(con, "SELECT * FROM engine_state", final_sql,
                                oracle.STATE_COLS)
    r["rows"] = state.num_rows
    if bad or not state.num_rows:
        print(f"perfbench: {r['tag']}: final state differs from LWW oracle in {bad} rows",
              file=sys.stderr)
        ok = False
    for i, cdir in enumerate(r["changes_dirs"]):
        expect = oracle.diff_sql(oracle.lww_state_sql(base + tails[:i], readd),
                                 oracle.lww_state_sql(base + tails[:i + 1], readd))
        got = f"SELECT * FROM read_parquet('{cdir}/*.parquet')"
        bad = oracle.count_mismatch(con, got, expect, ["__op"] + oracle.STATE_COLS)
        if bad:
            print(f"perfbench: {r['tag']}: changelog {i} differs from oracle in {bad} rows",
                  file=sys.stderr)
            ok = False
    con.close()
    sid = table.snapshot_id
    again = ReplayRunner(b.spark, table, source_path=inputs["backfill"]).run()
    if table.snapshot_id != sid or any(not m.get("skipped") for m in again):
        print(f"perfbench: {r['tag']}: re-running the applied backfill log committed",
              file=sys.stderr)
        ok = False
    return ok


# -------------------------------------------------------------- QC workload

def corpus_qc(b: Bench) -> dict:
    """The five corpus-QC queries over the vendored sf0.1 corpus, plus
    minhash_lsh over the corpus with one null-id document, which fails."""
    import synth

    t0 = time.monotonic()
    inputs = synth.qc_inputs(b.work, b.args.seed)
    b.synth_s = time.monotonic() - t0
    b.start_session()

    setup_s = b.session_s
    rounds = b.rounds(lambda i: _qc_round(b, inputs))

    t0 = time.monotonic()
    correct = all(_qc_check(b, r, inputs) for r in rounds)
    b.detail["check_s"] = round(time.monotonic() - t0, 3)
    med = statistics.median
    for q in QC_QUERIES:
        b.detail[f"{q}_s"] = med(r["query_s"][q] for r in rounds)
    return {
        "correct": correct, "attempted": (len(QC_QUERIES) + 1) * len(rounds),
        "failed": sum(r["failed"] for r in rounds),
        "setup_s": setup_s, "rounds": rounds,
        "round_s": med(r["wall_s"] for r in rounds),
        "round_core_s": med(r["cpu_s"] for r in rounds),
    }


def _qc_round(b: Bench, inputs: dict) -> dict:
    import __spark_entry__ as entry
    from pyspark.errors import PythonException

    qs = entry.queries()
    out = {"query_s": {}, "results": {}, "failed": 0, "nullid_result": None}
    sp = b.tracer.span
    with sp("round", cpu=True) as rs:
        for q in QC_QUERIES:
            with sp(f"qc.{q}") as s:
                out["results"][q] = qs[q](b.spark, inputs["corpus"]).toPandas()
            out["query_s"][q] = s["wall_s"]
        with sp("qc.minhash_lsh_null_id"):
            try:
                out["nullid_result"] = qs["minhash_lsh"](
                    b.spark, inputs["corpus_nullid"]).toPandas()
            except PythonException:
                out["failed"] = 1
    out["wall_s"], out["cpu_s"], out["span"] = rs["wall_s"], rs["cpu_s"], rs["id"]
    return out


def _qc_check(b: Bench, r: dict, inputs: dict) -> bool:
    import __spark_entry__ as entry

    import oracle

    sql = entry.oracle_sql()
    cache = os.path.join(b.cache, "oracle")
    checks = [(q, r["results"][q], "corpus") for q in QC_QUERIES]
    if r["nullid_result"] is not None:
        checks.append(("minhash_lsh", r["nullid_result"], "corpus_nullid"))
    ok = True
    for q, got, corpus in checks:
        want = oracle.qc_answer(cache, inputs[corpus], inputs[f"{corpus}_key"], sql[q])
        if not oracle.canon(got).equals(want):
            print(f"perfbench: {q} over {corpus} differs from its oracle",
                  file=sys.stderr)
            ok = False
    return ok


WORKLOADS = {"cdc_backfill_tail": cdc_backfill_tail, "corpus_qc": corpus_qc}
E2E = {"setup_s": "s", "round_s": "s", "round_core_s": "s"}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "agr_loader_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of an agr_loader_spark checkout "
              "(agr_loader_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    b = Bench(args, root)
    b.configure_env()
    try:
        res = WORKLOADS[args.workload](b)
        if args.trace:
            from host import peak_rss_mb

            b.detail["peak_rss_mb"] = peak_rss_mb(b.jvm_pid)
            b.stop()  # the event log is complete only once the session stops
            metrics = per_layer(b, res)
        else:
            metrics = {k: {"value": res[k], "unit": u} for k, u in E2E.items()}
    finally:
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)
    b.detail.update({"synth_s": round(b.synth_s, 3), "session_s": round(b.session_s, 3),
                     "setup_s": round(res["setup_s"], 3),
                     "round_s": [round(r["wall_s"], 3) for r in res["rounds"]]})
    print(json.dumps({"detail": b.detail}, default=float))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
