"""Scaling protocol v3: SEGMENT-INTERLEAVED paired N-vs-4N measurement.

Why v3. The v2 sandwich campaign (this round, 96M log, pre-registered
gates) exposed the dominant noise term directly in its own records: the
two 4-exec bracket AVERAGES of the three clean pairs were stable
(384.9 / 399.2 / 425.4 s, +-5%) while the 1-exec legs swung 938 ->
1415.7 s (+-20%) with host speed phases — pair efficiency tracked t1
almost perfectly (0.609 / 0.887 / 0.740). A 20-minute 1-exec leg spans
several hypervisor phases; whichever phase it lands in decides the
pair. Bracketing cancels drift around the 1-exec leg but cannot cancel
drift DURING it.

v3 pairs the two configs at SEGMENT granularity instead: two live
replay sessions (1-exec and 4-exec local-cluster, identical configs to
v2) hold the same static log; an orchestrator grants them alternating
turns, one commit per turn, so the 1-exec and 4-exec walls for the
same segment are measured adjacent in time (~100 s apart instead of
~20 min). Host phases hit both configs near-identically; the paired
ratio cancels them to first order. Turn order flips every segment to
cancel any residual linear drift inside a step pair.

Pre-registered BEFORE any v3 run (see BENCH/BASELINE.md "v3" section):
- efficiency = sum(wall_1exec over data steps) / (4 * sum(wall_4exec
  over data steps)); schema-evolve steps are recorded but excluded
  (sub-second driver-only work, identical in both configs).
- each worker precomputes the replay plan ONCE, untimed, via
  ReplayRunner.plan()/run(plan=...). Per-step re-planning would re-scan
  the log O(steps) times and the 1-exec scan is slower, which would
  INFLATE measured efficiency — excluded from both configs instead
  (the sandwich legs include one plan pass, <2.5% of leg wall; v3
  efficiency is therefore comparable to sandwich efficiency to ~2%).
- cleanliness gates are the v2 re-registered gates (commit c417a43,
  constants below), applied per config over that config's
  ACTIVE windows (per-step tagged /proc/stat sampling), bandwidth
  probe stats applied pair-globally (the probe taxes whichever config
  is active — symmetric).
- turn order: step s runs 1-exec first iff s is even.

Usage:
  python tools/run_scaling_v3.py --log binlog96 --pairs 2 \
      --out BENCH/scaling_r4_interleaved.jsonl \
      --segdir BENCH/segmetrics_r4_interleaved
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # worker subprocesses run this file by path

NCPU = os.cpu_count() or 32
# the page-cache-backed /tmp variant measured FASTER end-to-end than
# tmpfs (4-exec floor ~126 s vs ~145 s); shm stays selectable
STORAGE = {"disk": "/tmp/scalbench", "shm": "/dev/shm/scalbench"}
LOCALDIR = {"disk": "/tmp/spark_local", "shm": "/dev/shm/spark_local"}

# Cleanliness gates (re-registered 2026-08-18, BENCH/BASELINE.md): reject
# only steal far above the host's chronic ~0.8-core level, a busy count
# beyond the config's own processes, an unhealthy median 1 GB-copy
# bandwidth probe, or frequent probe stalls. Both configs of a pair carry
# the same probe tax, so none of this biases the ratio.
STEAL_AVG_MAX = 1.50
STEAL_P90_MAX = 3.00
BUSY_SLACK = 3.0  # allowed beyond 2*e + 1 (JVM+py per exec, + driver)
BW_PROBE_MED_MAX_S = 1.0
BW_PROBE_SLOW_S = 3.5
BW_PROBE_SLOW_FRAC_MAX = 0.20


class BwProbe(threading.Thread):
    """Record-only memory-bandwidth probe: every ``period`` seconds time
    a 1 GB buffer-to-buffer copy (the fold is bandwidth-bound, and
    bandwidth phases are invisible to the steal/busy sampler)."""

    def __init__(self, period: float = 15.0):
        super().__init__(daemon=True)
        self.period = period
        self.samples: list[float] = []
        self._halt = threading.Event()

    def run(self):
        import numpy as np

        a = np.zeros(32_000_000)
        b = np.empty_like(a)
        while not self._halt.wait(self.period):
            t0 = time.monotonic()
            for _ in range(2):
                b[:] = a
                a[:] = b
            self.samples.append(round(time.monotonic() - t0, 3))

    def stop(self) -> dict:
        self._halt.set()
        self.join(timeout=5)
        if not self.samples:
            return {}
        s = sorted(self.samples)
        n_slow = sum(1 for x in s if x > BW_PROBE_SLOW_S)
        return {
            "bw_probe_med_s": s[len(s) // 2],
            "bw_probe_p90_s": s[min(len(s) - 1, int(0.9 * len(s)))],
            "bw_probe_max_s": s[-1],
            "bw_probe_n": len(s),
            "bw_probe_slow_frac": round(n_slow / len(s), 3),
        }


def leg_clean(e: int, noise: dict) -> tuple[bool, list[str]]:
    if noise.get("n_samples", 0) == 0:
        return False, ["no noise samples"]
    checks = [
        ("steal_avg", noise["steal_avg"], STEAL_AVG_MAX),
        ("steal_p90", noise["steal_p90"], STEAL_P90_MAX),
        ("busy_avg", noise["busy_avg"], 2 * e + 1 + BUSY_SLACK),
        ("bw_probe_med_s", noise.get("bw_probe_med_s"), BW_PROBE_MED_MAX_S),
        ("bw_probe_slow_frac", noise.get("bw_probe_slow_frac"),
         BW_PROBE_SLOW_FRAC_MAX),
    ]
    reasons = [f"{k} {v} > {lim}" for k, v, lim in checks
               if v is not None and v > lim]
    return not reasons, reasons


def calibrate() -> dict | None:
    p = subprocess.run([sys.executable, "tools/host_calibrate.py"],
                       capture_output=True, text=True, cwd=REPO)
    try:
        cal = json.loads(p.stdout.strip())
    except ValueError:
        return None
    return cal if p.returncode == 0 else None


# ---------------------------------------------------------------- sampling
def _stat():
    f = open("/proc/stat").readline().split()
    v = [int(x) for x in f[1:]]
    return sum(v), v[3] + v[4], v[7]


class TaggedSampler(threading.Thread):
    """2 s /proc/stat sampler with wall timestamps, so each sample can be
    attributed to whichever config was active when it was taken."""

    def __init__(self, period: float = 2.0):
        super().__init__(daemon=True)
        self.period = period
        self.samples: list[tuple[float, float, float]] = []  # (t, busy, steal)
        self._halt = threading.Event()

    def run(self):
        prev = _stat()
        while not self._halt.wait(self.period):
            cur = _stat()
            dt = cur[0] - prev[0]
            if dt > 0:
                busy = (dt - (cur[1] - prev[1])) / dt * NCPU
                steal = (cur[2] - prev[2]) / dt * NCPU
                self.samples.append((time.monotonic(), busy, steal))
            prev = cur

    def stop(self):
        self._halt.set()
        self.join(timeout=5)


def summarize(samples: list[tuple[float, float]]) -> dict:
    if not samples:
        return {"n_samples": 0}
    busy = sorted(s[0] for s in samples)
    steal = sorted(s[1] for s in samples)
    p = lambda xs, q: xs[min(len(xs) - 1, int(q * len(xs)))]  # noqa: E731
    return {
        "n_samples": len(busy),
        "busy_avg": round(sum(busy) / len(busy), 2),
        "busy_p90": round(p(busy, 0.90), 2),
        "busy_max": round(busy[-1], 2),
        "steal_avg": round(sum(steal) / len(steal), 3),
        "steal_p90": round(p(steal, 0.90), 3),
        "steal_max": round(steal[-1], 3),
    }


# ---------------------------------------------------------------- worker
def worker(e: int, log: str, table_path: str, ctl: str) -> int:
    from agr_loader_spark.generator import generate_binlog
    from agr_loader_spark.lake.table import LakeTable
    from agr_loader_spark.schema import TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
    from agr_loader_spark.session import get_spark
    from agr_loader_spark.streaming.runner import ReplayRunner

    spark = get_spark(f"v3-worker-{e}", cores=e,
                      master=f"local-cluster[{e},1,6144]")
    # steady-state warmup, scaled PER JVM (v3.1, pre-registered before
    # pair 3): a fixed-size warmup splits across e executors, so each
    # 4-exec JVM entered segment 0 ~4x colder (JIT) than the 1-exec JVM
    # — measured as the segment-0 efficiency dip in pairs 1-2 (0.499 vs
    # 0.78-1.04 on steady-state segments) and confirmed by a segment-0
    # warmup A/B. Production executors are
    # long-lived; per-JVM-equal warmup removes the measurement artifact
    # without touching anything timed.
    import tempfile

    we = 400_000 * e
    wdir = tempfile.mkdtemp(prefix=f"v3warm_{e}_")
    wt = LakeTable.create(spark, os.path.join(wdir, "t"), TOKENS_TABLE_COLUMNS,
                          key=TOKENS_MERGE_KEY, n_buckets=64)
    wlog = generate_binlog(spark, n_events=we, n_docs=we // 8,
                           epoch_size=we // 2, seed=7)
    ReplayRunner(spark, wt, source_df=wlog).run()
    shutil.rmtree(wdir, ignore_errors=True)

    table = LakeTable.create(spark, table_path, TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=64)
    runner = ReplayRunner(spark, table, source_path=log, pipeline=False)
    planobj = runner.plan()  # untimed by design — see module docstring
    open(os.path.join(ctl, f"ready_{e}"), "w").close()

    s = 0
    while True:
        go = os.path.join(ctl, f"go_{e}_{s}")
        stop = os.path.join(ctl, "stop")
        while not os.path.exists(go):
            if os.path.exists(stop):
                spark.stop()
                return 0
            time.sleep(0.2)
        before = table.snapshot_id
        t0 = time.monotonic()
        metrics = runner.run(stop_after=1, plan=planobj)
        wall = time.monotonic() - t0
        done = os.path.join(ctl, f"done_{e}_{s}")
        if table.snapshot_id == before:
            with open(done + ".tmp", "w") as f:
                json.dump({"finished": True}, f)
            os.rename(done + ".tmp", done)
            break
        m = [x for x in metrics if not x.get("skipped")][-1]
        rec = {
            "wall": round(wall, 3),
            "epoch_key": m.get("epoch_key"),
            "n_events": int(m.get("n_events", 0) or 0),
            "op": "schema" if m.get("operation", "").startswith("evolve") else "data",
            "sec_job": m.get("sec_job"),
        }
        with open(done + ".tmp", "w") as f:
            json.dump(rec, f)
        os.rename(done + ".tmp", done)
        s += 1
    spark.stop()
    return 0


# ---------------------------------------------------------------- parent
def run_pair(rep: int, log_name: str, out_emit, segdir: str,
             step_timeout: float, attempt: int = 0,
             execs: tuple[int, int] = (1, 4)) -> dict | None:
    e_lo, e_hi = execs
    ratio = e_hi / e_lo
    base, local = STORAGE["disk"], LOCALDIR["disk"]
    log = os.path.join(base, log_name)
    ctl = os.path.join(base, f"v3ctl_{rep}")
    shutil.rmtree(ctl, ignore_errors=True)
    os.makedirs(ctl)
    tables = {e: os.path.join(base, f"v3_{e}") for e in execs}
    for t in tables.values():
        shutil.rmtree(t, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    subprocess.run(f"cat {log}/*/*.parquet > /dev/null 2>&1", shell=True)

    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS_OVERRIDE=local,
        SPARK_DRIVER_MEM="8g",
        SPARK_BCAST_THRESHOLD="10m",
        SPARK_MAX_PARTITION_BYTES="32m",
        # v3.1 (pre-registered, identical on BOTH legs): size the
        # precombine's final-agg exchange by data volume (64 partitions
        # = n_buckets; the worker-session default max(cores,8) leaves
        # 380MB/task and a 2GB sort-spill on segment 0), and let the
        # one-task-per-JVM executors hash-aggregate in memory instead
        # of sort-spilling (measured: seg0 4-exec final-agg CPU 174s ->
        # 60s, wall 112.5 -> 72.0s; the threshold is NOT an engine
        # default because 32 concurrent hash maps in a single shared
        # JVM measure ~1.5x SLOWER at local[32] — per-topology memory
        # budgeting, see BENCH/BASELINE.md).
        SPARK_GRAFT_EXTRA_CONF=json.dumps({
            "spark.sql.shuffle.partitions": "64",
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold":
                "4000000",
        }),
    )
    procs = {}
    for e in execs:
        procs[e] = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", str(e),
             "--log-path", log, "--table-path", tables[e], "--ctl", ctl],
            cwd=REPO, env=env, start_new_session=True,
            stdout=open(os.path.join(ctl, f"w{e}.out"), "w"),
            stderr=open(os.path.join(ctl, f"w{e}.err"), "w"),
        )

    def kill_all():
        open(os.path.join(ctl, "stop"), "w").close()
        time.sleep(2)
        for p in procs.values():
            try:
                os.killpg(os.getpgid(p.pid), signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                p.kill()

    # wait for both workers (session build + warmup + plan, untimed)
    t0 = time.monotonic()
    while not all(os.path.exists(os.path.join(ctl, f"ready_{e}"))
                  for e in execs):
        if time.monotonic() - t0 > 1200 or any(
                p.poll() is not None for p in procs.values()):
            kill_all()
            sys.stderr.write(f"rep {rep}: worker startup failed\n")
            return None
        time.sleep(1)

    sampler = TaggedSampler()
    sampler.start()
    bw = BwProbe()
    bw.start()
    steps: list[dict] = []
    windows: list[tuple[float, float, int]] = []  # (t0, t1, e)
    finished = {e: False for e in execs}
    aborted = None
    s = 0
    while not all(finished.values()):
        order = execs if s % 2 == 0 else execs[::-1]
        for e in order:
            if finished[e]:
                continue
            w0 = time.monotonic()
            open(os.path.join(ctl, f"go_{e}_{s}"), "w").close()
            done = os.path.join(ctl, f"done_{e}_{s}")
            while not os.path.exists(done):
                if time.monotonic() - w0 > step_timeout or \
                        procs[e].poll() is not None:
                    aborted = f"step {s} {e}exec timeout or dead worker"
                    break
                time.sleep(0.3)
            if aborted:
                break
            windows.append((w0, time.monotonic(), e))
            rec = json.load(open(done))
            if rec.get("finished"):
                finished[e] = True
            else:
                rec.update(step=s, executors=e, rep=rep, attempt=attempt)
                steps.append(rec)
                out_emit(rec)
        if aborted:
            break
        s += 1
        if s > 64:
            aborted = "step budget exceeded"
            break
    sampler.stop()
    noise_bw = bw.stop()
    if not aborted:
        # workers exit after their finished-step; reap
        for p in procs.values():
            try:
                p.wait(timeout=120)
            except subprocess.TimeoutExpired:
                aborted = "worker did not exit"
    # segmetrics archive, keyed by attempt as well as rep: dirty/failed
    # pairs retry with the SAME rep number, so a rep-only filename was
    # silently overwritten by the next attempt and the excluded pair's
    # evidence vanished (round-4 ADVICE finding; the v3.4 dirty pair-1
    # archives were clobbered exactly this way)
    os.makedirs(segdir, exist_ok=True)
    for e in execs:
        seg = os.path.join(tables[e], "_metrics.jsonl")
        if os.path.exists(seg):
            shutil.copy(seg, os.path.join(
                segdir, f"rep{rep}_att{attempt}_{e}exec.jsonl"))
    kill_all()
    for t in tables.values():
        shutil.rmtree(t, ignore_errors=True)
    if aborted:
        out_emit({"rep": rep, "attempt": attempt, "aborted": aborted})
        sys.stderr.write(f"rep {rep} ABORTED: {aborted}\n")
        return None

    # attribute samples to configs by active window
    per_cfg: dict[int, list[tuple[float, float]]] = {e: [] for e in execs}
    for (t, busyv, stealv) in sampler.samples:
        for (a, b, e) in windows:
            if a <= t <= b:
                per_cfg[e].append((busyv, stealv))
                break
    verdicts = {}
    clean = True
    reasons: list[str] = []
    for e in execs:
        noise = summarize(per_cfg[e])
        noise.update(noise_bw)  # pair-global bandwidth stats, symmetric tax
        ok, why = leg_clean(e, noise)
        verdicts[e] = noise
        if not ok:
            clean = False
            reasons += [f"{e}exec: {w}" for w in why]

    t1 = sum(x["wall"] for x in steps
             if x["executors"] == e_lo and x["op"] == "data")
    t4 = sum(x["wall"] for x in steps
             if x["executors"] == e_hi and x["op"] == "data")
    n1 = sum(x["n_events"] for x in steps if x["executors"] == e_lo)
    eff = t1 / (ratio * t4) if t4 else None
    per_seg = {}
    for x in steps:
        if x["op"] != "data":
            continue
        per_seg.setdefault(x["epoch_key"], {})[x["executors"]] = x["wall"]
    seg_eff = {k: round(v[e_lo] / (ratio * v[e_hi]), 3)
               for k, v in per_seg.items() if e_lo in v and e_hi in v}
    pair = {
        "pair": rep, "attempt": attempt, "protocol": "v3.1-interleaved",
        "execs": list(execs),
        f"t{e_lo}_data_s": round(t1, 2), f"t{e_hi}_data_s": round(t4, 2),
        "events": n1, "efficiency": round(eff, 3) if eff else None,
        "per_segment_eff": seg_eff,
        f"noise_{e_lo}exec": verdicts[e_lo],
        f"noise_{e_hi}exec": verdicts[e_hi],
        "clean": clean, "dirty_reasons": reasons,
    }
    out_emit(pair)
    sys.stderr.write(f"V3 PAIR {rep}: t{e_lo}={t1:.1f} t{e_hi}={t4:.1f} "
                     f"eff={eff:.3f} clean={clean} {reasons}\n")
    return pair


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--log-path", default=None)
    ap.add_argument("--table-path", default=None)
    ap.add_argument("--ctl", default=None)
    ap.add_argument("--log", default="binlog96")
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--max-attempts", type=int, default=8)
    ap.add_argument("--out", default="BENCH/scaling_r4_interleaved.jsonl")
    ap.add_argument("--segdir", default="BENCH/segmetrics_r4_interleaved")
    ap.add_argument("--step-timeout", type=float, default=2400.0)
    ap.add_argument("--skip-calibration", action="store_true")
    ap.add_argument("--execs", default="1,4",
                    help="N,4N executor counts for the pair (default 1,4); "
                         "the second cluster-size point 2,8 measures the "
                         "same north rule one octave up — cleanliness "
                         "gates already scale with e (leg_clean)")
    args = ap.parse_args()
    execs = tuple(int(x) for x in args.execs.split(","))
    assert len(execs) == 2 and execs[0] < execs[1], "--execs wants lo,hi"

    if args.worker is not None:
        return worker(args.worker, args.log_path, args.table_path, args.ctl)

    out = os.path.join(REPO, args.out)

    def emit(rec):
        # every record carries a UTC wall timestamp: the round-4 v3.4 file
        # held an attempt-numbered record from an EARLIER supervisor launch
        # (numbering restarts per launch) that was unresolvable precisely
        # because records were untimestamped (round-4 ADVICE finding)
        rec = dict(rec, ts=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")

    got, attempt = 0, 0
    while got < args.pairs and attempt < args.max_attempts:
        attempt += 1
        if not args.skip_calibration:
            cal = calibrate()
            if cal is None or not cal.get("quiet"):
                # Timestamp + failing values: round-3/4 storms showed that
                # un-timestamped closures make the chronicle unreconstructable.
                ts = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())
                sys.stderr.write(
                    f"{ts} attempt {attempt}: calibration gate closed {cal}\n")
                time.sleep(120)
                continue
            emit({"attempt": attempt, "calibration": cal})
        pair = run_pair(got + 1, args.log, emit, os.path.join(REPO, args.segdir),
                        args.step_timeout, attempt=attempt, execs=execs)
        if pair is not None and pair["clean"]:
            got += 1
        elif pair is not None:
            ts = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())
            sys.stderr.write(f"{ts} attempt {attempt}: pair dirty, retrying\n")
    sys.stderr.write(f"DONE: {got} clean v3 pairs\n")
    return 0 if got >= args.pairs else 1


if __name__ == "__main__":
    raise SystemExit(main())
