"""Per-layer metrics of a traced run.

Each metric is attributed to the span around the engine call that caused
it: Spark stages through the job description the span set, engine
records through the table's ``_metrics.jsonl``, storage figures through
the table's files and manifests. A workload that does not run a layer
reports 0 for it; that is the workload on which the layer's changes
should move nothing.
"""

from __future__ import annotations

import json
import os

from spans import median, read_event_log

QC_QUERIES = ["exact_dedup", "ngram_jaccard", "minhash_lsh", "contamination", "closure"]

UNITS = {
    "session.start_s": "s",
    "runner.plan_s": "s", "runner.segment_p50_s": "s", "runner.evolve_s": "s",
    "runner.driver_p50_s": "s", "runner.jobs_per_commit": "count",
    "precombine.keep_ratio": "ratio", "precombine.tail_keep_ratio": "ratio",
    "merge.job_p50_s": "s", "merge.map_stage_s": "s", "merge.shuffle_mb": "MB",
    "merge.spill_mb": "MB",
    "lake.write_mb": "MB", "lake.files_live": "count", "lake.manifest_kb": "KB",
    "lake.state_mb": "MB",
    "read.scan_rows_per_s": "1/s",
    "changes.buckets_diffed": "count", "changes.shuffle_mb": "MB",
    "fold.stage_s": "s", "fold.task_p50_s": "s", "fold.task_max_s": "s",
    "fold.cpu_s": "s", "fold.python_run_s": "s", "fold.python_mb": "MB",
    "replay.events_per_s": "1/s", "replay.core_s_per_mevent": "s",
    "tail.commit_p50_s": "s", "tail.commit_core_s": "s", "tail.changes_p50_s": "s",
    **{f"qc.{q}_s": "s" for q in QC_QUERIES},
    **{f"qc.{q}_jobs": "count" for q in QC_QUERIES},
    **{f"qc.{q}_shuffle_mb": "MB" for q in QC_QUERIES},
    "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.attributed_share": "ratio", "trace.unattributed_s": "s",
}


def per_layer(b, res: dict) -> dict:
    ev = read_event_log(b.event_dir)
    tr = b.tracer
    vals = dict.fromkeys(UNITS, 0.0)
    vals["session.start_s"] = b.session_s
    vals["jvm.gc_s"] = b.detail.get("gc_s", 0.0)
    vals["jvm.peak_rss_mb"] = b.detail.get("peak_rss_mb", 0.0)
    per_round = []
    for r in res["rounds"]:
        v = {}
        rs = tr.spans[r["span"]]
        unattributed = tr.self_time(rs["id"])
        v["trace.unattributed_s"] = unattributed
        v["trace.attributed_share"] = 1.0 - unattributed / rs["wall_s"]
        if "tail_sids" in r:
            v.update(_cdc_round(tr, ev, r, rs["id"]))
        else:
            v.update(_qc_round(tr, ev, rs["id"]))
        per_round.append(v)
    for k in per_round[0]:
        vals[k] = median(v[k] for v in per_round)
    return {k: {"value": float(vals[k]), "unit": u} for k, u in UNITS.items()}


def _stages(ev: dict, span_ids: set[int]) -> list[dict]:
    return [s for s in ev["stages"].values() if s["span"] in span_ids and s["completed"]]


def _jobs(ev: dict, span_ids: set[int]) -> int:
    return sum(1 for j in ev["jobs"].values() if j["span"] in span_ids)


def _merge_stages(stages: list[dict]) -> tuple[list[dict], list[dict]]:
    """(map stages, fold stages) of the merge jobs: the map side writes
    the bucket shuffle; the fold side reads it and runs the Python fold."""
    merge = [s for s in stages if "lake/table.py" in s["name"]]
    maps = [s for s in merge if s["shuffle_bytes"] > 0]
    folds = [s for s in merge if s["shuffle_bytes"] == 0 and s["python_bytes"] > 0]
    return maps, folds


def _engine_records(table_root: str) -> list[dict]:
    with open(os.path.join(table_root, "_metrics.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def _cdc_round(tr, ev: dict, r: dict, rid: int) -> dict:
    table = r["table"]
    backfill = tr.named("replay.backfill", under=rid)[0]
    commits = tr.named("tail.commit", under=rid)
    changes = tr.named("changes", under=rid)
    scans = tr.named("read.scan", under=rid)
    tail_epochs = {int(os.path.basename(d).split("=", 1)[1]) for d in r["tail_epoch_dirs"]}

    recs = _engine_records(table.root)
    plans = [m for m in recs if m.get("operation") == "plan"]
    segs = [m for m in recs if "sec_job" in m]
    bseg = [m for m in segs if int(m["epoch_key"].split(":")[0]) not in tail_epochs]
    tseg = [m for m in segs if int(m["epoch_key"].split(":")[0]) in tail_epochs]
    plan_s = plans[0]["seconds"] if plans else 0.0

    b_stages = _stages(ev, {backfill["id"]})
    t_stages = _stages(ev, {c["id"] for c in commits})
    b_maps, b_folds = _merge_stages(b_stages)
    t_maps, t_folds = _merge_stages(t_stages)
    folds = b_folds + t_folds
    fold_tasks = [t for s in folds for t in s["tasks"]]

    def keep(maps, seg_recs):
        n = sum(int(m.get("n_events") or 0) for m in seg_recs)
        return sum(s["shuffle_records"] for s in maps) / n if n else 0.0

    data_dir = os.path.join(table.root, "data")
    written = sum(os.path.getsize(os.path.join(d, f))
                  for d, _, fs in os.walk(data_dir) for f in fs)
    live = [fe for files in table._m["buckets"].values() for fe in files]
    manifest = os.path.join(table.root, "snapshots", f"{table.snapshot_id}.json")
    n_events = r["backfill_events"]
    return {
        "runner.plan_s": plan_s,
        "runner.segment_p50_s": median(m["seconds"] for m in bseg),
        "runner.evolve_s": backfill["wall_s"] - plan_s - sum(m["seconds"] for m in bseg),
        "runner.driver_p50_s": median(m["seconds"] - m["sec_job"] for m in tseg),
        "runner.jobs_per_commit": _jobs(ev, {c["id"] for c in commits}) / len(commits),
        "precombine.keep_ratio": keep(b_maps, bseg),
        "precombine.tail_keep_ratio": keep(t_maps, tseg),
        "merge.job_p50_s": median(m["sec_job"] for m in bseg),
        "merge.map_stage_s": sum(s["wall_s"] for s in b_maps),
        "merge.shuffle_mb": sum(s["shuffle_bytes"] for s in b_maps) / 1e6,
        "merge.spill_mb": sum(s["spill_bytes"] for s in b_stages + t_stages) / 1e6,
        "lake.write_mb": written / 1e6,
        "lake.files_live": len(live),
        "lake.manifest_kb": os.path.getsize(manifest) / 1e3,
        "lake.state_mb": r["state_mb"],
        "read.scan_rows_per_s": r["rows"] / median(sc["wall_s"] for sc in scans),
        "changes.buckets_diffed": median(_buckets_diffed(table, a, z)
                                         for a, z in r["tail_sids"]),
        "changes.shuffle_mb": median(sum(s["shuffle_bytes"] for s in _stages(ev, {c["id"]}))
                                     / 1e6 for c in changes),
        "fold.stage_s": sum(s["wall_s"] for s in folds),
        "fold.task_p50_s": median(fold_tasks),
        "fold.task_max_s": max(fold_tasks, default=0.0),
        "fold.cpu_s": sum(s["cpu_s"] for s in folds),
        "fold.python_run_s": sum(s["python_run_s"] for s in folds),
        "fold.python_mb": sum(s["python_bytes"] for s in folds) / 1e6,
        "replay.events_per_s": n_events / backfill["wall_s"],
        "replay.core_s_per_mevent": backfill["cpu_s"] / n_events * 1e6,
        "tail.commit_p50_s": median(c["wall_s"] for c in commits),
        "tail.commit_core_s": median(c["cpu_s"] for c in commits),
        "tail.changes_p50_s": median(c["wall_s"] for c in changes),
    }


def _buckets_diffed(table, a: int, z: int) -> int:
    """Buckets whose file lists differ between two snapshots: what
    changes_between reads (it skips the rest on metadata alone)."""
    ma, mz = table.at_snapshot(a)._m["buckets"], table.at_snapshot(z)._m["buckets"]
    return sum(1 for k in set(ma) | set(mz) if ma.get(k) != mz.get(k))


def _qc_round(tr, ev: dict, rid: int) -> dict:
    out = {}
    for q in QC_QUERIES:
        s = tr.named(f"qc.{q}", under=rid)[0]
        out[f"qc.{q}_s"] = s["wall_s"]
        out[f"qc.{q}_jobs"] = _jobs(ev, {s["id"]})
        out[f"qc.{q}_shuffle_mb"] = sum(x["shuffle_bytes"] for x in _stages(ev, {s["id"]})) / 1e6
    return out
