"""Per-layer metrics of a traced run (``--trace 1``).

The layer is the engine's module prefix: ``validate`` and ``lww`` (cdc),
``apply`` (cdc.apply), ``lake`` (tables.lake), ``stream``
(streaming.runner), ``spark`` and ``session``.  Spans come from
``spans.Tracer`` wrappers installed here around public functions; task
metrics come from the Spark event log folded per span.
"""

from __future__ import annotations

import os
import statistics
from collections import Counter

from spans import Tracer, covered, fold_event_log
from workloads import file_bytes, version_sum

LAKE_METHODS = {
    "merge": "lake.merge",
    "merge_attrs": "lake.merge",
    "append": "lake.append",
    "append_rows": "lake.append_rows",
    "overwrite": "lake.overwrite",
    "read_keys": "lake.read_keys",
}


def install(spark) -> Tracer:
    from horizon_etl_spark.cdc import apply as apply_mod
    from horizon_etl_spark.streaming import runner
    from horizon_etl_spark.tables.lake import LakeTable

    tr = Tracer(spark)
    tr.count(LakeTable, "snapshot", "snapshot")
    tr.count(LakeTable, "current_version", "current_version")

    def meta_calls() -> int:
        return tr.calls["snapshot"] + tr.calls["current_version"]

    def apply_label(args, kwargs):
        pipe = args[0]
        batch_id = kwargs.get("batch_id", args[2] if len(args) > 2 else None)
        return {"batch_id": batch_id, "root": pipe.root, "meta0": meta_calls(), "v0": version_sum(pipe.root)}

    def apply_result(rec, out):
        rec["events"] = out["input_rows"]
        rec["meta_calls"] = meta_calls() - rec["meta0"]
        rec["commits"] = version_sum(rec["root"]) - rec["v0"]

    for owner in (apply_mod, runner):
        tr.wrap(owner, "apply_batch", "apply_batch", apply_label, apply_result)

    def table_label(args, kwargs):
        return {"table": os.path.basename(args[0].path), "path": args[0].path}

    def merge_result(rec, out):
        rec["version"] = out["version"]

    for attr, name in LAKE_METHODS.items():
        tr.wrap(LakeTable, attr, name, table_label, merge_result if name == "lake.merge" else None)
    return tr


def probes(run, workload: str) -> None:
    """Validate and LWW-reduce the measured batches on their own, each in
    a span, so their rate and shuffle bytes can be read per layer."""
    from horizon_etl_spark.cdc.attrs import attr_lww_reduce
    from horizon_etl_spark.cdc.lww import lww_reduce
    from horizon_etl_spark.cdc.schema import ATTR_CHANGE_FEED_SCHEMA, CHANGE_FEED_SCHEMA
    from horizon_etl_spark.cdc.validate import reason_column, split_valid

    attr = workload == "trickle_attr"
    fields = "fields" if attr else None
    df = run.spark.read.schema(ATTR_CHANGE_FEED_SCHEMA if attr else CHANGE_FEED_SCHEMA).parquet(
        *run.info["measured_files"]
    )
    with run.tracer.span("probe.validate"):
        df.filter(reason_column(fields_col=fields).isNull()).count()
    valid = split_valid(df, fields_col=fields)[0].drop("ts")
    with run.tracer.span("probe.lww"):
        (attr_lww_reduce if attr else lww_reduce)(valid).write.format("noop").mode("overwrite").save()


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def metrics(run, workload: str, out: dict, work: str) -> tuple[dict, dict]:
    """Returns (per-layer metrics for the result line, side-only metrics).
    Needs the SparkContext stopped, so the event log is complete."""
    from horizon_etl_spark.tables.lake import LakeTable

    tr = run.tracer
    folded = fold_event_log(os.path.join(work, "eventlog"))
    groups, intervals = folded["groups"], folded["intervals"]
    nb = len(run.batch_s)
    applies = sorted(
        (s for s in tr.spans if s["name"] == "apply_batch" and 1 <= (s["batch_id"] or 0) <= nb),
        key=lambda s: s["batch_id"],
    )
    events = sum(s["events"] for s in applies)
    total = Counter()
    per_batch = {"jobs": [], "stages": [], "commits": [], "metadata_calls": []}
    driver = self_s = merge_s = append_rows_s = rollup_s = 0.0
    summaries = []
    for s in applies:
        nodes = [s] + tr.descendants(s["id"])
        c = Counter()
        for n in nodes:
            c.update(groups.get(n["id"], {}))
        total.update(c)
        per_batch["jobs"].append(c["jobs"])
        per_batch["stages"].append(c["stages"])
        per_batch["commits"].append(s["commits"])
        per_batch["metadata_calls"].append(s["meta_calls"])
        tasks = [iv for n in nodes for iv in intervals.get(n["id"], [])]
        driver += _dur(s) - covered(tasks, s["t0"], s["t1"])
        lake = [n for n in nodes[1:] if n["name"].startswith("lake.")]
        self_s += _dur(s) - covered([(n["t0"], n["t1"]) for n in lake], s["t0"], s["t1"])
        merge_s += sum(_dur(n) for n in lake if n["name"] == "lake.merge")
        append_rows_s += sum(_dur(n) for n in lake if n["name"] == "lake.append_rows")
        rollup_s += sum(_dur(n) for n in lake if n["name"] == "lake.overwrite" and n["table"] == "rollup")
        summaries += [
            LakeTable(n["path"]).snapshot(n["version"])["summary"]
            for n in lake
            if n["name"] == "lake.merge" and n["table"] == "target"
        ]
    rewritten = sum(x["rewritten_files"] for x in summaries)
    carried = sum(x["carried_files"] for x in summaries)
    applied = sum(x["inserted"] + x["updated"] + x["deleted"] for x in summaries)
    probe = {s["name"]: s for s in tr.spans if s["name"].startswith("probe.")}
    probe_events = sum(run.batch_events)
    target = out["pipe"].target
    snap = target.snapshot()
    target_bytes = sum(os.path.getsize(os.path.join(target.path, f["path"])) for f in snap["files"])
    prune = [_dur(s) for s in tr.spans if s["name"] == "lake.read_keys"]
    per_layer = {
        "session.start_s": (statistics.median(run.session_s), "s"),
        "apply.bootstrap_s": (statistics.median(run.build_s), "s"),
        "validate.events_per_s": (probe_events / _dur(probe["probe.validate"]), "ev/s"),
        "lww.events_per_s": (probe_events / _dur(probe["probe.lww"]), "ev/s"),
        "lww.shuffle_bytes_per_event": (
            groups.get(probe["probe.lww"]["id"], {}).get("shuffle_write_bytes", 0) / probe_events, "B/ev"),
        "apply.self_s_per_batch": (self_s / nb, "s"),
        "apply.jobs_per_batch": (total["jobs"] / nb, "count"),
        "apply.stages_per_batch": (total["stages"] / nb, "count"),
        "apply.driver_s_per_batch": (driver / nb, "s"),
        "apply.task_s_per_event": (total["run_ms"] / 1e3 / events, "s/ev"),
        "lake.merge_s_per_batch": (merge_s / nb, "s"),
        "lake.carried_file_share": (carried / max(1, carried + rewritten), "ratio"),
        "lake.rewritten_rows_per_applied": (
            sum(x["rewritten_rows"] for x in summaries) / max(1, applied), "ratio"),
        "lake.bytes_written_per_event": (run.info["data_bytes_written"] / events, "B/ev"),
        "lake.metadata_calls_per_batch": (sum(per_batch["metadata_calls"]) / nb, "count"),
        "lake.commits_per_batch": (sum(per_batch["commits"]) / nb, "count"),
        "lake.append_rows_s_per_batch": (append_rows_s / nb, "s"),
        "lake.rollup_s_per_batch": (rollup_s / nb, "s"),
        "lake.read_keys_prune_s_p50": (statistics.median(prune), "s"),
        "lake.read_keys_files_p50": (statistics.median(run.lookup_files), "count"),
        "lake.files_end": (len(snap["files"]), "count"),
        "lake.scan_mb_per_s": (target_bytes / 2**20 / statistics.median(run.scan_s), "MB/s"),
        "spark.gc_s_per_batch": (total["gc_ms"] / 1e3 / nb, "s"),
        "spark.spill_bytes_per_event": (total["spill_bytes"] / events, "B/ev"),
    }
    side = {"counts_per_batch": per_batch, "event_log_bytes": file_bytes(os.path.join(work, "eventlog"))}
    if workload == "trickle_attr":
        starts = [t0 for t0, _ in run.batch_spans]
        side["stream.overhead_s_per_batch"] = statistics.fmean(
            b - a - _dur(s) for a, b, s in zip(starts, starts[1:], applies)
        )
    return per_layer, side
