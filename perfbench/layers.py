"""Per-layer metrics of a traced run.

:func:`install` wraps the engine's public functions at each layer boundary
the workload ops do not already span themselves; :func:`per_layer` turns
the spans of the traced ops into the per-layer metrics (the median over
traced ops; failure and conflict counts are totals). A layer that does no
work on a workload reports 0.
"""

from __future__ import annotations

import os

from stats import NewBytes, median

MB = 2**20


def _partitions_rewritten_share(table: str) -> float:
    """Share of the live version's partitions holding a file written by
    this commit. Carried files are hard links to the previous version's
    files, which the commit keeps, so only rewritten files have one link."""
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    live = resolve(table)
    parts = [p for p in os.listdir(live) if "=" in p]
    rewritten = 0
    for p in parts:
        d = os.path.join(live, p)
        if any(os.stat(os.path.join(d, f)).st_nlink == 1 for f in os.listdir(d) if f.endswith(".parquet")):
            rewritten += 1
    return rewritten / len(parts) if parts else 0.0


def install(tracer, wl) -> None:
    from weightlifting_wod_etl_spark import sinks
    from weightlifting_wod_etl_spark.operators import merge, skipping, versioned
    from weightlifting_wod_etl_spark.streaming import cdc_apply

    def carried(s, args, result):
        s.counters["files_carried"] = len(result)

    # merge.py binds these names at import, the sinks look them up per call
    for mod in (versioned, merge):
        for attr in ("begin_commit", "finish_commit"):
            if hasattr(mod, attr):
                tracer.wrap(mod, attr, f"operators.versioned.{attr}")
        for attr in ("carry_files", "carry_missing_partitions"):
            if hasattr(mod, attr):
                tracer.wrap(mod, attr, "operators.versioned.carry", carried)

    def written(nb: NewBytes):
        def before(s):
            nb.scan()

        def after(s, args, result):
            s.counters["written_bytes"] = nb.scan()

        return before, after

    if wl.name == "etl_posts":
        before, after = written(NewBytes(wl.jsonl, wl.ledger))
        tracer.wrap(sinks, "write_jsonl_idempotent", "sinks.write_jsonl_idempotent", after, before)
        before, after_kv = written(NewBytes(wl.kv))

        def kv_after(s, args, result):
            after_kv(s, args, result)
            s.counters["partitions_rewritten_share"] = _partitions_rewritten_share(wl.kv)

        tracer.wrap(sinks, "kv_upsert_parquet", "sinks.kv_upsert_parquet", kv_after, before)
    else:
        before, after_m = written(NewBytes(wl.table))

        def merge_after(s, args, result):
            after_m(s, args, result)
            s.counters.update(result)

        tracer.wrap(cdc_apply, "merge_into", "operators.merge.merge_into", merge_after, before)

        def pruned(s, args, result):
            s.counters.update(opened=len(result), files=len(args[0]))

        tracer.wrap(skipping, "prune_files", "operators.skipping.prune_files", pruned)


def _share(part: float, whole: float) -> float:
    return part / whole if whole else 0.0


def per_op(tracer, op: int) -> dict[str, float]:
    """Per-layer values of one traced op."""
    selfs = tracer.self_times(op)
    spans = {i: tracer.spans[i] for i in selfs}
    out: dict[str, float] = {}

    def one(name):
        return [(i, s) for i, s in spans.items() if s.name == name]

    for i, s in spans.items():
        if s.parent is None:
            out["bench.unattributed_s"] = selfs[i]
    for i, s in one("plans.wod_pipeline"):
        out["plans.wod_pipeline.driver_s"] = s.wall - s.task_busy_s
        out["plans.wod_pipeline.executor_cpu_s"] = s.executor_cpu_s
        out["plans.wod_pipeline.stages"] = s.stages
        out["plans.wod_pipeline.shuffle_mb"] = s.shuffle_bytes / MB
    for i, s in one("sinks.write_jsonl_idempotent"):
        out["sinks.write_jsonl_idempotent.self_s"] = selfs[i]
        out["sinks.write_jsonl_idempotent.jobs"] = s.jobs
        out["sinks.write_jsonl_idempotent.written_mb"] = s.counters.get("written_bytes", 0) / MB
    for i, s in one("sinks.kv_upsert_parquet"):
        out["sinks.kv_upsert_parquet.self_s"] = selfs[i]
        out["sinks.kv_upsert_parquet.jobs"] = s.jobs
        out["sinks.kv_upsert_parquet.partitions_rewritten_share"] = s.counters.get(
            "partitions_rewritten_share", 0.0
        )
        out["sinks.kv_upsert_parquet.written_mb"] = s.counters.get("written_bytes", 0) / MB
    for i, s in one("io.read_table"):
        out["io.read_table.s"] = s.wall
    versioned = [s for s in spans.values() if s.name.startswith("operators.versioned.")]
    if versioned:
        out["operators.versioned.commit.s"] = sum(s.wall for s in versioned)
        out["operators.versioned.files_carried"] = sum(s.counters.get("files_carried", 0) for s in versioned)
    for i, s in one("streaming.cdc_apply.batch"):
        out["streaming.cdc_apply.batch.self_s"] = selfs[i]
        out["streaming.cdc_apply.null_key_dropped"] = s.counters.get("null_key_dropped", 0)
        rows = s.counters.get("rows", 0)
        for _, m in one("operators.merge.merge_into"):
            c = m.counters
            out["streaming.cdc_apply.collapse_ratio"] = _share(
                c.get("matched", 0) + c.get("inserted", 0) + c.get("deleted", 0), rows
            )
    for i, s in one("operators.merge.merge_into"):
        c = s.counters
        out["operators.merge.merge_into.self_s"] = selfs[i]
        out["operators.merge.merge_into.driver_s"] = s.wall - s.task_busy_s
        out["operators.merge.merge_into.executor_cpu_s"] = s.executor_cpu_s
        out["operators.merge.merge_into.jobs"] = s.jobs
        out["operators.merge.merge_into.shuffle_mb"] = s.shuffle_bytes / MB
        out["operators.merge.merge_into.files_rewritten_share"] = _share(
            c.get("files_rewritten", 0), c.get("files_rewritten", 0) + c.get("files_carried", 0)
        )
        out["operators.merge.merge_into.written_mb"] = c.get("written_bytes", 0) / MB
    for i, s in one("io.read_pruned"):
        out["io.read_pruned.s"] = s.wall
    for i, s in one("operators.skipping.prune_files"):
        out["io.read_pruned.files_opened_share"] = _share(s.counters["opened"], s.counters["files"])
    return out


def per_layer(tracer, traced_ops: list[int], probes: list[dict]) -> dict[str, float]:
    values: dict[str, list[float]] = {}
    for op in traced_ops:
        for k, v in per_op(tracer, op).items():
            values.setdefault(k, []).append(v)
    out = {k: median(v) for k, v in values.items()}
    ops = set(traced_ops)
    traced = [s for s in tracer.spans if s.op in ops]
    out["bench.task_failures"] = sum(s.failed_tasks for s in tracer.spans)
    out["operators.versioned.conflicts"] = sum(
        s.counters.get("ConcurrentCommitError", 0) for s in traced
    )
    if probes:
        from workloads import PREFIXES

        out["sources.rest_posts.scan.s"] = median([p["scan"] for p in probes])
        out["sources.rest_posts.scan.tasks"] = median(
            [s.tasks for s in tracer.spans if s.name == "probe.scan"]
        )
        for prev, name in zip(PREFIXES, PREFIXES[1:]):
            out[f"plans.wod_pipeline.{name}.s"] = median([p[name] - p[prev] for p in probes])
    return out
