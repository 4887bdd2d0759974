"""Benchmark of the WOD ETL chain and the CDC merge path.

    python3 perfbench/run.py --workload etl_posts --seed 1 --seconds 20 --trace 0

A single-process closed loop with one client. Each run starts a Spark
session through ``session.get_spark`` on ``local[<nproc>]``, builds its
inputs from ``--seed``, runs a fixed number of warm-up ops, then times as
many ops as take about ``--seconds`` at the workload's nominal op time (at
least ``MIN_OPS``). Every op's output is checked.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` timed ops alternate untraced and traced and it carries
the per-layer metrics. Earlier lines are the human-readable report: host
noise, warm-up ops, sample counts and drift. The run works in a fresh
directory under ``.perfbench_work/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from stats import median  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "batch_s.p50": "s",
    "read_s.p50": "s",
    "rows_per_s": "1/s",
    "written_mb_per_krow": "MB/krow",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "session.get_spark.s": "s",
    "bench.warmup.s": "s",
    "bench.jit_ms_per_op": "ms",
    "bench.gc_ms_per_op": "ms",
    "bench.cached_mb_after_op": "MB",
    "bench.task_failures": "count",
    "bench.steal_share": "share",
    "bench.trace_overhead": "ratio",
    "bench.unattributed_s": "s",
    "sources.rest_posts.scan.s": "s",
    "sources.rest_posts.scan.tasks": "count",
    "plans.wod_pipeline.strip.s": "s",
    "plans.wod_pipeline.sessionize.s": "s",
    "plans.wod_pipeline.records.s": "s",
    "plans.wod_pipeline.clean.s": "s",
    "plans.wod_pipeline.driver_s": "s",
    "plans.wod_pipeline.executor_cpu_s": "s",
    "plans.wod_pipeline.stages": "count",
    "plans.wod_pipeline.shuffle_mb": "MB",
    "sinks.write_jsonl_idempotent.self_s": "s",
    "sinks.write_jsonl_idempotent.jobs": "count",
    "sinks.write_jsonl_idempotent.written_mb": "MB",
    "sinks.kv_upsert_parquet.self_s": "s",
    "sinks.kv_upsert_parquet.jobs": "count",
    "sinks.kv_upsert_parquet.partitions_rewritten_share": "share",
    "sinks.kv_upsert_parquet.written_mb": "MB",
    "io.read_table.s": "s",
    "operators.versioned.commit.s": "s",
    "operators.versioned.files_carried": "count",
    "operators.versioned.conflicts": "count",
    "streaming.cdc_apply.batch.self_s": "s",
    "streaming.cdc_apply.collapse_ratio": "ratio",
    "streaming.cdc_apply.null_key_dropped": "count",
    "operators.merge.merge_into.self_s": "s",
    "operators.merge.merge_into.driver_s": "s",
    "operators.merge.merge_into.executor_cpu_s": "s",
    "operators.merge.merge_into.jobs": "count",
    "operators.merge.merge_into.shuffle_mb": "MB",
    "operators.merge.merge_into.files_rewritten_share": "share",
    "operators.merge.merge_into.written_mb": "MB",
    "io.read_pruned.s": "s",
    "io.read_pruned.files_opened_share": "share",
}
MIN_OPS = {False: 3, True: 4}
MAX_OPS = 60
BUILDS = 3
MB = 2**20


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.report: list[str] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    def say(self, line: str) -> None:
        self.report.append(line)
        log(line)

    # ------------------------------------------------------------ set-up

    def start_session(self):
        from weightlifting_wod_etl_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        # the JVM and the Python workers inherit these: nothing lands
        # outside the work directory, nothing carries over between runs
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            cpus=stats.nproc(),
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": local,
                # -UsePerfData: no hsperfdata file under /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        return spark

    # ------------------------------------------------------------ ops

    def run_op(self, i: int, traced: bool) -> dict:
        wl, jvm = self.wl, self.tracer.jvm
        wl.prepare(i)
        jit0, gc0, cg0 = jvm.jit_ms(), jvm.gc_ms(), jvm.codegen_compiles()
        self.attempted += 1
        rec = {"op": i, "traced": traced, "ok": False}
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op_span(i):
                    rec["batch_s"], rec["read_s"], rec["rows"] = wl.op(i)
            else:
                rec["batch_s"], rec["read_s"], rec["rows"] = wl.op(i)
            rec["ok"] = True
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"op {i}: {type(exc).__name__}: {exc}")
            log(traceback.format_exc())
        rec["wall_s"] = time.perf_counter() - t0
        rec["jit_ms"] = jvm.jit_ms() - jit0
        rec["gc_ms"] = jvm.gc_ms() - gc0
        rec["codegen"] = jvm.codegen_compiles() - cg0
        rec["cached_mb"] = jvm.cached_mb()
        rec["new_bytes"] = wl.bytes.scan()
        if traced:
            self.tracer.harvest(i)
        return rec

    def main(self) -> dict:
        import workloads
        from spans import Tracer

        cls = {"etl_posts": workloads.EtlPosts, "cdc_merge": workloads.CdcMerge}[self.args.workload]
        steal0, load0, wall0 = stats.steal_seconds(), os.getloadavg(), time.perf_counter()
        self.spark = spark = self.start_session()
        self.tracer = Tracer(spark)
        self.wl = wl = cls(spark, self.work, self.args.seed, self.tracer)
        if self.args.trace:
            import layers

            layers.install(self.tracer, wl)
        builds = []
        for _ in range(BUILDS):
            t0 = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = [self.run_op(i, False) for i in range(wl.warmup_ops)]
        self.warmup_s = time.perf_counter() - t0
        self.setup_s = self.session_s + median(builds) + self.warmup_s
        self.say(f"setup: session {self.session_s:.2f} s, build median {median(builds):.2f} s of {BUILDS}, warm-up {self.warmup_s:.2f} s")
        for r in warm:
            self.say(f"  warm-up op {r['op']}: {r['wall_s']:.3f} s, jit {r['jit_ms']} ms, gc {r['gc_ms']} ms, codegen {r['codegen']}, ok={r['ok']}")

        wl.bytes.scan()  # set-up and warm-up writes are not counted
        # a fixed op count per (workload, --seconds): every run times the
        # same op mix, however fast this host is
        n = max(MIN_OPS[bool(self.args.trace)], round(self.args.seconds / wl.nominal_op_s))
        timed = []
        for i in range(wl.warmup_ops, wl.warmup_ops + min(n, MAX_OPS)):
            traced = bool(self.args.trace) and len(timed) % 2 == 1
            timed.append(self.run_op(i, traced))
        self.timed = timed
        self.attempted += 1
        try:
            wl.final_check()
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"final check: {type(exc).__name__}: {exc}")
        if self.args.trace and hasattr(wl, "probe"):
            self.probes = []
            for r in range(2):
                with self.tracer.op_span(10_000 + r, "bench.probe"):
                    self.probes.append(wl.probe(wl.warmup_ops))
                self.tracer.harvest(10_000 + r)
        self.heap_mb = self.tracer.jvm.retained_heap_mb()
        wall = time.perf_counter() - wall0
        steal = stats.steal_seconds() - steal0
        self.steal_share = steal / (wall * stats.nproc())
        self.say(
            f"host: nproc {stats.nproc()}, steal {steal:.2f} s ({self.steal_share:.4f} of cpu time), "
            f"loadavg {load0[0]:.2f} -> {os.getloadavg()[0]:.2f}, run wall {wall:.1f} s"
        )
        self.describe(timed)
        return self.layer_metrics() if self.args.trace else self.e2e_metrics()

    # ------------------------------------------------------------ metrics

    def describe(self, timed: list[dict]) -> None:
        ok = [r for r in timed if r["ok"]]
        n = len(ok)
        self.say(f"timed: {len(timed)} ops attempted, {n} ok")
        if n == 0:
            return
        batch = [r["batch_s"] for r in ok]
        p = stats.highest_supported_percentile(n)
        tail = f", p{p:g} {stats.percentile(batch, p):.3f} s" if p and p > 50 else ""
        self.say(
            f"batch_s: n={n}, p50 {median(batch):.3f} s, max {max(batch):.3f} s{tail}; "
            f"highest percentile with >=10 samples beyond it: {'none' if p is None else f'p{p:g}'}"
        )
        third = max(1, n // 3)
        first, last = median(batch[:third]), median(batch[-third:])
        self.say(f"drift: first-third median {first:.3f} s, last-third median {last:.3f} s ({last / first - 1:+.1%})")
        self.say(f"read_s: n={n}, p50 {median([r['read_s'] for r in ok]):.3f} s")
        self.say(
            "ops (batch s/read s/jit ms/generated classes): "
            + " ".join(f"{r['batch_s']:.2f}/{r['read_s']:.2f}/{r['jit_ms']}/{r['codegen']}" for r in ok)
        )
        if self.args.workload == "cdc_merge":
            vol = [r["new_bytes"] for r in ok]
            self.say("rewrite bytes per op: " + " ".join(str(v) for v in vol))
            if median(vol[-third:]) > 1.25 * median(vol[:third]):
                self.failures.append(
                    f"rewrite volume trends up: {median(vol[:third])} -> {median(vol[-third:])} bytes"
                )

    def e2e_metrics(self) -> dict:
        ok = [r for r in self.timed if r["ok"] and not r["traced"]]
        if not ok:
            return {}
        rows = sum(r["rows"] for r in ok)
        return {
            "setup_s": self.setup_s,
            "batch_s.p50": median([r["batch_s"] for r in ok]),
            "read_s.p50": median([r["read_s"] for r in ok]),
            "rows_per_s": rows / sum(r["batch_s"] + r["read_s"] for r in ok),
            "written_mb_per_krow": sum(r["new_bytes"] for r in ok) / MB / (rows / 1000),
            "retained_heap_mb": self.heap_mb,
        }

    def layer_metrics(self) -> dict:
        import layers

        ok = [r for r in self.timed if r["ok"]]
        traced = [r for r in ok if r["traced"]]
        plain = [r for r in ok if not r["traced"]]
        out = {name: 0.0 for name in PER_LAYER}
        out.update(
            {
                "session.get_spark.s": self.session_s,
                "bench.warmup.s": self.warmup_s,
                "bench.jit_ms_per_op": median([r["jit_ms"] for r in ok]) if ok else 0.0,
                "bench.gc_ms_per_op": median([r["gc_ms"] for r in ok]) if ok else 0.0,
                "bench.cached_mb_after_op": median([r["cached_mb"] for r in ok]) if ok else 0.0,
                "bench.steal_share": self.steal_share,
            }
        )
        if traced and plain:
            out["bench.trace_overhead"] = median([r["batch_s"] for r in traced]) / median(
                [r["batch_s"] for r in plain]
            )
        out.update(layers.per_layer(self.tracer, [r["op"] for r in traced], getattr(self, "probes", [])))
        for r in traced:
            selfs = self.tracer.self_times(r["op"])
            root = next(s for i, s in enumerate(self.tracer.spans) if i in selfs and s.parent is None)
            parts = ", ".join(
                f"{self.tracer.spans[i].name} {t:.3f}" for i, t in selfs.items() if t > 0.0005
            )
            self.say(f"trace op {r['op']}: wall {root.wall:.3f} s = self times {sum(selfs.values()):.3f} s ({parts})")
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl_posts", "cdc_merge"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import weightlifting_wod_etl_spark  # noqa: F401  fail fast without the engine

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    try:
        metrics = run.main()
    finally:
        stop_spark(getattr(run, "spark", None))
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    for f in run.failures:
        run.say(f"FAILED {f}")
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not run.failures and set(metrics) == set(units),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print("\n".join(run.report))
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
