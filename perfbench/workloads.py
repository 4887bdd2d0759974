"""The two workloads. Each op drives the engine's public functions on
generated inputs, reads back what it wrote, and checks the result against
the generator's prediction.

``op`` returns ``(batch_s, read_s, input_rows)`` and raises
:class:`CheckFailed` when an output is wrong. Inputs are written before
the clock starts; ``batch_s`` runs from the engine call that submits the
batch to the return of the commit, ``read_s`` covers the read-after-write.
"""

from __future__ import annotations

import contextlib
import io as _io
import os
import re
import shutil
import time

import gen
from stats import NewBytes


PREFIXES = ("scan", "strip", "sessionize", "records", "clean")


class CheckFailed(AssertionError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class EtlPosts:
    """Posts → wod_pipeline → idempotent JSONL + KV upsert partitioned by
    week → read back. One batch of 40 posts per op; its posts fall in
    exactly three weeks, so every op rewrites three partitions."""

    name = "etl_posts"
    # The cold op takes ~20 s, the next three fall from 7 s to within ~10%
    # of the plateau while the JIT compiles 28 -> 8 s of CPU per op; later
    # ops stay within per-op noise (see NOTES.md).
    warmup_ops = 4
    nominal_op_s = 5.0
    replay_at = 2  # warm-up op that replays batch 0: must write 0 JSONL rows

    def __init__(self, spark, work: str, seed: int, tracer):
        from weightlifting_wod_etl_spark.sources import register_posts_source

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.pages = os.path.join(work, "pages")
        self.jsonl = os.path.join(work, "records_jsonl")
        self.ledger = os.path.join(work, "ledger")
        self.kv = os.path.join(work, "kv")
        self.bytes = NewBytes(self.jsonl, self.ledger, self.kv)
        self.expected: dict[int, list] = {}
        self.total_records = 0
        register_posts_source(spark)

    def build(self) -> None:
        shutil.rmtree(self.pages, ignore_errors=True)
        os.makedirs(self.pages)
        self.expected.clear()
        for op_no in range(self.warmup_ops):
            self.prepare(op_no)

    def _batch(self, b: int):
        if b not in self.expected:
            self.expected[b] = gen.write_pages(self.pages, self.seed, b)
        return self.expected[b]

    def prepare(self, op_no: int) -> int:
        """Write the op's input; return the batch it reads."""
        b = 0 if op_no == self.replay_at else op_no
        self._batch(b)
        return b

    def _posts(self, b: int):
        from pyspark.sql import functions as F

        first, _ = self._batch(b)
        return (
            self.spark.read.format("wod_posts")
            .option("pages_dir", self.pages)
            .option("start_page", first)
            .option("max_pages", gen.PAGES_PER_BATCH)
            .load()
            .select(
                "post_id",
                F.col("content").alias("html"),
                F.col("date").alias("post_date"),
                "slug",
                F.col("title"),
            )
        )

    def op(self, op_no: int) -> tuple[float, float, int]:
        from pyspark.sql import functions as F

        from weightlifting_wod_etl_spark import io as wio
        from weightlifting_wod_etl_spark import sinks
        from weightlifting_wod_etl_spark.operators.dedup import idempotency_key
        from weightlifting_wod_etl_spark.plans.wod_pipeline import wod_pipeline

        b = self.prepare(op_no)
        replay = b != op_no
        _, expected = self._batch(b)
        t0 = time.perf_counter()
        with self.tracer.span("plans.wod_pipeline"):
            # no per-batch numeric literals in the plans: Spark inlines them
            # into generated code, and a new class every batch keeps the JIT
            # busy forever
            records = (
                wod_pipeline(self._posts(b))
                .withColumn(
                    "idem_key",
                    idempotency_key("wod_record", F.concat_ws("|", F.col("post_id").cast("string"), "date")),
                )
                .withColumn("week", F.trunc(F.col("date").cast("date"), "week").cast("string"))
                .withColumn("ingest_seq", (F.col("post_id") / 1000).cast("int"))
                .persist()
            )
            n_records = records.count()
        try:
            n_json = sinks.write_jsonl_idempotent(records.drop("week", "ingest_seq"), self.jsonl, self.ledger)
            sinks.kv_upsert_parquet(
                records.drop("idem_key"),
                self.kv,
                key_cols=["post_id", "date"],
                order_cols=["ingest_seq"],
                partition_by=["week"],
            )
            t1 = time.perf_counter()
            with self.tracer.span("io.read_table"):
                back = (
                    wio.read_table(self.spark, self.kv)
                    .where(F.col("week").isin(gen.weeks(expected)))
                    .select("post_id", "date", "session")
                    .toArrow()
                    .to_pylist()
                )
            t2 = time.perf_counter()
        finally:
            records.unpersist()
        check(n_records == len(expected), f"batch {b}: {n_records} records, expected {len(expected)}")
        want = 0 if replay else len(expected)
        check(n_json == want, f"batch {b}: JSONL wrote {n_json} rows, expected {want}")
        ids = {r[0] for r in expected}
        got = sorted((r["post_id"], r["date"], r["session"]) for r in back if r["post_id"] in ids)
        check(got == sorted(expected), f"batch {b}: KV read-back differs from the generated records")
        self.total_records += want
        return t1 - t0, t2 - t1, gen.POSTS_PER_BATCH

    def final_check(self) -> None:
        """Whole-output counts, once, after the timed section."""
        from weightlifting_wod_etl_spark import io as wio

        n_kv = wio.read_table(self.spark, self.kv).count()
        n_json = self.spark.read.text(self.jsonl).count()
        check(n_kv == self.total_records, f"KV holds {n_kv} rows, expected {self.total_records}")
        check(n_json == self.total_records, f"JSONL holds {n_json} rows, expected {self.total_records}")

    def probe(self, b: int) -> dict[str, float]:
        """Wall time of each pipeline prefix over batch ``b``, each written
        to the no-op sink: scan, strip, sessionize, records, clean."""
        from pyspark.sql import functions as F

        from weightlifting_wod_etl_spark.operators.clean import DEFAULT_RENAME, clean_records
        from weightlifting_wod_etl_spark.operators.dedup import exact_dedup
        from weightlifting_wod_etl_spark.plans import wod_pipeline as wp

        def prefix(upto: str):
            # built afresh each time: a prefix pays every stage before it
            posts = self._posts(b)
            if upto == "scan":
                return posts
            deduped = exact_dedup(
                posts, key_cols=["post_id"], order_cols=[F.col("html").asc_nulls_last()]
            ).localCheckpoint(eager=False)
            stripped = wp.strip_posts(deduped)
            if upto == "strip":
                return stripped
            segmented = wp.sessionize_post_text(stripped)
            if upto == "sessionize":
                return segmented
            records = wp.segments_to_records(segmented, stripped)
            if upto == "records":
                return records
            return clean_records(records, rename_map=DEFAULT_RENAME)

        out = {}
        for name in PREFIXES:
            with self.tracer.span(f"probe.{name}") as s:
                prefix(name).write.format("noop").mode("overwrite").save()
            out[name] = s.wall if s is not None else 0.0
        return out


class CdcMerge:
    """One ~5k-row change batch per op through ``make_cdc_apply`` into a
    1M-row, 32-file, key-clustered, stats-indexed table, then a pruned
    read of the batch's key window."""

    name = "cdc_merge"
    # The cold op takes ~13 s, the next ones fall from 3.5 s to ~2.4 s by
    # the 5th op, and op time steps down once more, to ~2.0 s, around the
    # 8th (see NOTES.md).
    warmup_ops = 8
    nominal_op_s = 2.5
    replay_at = 3  # warm-up op that re-applies the previous batch

    def __init__(self, spark, work: str, seed: int, tracer):
        from weightlifting_wod_etl_spark.streaming import cdc_apply

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.table = os.path.join(work, "cdc_table")
        self.changes = os.path.join(work, "changes")
        self.bytes = NewBytes(self.table)
        self.model = gen.CdcModel(seed)
        self.batches: dict[int, tuple[str, list]] = {}
        self.last_stats: dict | None = None
        # capture the merge stats dict the batch function discards
        inner = cdc_apply.merge_into

        def merge_into(*args, **kwargs):
            self.last_stats = inner(*args, **kwargs)
            return self.last_stats

        cdc_apply.merge_into = merge_into
        self.apply = cdc_apply.make_cdc_apply(self.table, on=["k"], seq_col="seq", op_col="op")

    def build(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from weightlifting_wod_etl_spark.operators.skipping import save_stats_index

        shutil.rmtree(self.table, ignore_errors=True)
        shutil.rmtree(self.changes, ignore_errors=True)
        os.makedirs(self.table)
        os.makedirs(self.changes)
        for f in range(gen.CDC_FILES):
            k, status, val = gen.base_columns(self.seed, f)
            pq.write_table(
                pa.table({"k": k, "status": status, "val": val}),
                os.path.join(self.table, f"part-{f:05d}.parquet"),
            )
        save_stats_index(self.table, ["k"])
        self.model = gen.CdcModel(self.seed)
        self.batches.clear()

    def prepare(self, op_no: int) -> int:
        b = op_no - 1 if op_no == self.replay_at else op_no
        if b not in self.batches:
            import pyarrow as pa
            import pyarrow.parquet as pq

            rows = gen.change_batch(self.seed, b)
            cols = list(zip(*rows))
            path = os.path.join(self.changes, f"batch-{b:04d}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "k": pa.array(cols[0], pa.int64()),
                        "op": pa.array(cols[1], pa.string()),
                        "seq": pa.array(cols[2], pa.int64()),
                        "status": pa.array(cols[3], pa.string()),
                        "val": pa.array(cols[4], pa.float64()),
                    }
                ),
                path,
            )
            self.batches[b] = (path, rows)
        return b

    def op(self, op_no: int) -> tuple[float, float, int]:
        from weightlifting_wod_etl_spark import io as wio

        b = self.prepare(op_no)
        path, rows = self.batches[b]
        lo, hi = gen.window(self.seed, b)
        self.last_stats = None
        err = _io.StringIO()
        t0 = time.perf_counter()
        with self.tracer.span("streaming.cdc_apply.batch") as span, contextlib.redirect_stderr(err):
            self.apply(self.spark.read.parquet(path), op_no)
        t1 = time.perf_counter()
        with self.tracer.span("io.read_pruned"):
            got = wio.read_pruned(self.spark, self.table, "k", lo, hi).select("k", "status", "val").toArrow()
        t2 = time.perf_counter()
        want_stats, want_null = self.model.apply(rows)
        stats = {k: (self.last_stats or {}).get(k) for k in want_stats}
        check(stats == want_stats, f"batch {b}: merge stats {stats}, model {want_stats}")
        m = re.search(r"dropped (\d+) NULL-key", err.getvalue())
        n_null = int(m.group(1)) if m else 0
        if span is not None:
            span.counters.update(rows=len(rows), null_key_dropped=n_null)
        check(n_null == want_null, f"batch {b}: {n_null} NULL-key rows dropped, generated {want_null}")
        d = got.to_pydict()
        got_rows = dict(zip(d["k"], zip(d["status"], d["val"])))
        check(len(got_rows) == len(d["k"]), f"batch {b}: duplicate keys in the read window")
        check(got_rows == self.model.rows_in(lo, hi), f"batch {b}: read window differs from the model")
        return t1 - t0, t2 - t1, len(rows)

    def final_check(self) -> None:
        from weightlifting_wod_etl_spark import io as wio

        n = wio.read_table(self.spark, self.table).count()
        want = gen.CDC_FILES * gen.CDC_SPAN // 2
        want += sum(1 if v is not None else 0 for v in self.model.changed.values())
        want -= sum(1 for k in self.model.changed if k % 10 < 5)
        check(n == want, f"table holds {n} rows, model {want}")
