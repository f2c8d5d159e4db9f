"""The layer calls of the traced run, after its op loop, on the workload's
input. Each call sits in a span named after its layer. A batch layer call
runs once untraced, to warm its plan, and once traced; the streaming
monitor and the Iceberg runner run once, and read only the first
``SUITE_FILES`` of the input's parquet files, so the traced run ends
within its time limit. Each layer metric is one traced call: compare them
as medians over several traced runs. The timed run never makes these
calls.
"""

from __future__ import annotations

import os
import shutil
import statistics

from . import fixtures as fx
from .workloads import dirty_op, dirty_schema, text_len_ks, transcript_schema

SUITE_FILES = 4
BUCKETS = 4


class Suite:
    def __init__(self, spark, path: str, work: str, nproc: int, tr):
        self.spark, self.path, self.work, self.nproc, self.tr = spark, path, work, nproc, tr
        self.files = fx.parquet_files(path)[:SUITE_FILES]
        self.metrics: dict = {}
        self.wrong: list[str] = []  # layer calls whose output was wrong

    def read(self):
        return self.spark.read.parquet(self.path)

    def layer(self, name, key="dur_s"):
        """``key`` of the layer call ``name``."""
        return next(s[key] for s in self.tr.spans if s["name"] == name and s["op"] is None)

    def expect(self, what: str, ok: bool) -> None:
        if not ok:
            self.wrong.append(what)

    def run(self) -> dict:
        for step in (self.batch_layers, self.streaming, self.iceberg):
            n = len(self.tr.spans)
            step()
            self.tr.finish_spans(self.tr.spans[n:])
        self.collect()
        return self.metrics

    # -- batch layers -----------------------------------------------------
    def batch_layers(self):
        """Each call runs twice, untraced and then traced: the op loop has
        not run most of these plans, and the first call of a plan pays its
        planning and code generation cold."""
        from pandera_spark.backend.referential import contiguity_groups
        from pandera_spark.backend.unique import duplicate_keys

        tr, schema, dirty = self.tr, transcript_schema(), dirty_schema()
        calls = {
            "io.scan_noop": lambda: self.read().write.format("noop").mode("overwrite").save(),
            "backend.validate.stats": lambda: schema.validate(
                self.read(), collect_stats=True, collect_failure_cases=False),
            "backend.validate.nostats": lambda: schema.validate(
                self.read(), collect_stats=False, collect_failure_cases=False),
            "backend.unique": lambda: duplicate_keys(self.read(), ["conv_id", "turn_idx"]).count(),
            "backend.referential": lambda: contiguity_groups(
                self.read(), "conv_id", "turn_idx", start=0).count(),
            "backend.drift": lambda: text_len_ks(self.read()),
            # spans of its own: backend.validate, backend.violations
            "dirty": lambda: dirty_op(dirty, self.read(), tr),
        }
        out = {}
        for name, call in calls.items():
            tr.enabled = False
            call()
            tr.enabled = True
            if name == "dirty":
                out[name] = call()
            else:
                with tr.span(name):
                    out[name] = call()
        ks_ref = fx.ref_ks(self.path)
        r = out["backend.validate.stats"]
        self.expect("validate", r.passed and r.n_rows == ks_ref["n_rows"])
        self.expect("unique", out["backend.unique"] == 0)
        self.expect("drift", abs(out["backend.drift"].statistic - ks_ref["ks"]) < 1e-9)
        self.expect("violations", out["dirty"] == fx.ref_violations(self.path))
        self.viol_rows = sum(v[0] for v in out["dirty"].values())

    # -- streaming --------------------------------------------------------
    def streaming(self):
        from pandera_spark.streaming import grammar_monitor

        want = fx.ref_grammar_rows(self.files)
        stream_dir = os.path.join(self.work, "stream-input")
        os.makedirs(stream_dir, exist_ok=True)
        for f in self.files:
            shutil.copy(f, stream_dir)
        static = self.spark.read.parquet(stream_dir).schema
        # one file per micro-batch: the state store commits once per file
        stream = (self.spark.readStream.schema(static)
                  .option("maxFilesPerTrigger", 1).parquet(stream_dir))
        counts = [0]

        def sink(batch_df, batch_id):
            counts[0] += batch_df.count()

        with self.tr.span("streaming.grammar_monitor"):
            q = (grammar_monitor(stream).writeStream.foreachBatch(sink)
                 .option("checkpointLocation", os.path.join(self.work, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        self.expect("stream", counts[0] == want)
        self.progress = q.recentProgress

    # -- Iceberg and the partition runner ---------------------------------
    def runner_schema(self):
        """The transcript columns with ``turn_idx < DIRTY_TURN_LT``, an
        unlimited check some rows of every partition fail, so each
        partition writes violation rows to the sink."""
        from pandera_spark import Check, Column, DataFrameSchema

        full = transcript_schema()
        cols = dict(full.columns)
        cols["turn_idx"] = Column("int", checks=Check.less_than(fx.DIRTY_TURN_LT),
                                  nullable=False)
        return DataFrameSchema(cols, index_cols=full.index_cols, name="transcripts_runner")

    def iceberg(self):
        from pandera_spark.io import iceberg_meta_stats, plan_files, read_iceberg, read_table_meta
        from pandera_spark.runner import PartitionedValidationRun

        tr = self.tr
        table, out = os.path.join(self.work, "iceberg"), os.path.join(self.work, "runner")
        with tr.span("io.iceberg_meta.build"):
            self.ice_ref = fx.write_iceberg(self.spark, self.files, table, BUCKETS,
                                            fx.DIRTY_TURN_LT)
        schema, part = self.runner_schema(), f"bucket({BUCKETS}, conv_id)"

        def pvr():
            return PartitionedValidationRun(schema, table, part, out, spark=self.spark,
                                            run_id="perfbench")

        with tr.span("io.iceberg_meta.plan"):
            read_table_meta(table)
            # both refuse a snapshot that carries delete files, after
            # reading the same metadata the runner reads
            for fn in (plan_files, iceberg_meta_stats):
                try:
                    fn(table)
                except RuntimeError:
                    pass
        with tr.span("io.iceberg_meta.read_noop"):
            read_iceberg(self.spark, table).write.format("noop").mode("overwrite").save()
        with tr.span("runner.discover"):
            pvr().discover_partitions()
        with tr.span("runner.run"):
            self.first = pvr().run(parallelism=self.nproc)
        with tr.span("runner.resume"):
            again = pvr().run(parallelism=self.nproc)
        with tr.span("runner.manifest.read"):
            done = pvr().completed_partitions()
        first = self.first
        self.expect("runner", len(first) == BUCKETS and not again
                    and all(r.status == "ok" for r in first)
                    and sum(r.n_rows for r in first) == self.ice_ref["live_rows"]
                    and sum(r.n_violations for r in first) == self.ice_ref["live_turn_fail"]
                    and len(done) == BUCKETS)
        self.written_mb = fx.dir_mb(out)

    # -- metrics ------------------------------------------------------------
    def collect(self):
        call = self.layer("backend.validate.stats")
        state = [x["stateOperators"][0] for x in self.progress if x.get("stateOperators")]
        secs = [r.seconds for r in self.first]
        self.metrics = {
            "validate.call_s": (call, "s"),
            "validate.jobs": (self.layer("backend.validate.stats", "jobs"), "count"),
            "validate.stats_leg_s": (call - self.layer("backend.validate.nostats"), "s"),
            "unique.call_s": (self.layer("backend.unique"), "s"),
            "referential.call_s": (self.layer("backend.referential"), "s"),
            "drift.call_s": (self.layer("backend.drift"), "s"),
            "violations.materialize_s": (self.layer("backend.violations"), "s"),
            "violations.rows": (self.viol_rows, "count"),
            "violations.jobs": (self.layer("backend.violations", "jobs"), "count"),
            "io.scan_noop_s": (self.layer("io.scan_noop"), "s"),
            "iceberg.plan_s": (self.layer("io.iceberg_meta.plan"), "s"),
            "iceberg.read_noop_s": (self.layer("io.iceberg_meta.read_noop"), "s"),
            "iceberg.rows_deleted": (
                self.ice_ref["n_rows"] - sum(r.n_rows for r in self.first), "count"),
            "runner.discover_s": (self.layer("runner.discover"), "s"),
            "runner.partition_s": (statistics.median(secs), "s"),
            "runner.partition_s_max": (max(secs), "s"),
            "runner.resume_s": (self.layer("runner.resume"), "s"),
            "manifest.read_s": (self.layer("runner.manifest.read"), "s"),
            "runner.bytes_written_mb": (self.written_mb, "MB"),
            "stream.batches": (len(self.progress), "count"),
            "stream.add_batch_s": (
                sum(x["durationMs"].get("addBatch", 0) for x in self.progress) / 1e3, "s"),
            "stream.state_commit_s": (sum(s.get("commitTimeMs", 0) for s in state) / 1e3, "s"),
            "stream.state_rows": (state[-1]["numRowsTotal"] if state else 0, "count"),
            "stream.state_memory_mb": (
                state[-1]["memoryUsedBytes"] / 2**20 if state else 0, "MB"),
        }
