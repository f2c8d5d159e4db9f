"""The timed workloads: seeded input, one op, and the op's output check.

Each op reads its input afresh: re-running an action on the same
DataFrame reuses its materialised shuffle stages and under-reports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import fixtures as fx


def transcript_schema():
    from bench import make_transcript_schema

    return make_transcript_schema()


def dirty_schema():
    """A schema most rows fail: ``role`` without "tool" and ``turn_idx <
    DIRTY_TURN_LT`` are unlimited, ``text`` length keeps 10 rows."""
    from pandera_spark import Check, Column, DataFrameSchema

    return DataFrameSchema(
        {
            "role": Column("string", checks=Check.isin(set(fx.DIRTY_ROLES))),
            "text": Column("string", checks=Check.str_length(
                *fx.DIRTY_TEXT, n_failure_cases=fx.DIRTY_TEXT_LIMIT)),
            "turn_idx": Column("int", checks=Check.less_than(fx.DIRTY_TURN_LT)),
        },
        index_cols=["conv_id", "turn_idx"],
        name="transcripts_dirty",
    )


def text_len_ks(df):
    """KS drift of text length between the two crc32(conv_id) parity groups."""
    from pandera_spark.backend import drift

    lens = df.select(
        F.length("text").cast("double").alias("text_len"),
        (F.crc32(F.col("conv_id")) % 2 == 0).alias("grp"),
    )
    return drift.ks_2samp_binned(lens, "text_len", "grp", bins=8192)


def dirty_op(schema, df, tr) -> dict:
    """Validate, then materialise the whole violations frame: every
    column of every violation row feeds the aggregate."""
    with tr.span("backend.validate"):
        r = schema.validate(df, collect_stats=False)
    with tr.span("backend.violations"):
        rows = r.violations.groupBy("column").agg(
            F.count(F.lit(1)), F.sum(F.length("failure_case")),
            F.sum(F.length("index")),
        ).collect()
    return {c: (int(n), int(fc or 0), int(ix or 0)) for c, n, fc, ix in rows}


class Workload:
    rows = 0  # input rows (turns) per op

    def __init__(self, spark):
        self.spark = spark
        self.path = None

    def build(self, path: str, table, cuts):
        """Write the input under ``path``; returns its reference."""
        fx.write_transcripts(path, table, cuts)
        return self.reference(path)

    def read(self):
        return self.spark.read.parquet(self.path)


class ValidateClean(Workload):
    """The pass path: the full transcript schema (fused checks, stats,
    uniqueness, contiguity) on clean parquet, plus KS drift on text length."""

    rows = 100_000

    def __init__(self, spark):
        super().__init__(spark)
        self.schema = transcript_schema()

    def reference(self, path):
        return fx.ref_ks(path)

    def op(self, tr):
        df = self.read()
        with tr.span("backend.validate"):
            r = self.schema.validate(df, collect_stats=True, collect_failure_cases=False)
        with tr.span("backend.drift"):
            ks = text_len_ks(df)
        return {"passed": r.passed, "n_rows": r.n_rows, "ks": ks.statistic,
                "n1": ks.n1, "n2": ks.n2}

    def check(self, out, ref):
        return (out["passed"] is True and out["n_rows"] == ref["n_rows"]
                and (out["n1"], out["n2"]) == (ref["n1"], ref["n2"])
                and abs(out["ks"] - ref["ks"]) < 1e-9)


class ViolationsDirty(Workload):
    """The fail path: the dirty schema, with the violations frame fully
    materialised."""

    rows = 100_000

    def __init__(self, spark):
        super().__init__(spark)
        self.schema = dirty_schema()

    def reference(self, path):
        return fx.ref_violations(path)

    def op(self, tr):
        return dirty_op(self.schema, self.read(), tr)

    def check(self, out, ref):
        return out == ref


WORKLOADS = {
    "validate_clean": ValidateClean,
    "violations_dirty": ViolationsDirty,
}
