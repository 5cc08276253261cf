"""The benchmark's workloads: fixtures, one operation each, the checks that
every operation's outputs must pass, and the traced per-layer calls.

Both workloads read the same stored transcripts table, generated from the
run's seed by ``sources.datagen.transcripts`` and written as 16 parquet
files. The program receives only that table (plus the tool catalog).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.drift import DriftRule, snapshot
from ndap_data_validator_spark.operators.expectations import MetricRule
from ndap_data_validator_spark.operators.validate import ValidationEngine
from ndap_data_validator_spark.plans.pipeline import new_run_id, run_validation
from ndap_data_validator_spark.rules.model import (
    CheckRule,
    ColumnAssignment,
    SequenceRule,
)
from ndap_data_validator_spark.sources.datagen import (
    TOOL_COUNT,
    tool_catalog,
    transcripts,
)

FIXTURE_ROWS = 50_000
FIXTURE_FILES = 16
N_PARTITIONS = 16
ORDER_BY = ["conv_id", "turn_idx"]
KEY_COLS = ["conv_id", "turn_idx"]

TOOL_IDS = tuple(f"tool-{k:03d}" for k in range(TOOL_COUNT))
# Every column rule kind: regex, domain, range, plus the mandatory Measures
# and Time roles. Time sits on a derived MMM-yyyy month: the catalog's time
# patterns are YYYY / MMM-YYYY, so `ts` itself would fail every row, and
# without a Time column the missing mandatory role withholds every
# partition and nothing reaches the publish or quarantine sinks.
ASSIGNMENTS = [
    ColumnAssignment("conv_id", "Location", regex=r"^conv-\d{6}$"),
    ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
    ColumnAssignment("role", "Others", regex=r"^(user|assistant|tool)$"),
    ColumnAssignment("text", "Location", regex=r"^turn -?\d+ of conv \d+: [a-z ]+$"),
    ColumnAssignment("tool", "Others", allowed_values=TOOL_IDS),
    ColumnAssignment("month", "Time"),
]
SEQUENCE_RULE = SequenceRule(
    "conv_id", "turn_idx", ts_column="ts", role_column="role", expected_step=1
)
CHECK_RULES = [
    CheckRule("tool_named", "role <> 'tool' OR tool IS NOT NULL"),
    CheckRule("turn_nonneg", "turn_idx >= 0"),
]
METRIC_RULES = [
    MetricRule("rows", "row_count", min_bound=1),
    MetricRule(
        "roles",
        "compliance",
        expression="role IN ('user', 'assistant', 'tool')",
        min_bound=0.95,
    ),
]
EXPECTED_PARTITIONS = [str(k) for k in range(N_PARTITIONS)]


def partition_expr():
    return F.pmod(F.xxhash64("conv_id"), F.lit(N_PARTITIONS))


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class CheckFailed(Exception):
    """An operation's output failed a correctness check."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _report_key(rows) -> list[tuple]:
    return sorted(
        (
            str(r["partition_id"]),
            r["column"],
            int(r["nulls"]),
            int(r["conversion_errors"]),
            bool(r["passed"]),
            tuple(sorted(r["reasons"] or [])),
        )
        for r in rows
    )


class Workload:
    """Shared fixture handling. Subclasses define ``operation``, ``check``
    and ``traced_layers``."""

    name = ""
    # unmeasured operations run after set-up and billed to it
    warmup_ops = 0

    def __init__(self, spark: SparkSession, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.src_path = ""
        self.rows = FIXTURE_ROWS
        self.files = 0

    def build_fixture(self, attempt: int) -> None:
        """Generate and store the input table under a fresh directory."""
        path = os.path.join(self.work_dir, f"src-{attempt}")
        shutil.rmtree(path, ignore_errors=True)
        transcripts(
            self.spark,
            n_rows=FIXTURE_ROWS,
            n_convs=max(FIXTURE_ROWS // 1000, 10),
            seed=self.seed,
            num_partitions=FIXTURE_FILES,
        ).write.parquet(path)
        if self.src_path:
            shutil.rmtree(self.src_path, ignore_errors=True)
        self.src_path = path
        self.files = sum(
            1 for f in os.listdir(path) if f.endswith(".parquet")
        )

    def prepare(self) -> None:
        """Expected results for the checks, computed from the stored table
        without the operators under test where possible."""
        self.rows = self.source().count()

    def source(self) -> DataFrame:
        """The stored table plus the two derived columns the rules use."""
        return (
            self.spark.read.parquet(self.src_path)
            .withColumn("month", F.date_format("ts", "MMM-yyyy"))
            .withColumn(
                "metric",
                F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1000)).cast(
                    "double"
                ),
            )
        )


class FullRun(Workload):
    """One checkpointed ``run_validation`` with every rule family on."""

    name = "full_run"

    def prepare(self) -> None:
        super().prepare()
        res = ValidationEngine().validate(
            self.source(), ASSIGNMENTS, partition_by=partition_expr(),
            order_by=ORDER_BY,
        )
        self.expected_report = _report_key(res.per_column_report.collect())
        res.release()
        # drift baseline: a hash-derived metric that is identically
        # distributed in every partition, so no partition drifts
        self.drift_rule = DriftRule(snapshot(self.source(), ["metric"]))

    def _dirs(self, tag: str) -> dict[str, str]:
        base = os.path.join(self.work_dir, f"run-{tag}")
        shutil.rmtree(base, ignore_errors=True)
        return {
            "base": base,
            "ckpt": os.path.join(base, "ckpt"),
            "report": os.path.join(base, "report"),
            "publish": os.path.join(base, "publish"),
            "quarantine": os.path.join(base, "quarantine"),
        }

    def call(self, dirs: dict[str, str], run_id: str):
        return run_validation(
            self.spark,
            self.source(),
            ASSIGNMENTS,
            partition_expr(),
            checkpoint_path=dirs["ckpt"],
            run_id=run_id,
            order_by=ORDER_BY,
            report_path=dirs["report"],
            publish_path=dirs["publish"],
            sequence_rule=SEQUENCE_RULE,
            check_rules=CHECK_RULES,
            metric_rules=METRIC_RULES,
            drift_rule=self.drift_rule,
            expected_partitions=EXPECTED_PARTITIONS,
            row_policy="quarantine",
            quarantine_path=dirs["quarantine"],
        )

    def operation(self, tag: str):
        dirs = self._dirs(tag)
        return dirs, self.call(dirs, new_run_id())

    def check(self, result) -> None:
        dirs, out = result
        try:
            self._check(dirs, out)
        finally:
            shutil.rmtree(dirs["base"], ignore_errors=True)

    def _check(self, dirs: dict[str, str], out) -> None:
        read = self.spark.read.parquet
        _expect(
            len(out.processed_partitions) == N_PARTITIONS,
            f"{len(out.processed_partitions)} partitions processed",
        )
        published = read(dirs["publish"]).count()
        quarantined = read(dirs["quarantine"]).count()
        _expect(published > 0, "publish sink is empty")
        _expect(quarantined > 0, "quarantine sink is empty")
        # withheld = rows of partitions failing a verdict that cannot be
        # pinned on rows (error expectations, error drift); read back from
        # the written reports, which are what a user of the run sees
        report = os.path.join(dirs["report"], "{}")
        withheld_parts = {
            str(r["partition_id"])
            for r in read(report.format("metric_expectations"))
            .where(~F.col("passed")).select("partition_id").collect()
        } | {
            str(r["partition_id"])
            for r in read(report.format("drift_report"))
            .where(F.col("drifted")).select("partition_id").collect()
        }
        withheld = (
            self.source()
            .where(partition_expr().cast("string").isin(sorted(withheld_parts)))
            .count()
            if withheld_parts
            else 0
        )
        _expect(
            published + quarantined + withheld == self.rows,
            f"published {published} + quarantined {quarantined} + withheld "
            f"{withheld} != source {self.rows}",
        )
        _expect(
            _report_key(read(report.format("per_column")).collect())
            == self.expected_report,
            "per-column report differs from the engine's report",
        )

    def traced_layers(self, layer) -> None:
        """Time each layer's public calls on their own, then the whole run,
        its resume, and the checkpoint store it left behind."""
        from ndap_data_validator_spark.operators.checks import check_violations
        from ndap_data_validator_spark.operators.completeness import (
            partition_completeness,
        )
        from ndap_data_validator_spark.operators.convchecks import (
            check_sequence_rule,
        )
        from ndap_data_validator_spark.operators.drift import (
            drift_report_partitioned,
        )
        from ndap_data_validator_spark.operators.expectations import (
            metric_expectations,
        )
        from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
        from ndap_data_validator_spark.rules.preflight import preflight_rules

        df = self.source()
        key = partition_expr()
        engine = ValidationEngine()
        layer("sources", lambda: noop(self.spark.read.parquet(self.src_path)))

        def preflight():
            errors = preflight_rules(
                self.spark,
                df,
                assignments=ASSIGNMENTS,
                check_rules=CHECK_RULES,
                metric_rules=METRIC_RULES,
                sequence_rule=SEQUENCE_RULE,
            )
            _expect(not errors, f"preflight reported {errors}")

        layer("rules.preflight", preflight)

        def validate():
            res = engine.validate(
                df, ASSIGNMENTS, partition_by=key, order_by=ORDER_BY
            )
            noop(res.per_column_report)
            noop(res.summary)
            noop(res.violations)
            res.release()
            noop(engine.flag_rows(df, ASSIGNMENTS, check_rules=CHECK_RULES))

        layer("operators.validate", validate)

        def convchecks():
            # AQE would coalesce this small shuffle into one task; at the
            # configured partition count the task holding the hot
            # conversation shows against the others
            coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
            before = self.spark.conf.get(coalesce)
            self.spark.conf.set(coalesce, "false")
            try:
                noop(check_sequence_rule(df, SEQUENCE_RULE))
            finally:
                self.spark.conf.set(coalesce, before)

        layer("operators.convchecks", convchecks, task_skew=True)
        layer(
            "operators.checks",
            lambda: noop(check_violations(df, CHECK_RULES, key_cols=ORDER_BY)),
        )
        layer(
            "operators.expectations",
            lambda: noop(metric_expectations(df, METRIC_RULES, partition_by=key)),
        )
        layer(
            "operators.drift",
            lambda: noop(
                drift_report_partitioned(df, key, self.drift_rule.baseline)
            ),
        )
        layer(
            "operators.completeness",
            lambda: noop(
                partition_completeness(
                    df.withColumn("__part_id", key), "__part_id",
                    EXPECTED_PARTITIONS,
                )
            ),
        )
        dirs = self._dirs("traced")
        run_id = new_run_id()
        out = layer("plans.pipeline", lambda: self.call(dirs, run_id))
        resumed = layer("plans.pipeline.resume", lambda: self.call(dirs, run_id))
        _expect(
            not resumed.processed_partitions,
            f"resume processed {len(resumed.processed_partitions)} partitions",
        )
        store = CheckpointStore(self.spark, dirs["ckpt"])

        def checkpoint() -> int:
            done = store.completed_partitions(run_id, out.rule_digest)
            _expect(len(done) == N_PARTITIONS, f"{len(done)} partitions done")
            files = store.file_count()
            store.maybe_compact()
            return files

        self.checkpoint_files = layer("plans.checkpoint", checkpoint)
        self.check((dirs, out))


class ColumnScan(Workload):
    """The shared-scan validation aggregate, then uniqueness and RI, with no
    pipeline, checkpoint or sink layers."""

    name = "column_scan"
    # its operations are short, so JIT compilation is most of the first one;
    # later ones still get ~30% cheaper over eight operations
    warmup_ops = 1

    def prepare(self) -> None:
        super().prepare()
        # set by the first checked operation; later ones must reproduce it
        self.expected_report = None
        df = self.source()
        # independent expectations: plain groupBy for duplicates, a plain
        # anti-membership filter for dangling tool references
        self.expected_dups = (
            df.groupBy(*KEY_COLS).count().where(F.col("count") > 1).count()
        )
        self.expected_ri = df.where(
            F.col("tool").isNotNull() & ~F.col("tool").isin(list(TOOL_IDS))
        ).count()
        # the report covers every column of the frame, assigned or not
        nulls = df.groupBy(partition_expr().cast("string").alias("__p")).agg(
            *[F.sum(F.col(c).isNull().cast("int")).alias(c) for c in df.columns]
        )
        self.expected_nulls = sorted(
            (r["__p"], c, r[c]) for r in nulls.collect() for c in df.columns
        )
        self.tools = tool_catalog(self.spark).cache()
        self.tools.count()

    def operation(self, tag: str):
        from ndap_data_validator_spark.operators.referential import ri_violations
        from ndap_data_validator_spark.operators.uniqueness import (
            duplicate_keys_hashed,
        )

        df = self.source()
        res = ValidationEngine().validate(
            df, ASSIGNMENTS, partition_by=partition_expr(), order_by=ORDER_BY
        )
        report = res.per_column_report.collect()
        summary = res.summary.collect()
        noop(res.violations)
        res.release()
        dups = duplicate_keys_hashed(df, KEY_COLS).count()
        ri = ri_violations(df, "tool", self.tools, "tool_id").count()
        return report, summary, dups, ri

    def check(self, result) -> None:
        report, summary, dups, ri = result
        _expect(len(summary) == N_PARTITIONS, f"{len(summary)} partitions")
        _expect(
            sum(r["rows"] for r in summary) == self.rows,
            "summary rows do not add up to the source rows",
        )
        nulls = sorted((str(r["partition_id"]), r["column"], r["nulls"]) for r in report)
        _expect(
            nulls == self.expected_nulls,
            "per-column null counts differ from a plain count: "
            f"{sorted(set(nulls) ^ set(self.expected_nulls))[:4]}",
        )
        _expect(dups == self.expected_dups, f"{dups} duplicate keys, "
                f"expected {self.expected_dups}")
        _expect(ri == self.expected_ri, f"{ri} RI violations, "
                f"expected {self.expected_ri}")
        if self.expected_report is None:
            self.expected_report = _report_key(report)
        _expect(_report_key(report) == self.expected_report, "report changed")


    def traced_layers(self, layer) -> None:
        from ndap_data_validator_spark.operators.referential import ri_violations
        from ndap_data_validator_spark.operators.uniqueness import (
            duplicate_keys_hashed,
        )

        df = self.source()
        layer("sources", lambda: noop(self.spark.read.parquet(self.src_path)))

        def validate():
            res = ValidationEngine().validate(
                df, ASSIGNMENTS, partition_by=partition_expr(), order_by=ORDER_BY
            )
            report = res.per_column_report.collect()
            summary = res.summary.collect()
            noop(res.violations)
            res.release()
            return report, summary

        report, summary = layer("operators.validate", validate)
        dups = layer(
            "operators.uniqueness",
            lambda: duplicate_keys_hashed(df, KEY_COLS).count(),
        )
        ri = layer(
            "operators.referential",
            lambda: ri_violations(df, "tool", self.tools, "tool_id").count(),
        )
        self.check((report, summary, dups, ri))


WORKLOADS = {w.name: w for w in (FullRun, ColumnScan)}
