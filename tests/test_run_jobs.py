"""What one ``run_validation`` costs and how its jobs are labelled, read
from Spark's status store (populated with the UI disabled too).

* Metric expectations and drift ride the validator's one shared
  aggregate, so adding them to a run adds ZERO source reads: the run's
  summed stage ``inputRecords`` exceed those of the same run without them
  only by reads of the cached partition-sized aggregate row. Record
  counts are deterministic, so this is not a timing test.
* Every job the run launches is described ``<run_id>/<family>/<step>``,
  and the caller's job description is restored afterwards.
"""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

GROUP = "test-run-jobs"


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _jobs(spark, group: str) -> list:
    store = spark.sparkContext._jsc.sc().statusStore()
    return [j for j in _seq(store.jobsList(None)) if _opt(j.jobGroup()) == group]


def _records_read(spark, group: str) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    total, seen = 0, set()
    for j in _jobs(spark, group):
        for sid in _seq(j.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                # past spark.ui.retainedStages the store drops SKIPPED
                # stages first (they never complete); they read nothing
                continue
            if str(st.status()) == "COMPLETE":
                total += st.inputRecords()
    return total


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """The same small run twice, each under its own job group: with and
    without the metric-expectation and drift families."""
    from pyspark.sql import functions as F

    from ndap_data_validator_spark.operators.drift import DriftRule, snapshot
    from ndap_data_validator_spark.operators.expectations import MetricRule
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import ColumnAssignment
    from ndap_data_validator_spark.sources.datagen import transcripts

    base = str(tmp_path_factory.mktemp("run_jobs"))
    src = os.path.join(base, "src")
    transcripts(
        spark, n_rows=800, n_convs=10, seed=5, num_partitions=2
    ).write.parquet(src)
    df = (
        spark.read.parquet(src)
        .withColumn("month", F.date_format("ts", "MMM-yyyy"))
        .withColumn(
            "metric",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(100)).cast("double"),
        )
    )
    n_rows = df.count()
    families = {
        "metric_rules": [
            MetricRule("rows", "row_count", min_bound=1),
            MetricRule(
                "roles", "compliance", expression="role IS NOT NULL", min_bound=0.5
            ),
        ],
        # error severity with a baseline the data matches: the drift
        # summary feeds the publish gate, and no partition is withheld
        "drift_rule": DriftRule(
            snapshot(df, ["metric"], n_bins=8), ks_threshold=1.0, psi_threshold=1e9
        ),
    }
    sc = spark.sparkContext
    out = {"rows": n_rows}
    for tag, extra in (("plain", {}), ("families", families)):
        group = f"{GROUP}-{tag}"
        sc.setJobGroup(group, "run_validation under test")
        sc.setJobDescription("caller description")
        try:
            res = run_validation(
                spark,
                df,
                [
                    ColumnAssignment("conv_id", "Location"),
                    ColumnAssignment("turn_idx", "Measures", "integer"),
                    ColumnAssignment("month", "Time"),
                ],
                F.pmod(F.xxhash64("conv_id"), F.lit(3)),
                checkpoint_path=os.path.join(base, tag, "ckpt"),
                report_path=os.path.join(base, tag, "report"),
                publish_path=os.path.join(base, tag, "publish"),
                **extra,
            )
            out[f"{tag}_desc_after"] = sc.getLocalProperty("spark.job.description")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        out[tag] = res
        out[f"{tag}_records"] = _records_read(spark, group)
        out[f"{tag}_descs"] = [_opt(j.description()) for j in _jobs(spark, group)]
    return out


def test_expectations_and_drift_add_no_source_reads(runs):
    # the plain run reads the source at least for the engine aggregate,
    # the violations report and the publish write
    assert runs["plain_records"] >= 3 * runs["rows"]
    # reads of the cached partition-sized aggregate row count as input
    # records too (3 per read here); one more source scan would add 800
    extra = runs["families_records"] - runs["plain_records"]
    assert 0 <= extra < runs["rows"] // 10, (extra, runs["rows"])
    assert runs["families"].expectations.count() > 0
    assert runs["families"].drift.count() > 0


def test_every_job_is_described_by_run_family_step(runs):
    for tag in ("plain", "families"):
        run_id = runs[tag].run_id
        descs = runs[f"{tag}_descs"]
        assert descs, tag
        bad = [d for d in descs if not (d or "").startswith(f"{run_id}/")]
        assert not bad, bad
        assert all(len(d.split("/")) == 3 for d in descs), descs
        # the caller's own description is back in place afterwards
        assert runs[f"{tag}_desc_after"] == "caller description"
    families = {d.split("/")[1] for d in runs["families_descs"]}
    assert {"columns", "expectations", "drift", "checkpoint", "publish"} <= families
