"""Golden outputs of one checkpointed ``run_validation`` with every rule
family on: column rules, a sequence rule, CHECK rules, metric
expectations, a drift rule, an expected-partition census and the
quarantine row policy, over a small seeded transcripts table.

The stored outputs (``golden/run_validation_all_families.json``) pin the
run's observable behaviour, so a change to HOW the families are computed
(which aggregate a metric rides in, how the drift histogram is folded)
must leave every report, both sinks and the checkpoint record unchanged.
Floating-point drift statistics compare within ``abs_tol=1e-9``; the
verdict columns and totals compare exactly. Large row sets are stored as
(row count, sha256 of the sorted rows).

Regenerate (only when a behaviour change is intended) with::

    python tests/test_golden_run.py --write
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from pathlib import Path

GOLDEN = Path(__file__).parent / "golden" / "run_validation_all_families.json"
RUN_ID = "RUN-GOLDEN01"
METRIC_NOW = "2026-01-01T00:00:00"
N_PARTITIONS = 6
ORDER_BY = ["conv_id", "turn_idx"]
# stored in full; every other report is stored as (count, digest)
FULL_REPORTS = ("per_column", "metric_expectations", "completeness")
HASHED_REPORTS = ("violations", "check_violations", "sequence_violations")
DRIFT_FLOATS = ("ks", "psi", "js", "w1")


def _source(spark, path: str):
    from pyspark.sql import functions as F

    from ndap_data_validator_spark.sources.datagen import transcripts

    if not os.path.exists(path):
        transcripts(
            spark, n_rows=1_500, n_convs=24, seed=11, num_partitions=4
        ).write.parquet(path)
    return (
        spark.read.parquet(path)
        .withColumn("month", F.date_format("ts", "MMM-yyyy"))
        .withColumn(
            "metric",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1000)).cast(
                "double"
            ),
        )
    )


def _run(spark, base: str):
    from pyspark.sql import functions as F

    from ndap_data_validator_spark.operators.drift import DriftRule, snapshot
    from ndap_data_validator_spark.operators.expectations import MetricRule
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import (
        CheckRule,
        ColumnAssignment,
        SequenceRule,
    )
    from ndap_data_validator_spark.sources.datagen import TOOL_COUNT

    df = _source(spark, os.path.join(base, "src"))
    tools = tuple(f"tool-{k:03d}" for k in range(TOOL_COUNT))
    assignments = [
        ColumnAssignment("conv_id", "Location", regex=r"^conv-\d{6}$"),
        ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
        ColumnAssignment("role", "Others", regex=r"^(user|assistant|tool)$"),
        ColumnAssignment("tool", "Others", allowed_values=tools),
        ColumnAssignment("month", "Time"),
    ]
    metric_rules = [
        MetricRule("rows", "row_count", min_bound=1, max_bound=400),
        MetricRule(
            "roles",
            "compliance",
            expression="role IN ('user', 'assistant', 'tool')",
            min_bound=0.95,
        ),
        MetricRule("conv_nulls", "null_fraction", column="conv_id",
                   max_bound=0.001, severity="warn"),
        MetricRule("turn_mean", "mean", column="turn_idx", max_bound=150),
        MetricRule("turn_p90", "quantile", column="turn_idx", q=0.9,
                   max_bound=250),
        MetricRule("convs", "distinct", column="conv_id", min_bound=2,
                   severity="warn"),
        MetricRule("fresh", "freshness", column="ts", max_bound=1e12),
    ]
    # the hash-derived metric is uniform in every partition; score is the
    # metric shifted far off the baseline grid in partition 1 only
    key = F.pmod(F.xxhash64("conv_id"), F.lit(N_PARTITIONS))
    df = df.withColumn(
        "score",
        F.when(key == 1, F.col("metric") + 5000).otherwise(F.col("metric")),
    )
    drift_rule = DriftRule(
        snapshot(df.where(key != 1), ["metric", "score"], n_bins=16)
    )
    out = run_validation(
        spark,
        df,
        assignments,
        key,
        checkpoint_path=os.path.join(base, "ckpt"),
        run_id=RUN_ID,
        order_by=ORDER_BY,
        report_path=os.path.join(base, "report"),
        publish_path=os.path.join(base, "publish"),
        sequence_rule=SequenceRule(
            "conv_id", "turn_idx", ts_column="ts", role_column="role",
            expected_step=1,
        ),
        check_rules=[
            CheckRule("tool_named", "role <> 'tool' OR tool IS NOT NULL"),
            CheckRule("turn_nonneg", "turn_idx >= 0"),
        ],
        metric_rules=metric_rules,
        metric_now=METRIC_NOW,
        drift_rule=drift_rule,
        expected_partitions=[str(k) for k in range(N_PARTITIONS + 1)],
        row_policy="quarantine",
        quarantine_path=os.path.join(base, "quarantine"),
    )
    return out


def _plain(v):
    """A row value as JSON-stable data."""
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in sorted(v.items())}
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _rows(spark, path: str) -> list[list]:
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(
        ([_plain(r[c]) for c in cols] for r in df.collect()),
        key=lambda r: json.dumps(r),
    )


def _digest(rows: list[list]) -> dict:
    text = "\n".join(json.dumps(r) for r in rows)
    return {"count": len(rows), "sha256": hashlib.sha256(text.encode()).hexdigest()}


def capture(spark, base: str) -> dict:
    """Every observable output of the golden run, as JSON-stable data."""
    from ndap_data_validator_spark.plans.checkpoint import CheckpointStore

    out = _run(spark, base)
    rep = os.path.join(base, "report")
    got = {
        "passed_all": out.passed_all,
        "processed": out.processed_partitions,
        "rule_digest": out.rule_digest,
    }
    for name in FULL_REPORTS:
        got[name] = _rows(spark, os.path.join(rep, name))
    for name in HASHED_REPORTS:
        got[name] = _digest(_rows(spark, os.path.join(rep, name)))
    drift = spark.read.parquet(os.path.join(rep, "drift_report"))
    got["drift_report"] = sorted(
        (
            {c: _plain(r[c]) for c in sorted(drift.columns)}
            for r in drift.collect()
        ),
        key=lambda d: (d["partition_id"], d["column"]),
    )
    for sink in ("publish", "quarantine"):
        got[sink] = _digest(_rows(spark, os.path.join(base, sink)))
    log = CheckpointStore(spark, os.path.join(base, "ckpt")).run_log(RUN_ID)
    got["metrics_json"] = {
        r["partition_id"]: json.loads(r["metrics_json"]) for r in log.collect()
    }
    return got


def test_all_families_run_matches_golden(spark, tmp_path):
    want = json.loads(GOLDEN.read_text())
    got = json.loads(json.dumps(capture(spark, str(tmp_path))))
    drift_got, drift_want = got.pop("drift_report"), want.pop("drift_report")
    for key in want:
        assert got[key] == want[key], key
    assert set(got) == set(want)
    assert len(drift_got) == len(drift_want)
    for g, w in zip(drift_got, drift_want):
        for c, wv in w.items():
            if c in DRIFT_FLOATS:
                assert math.isclose(g[c], wv, abs_tol=1e-9), (w, c)
            else:
                assert g[c] == wv, (w, c)
    # the fixture must exercise both verdicts of the gated families
    assert any(d["drifted"] for d in drift_want)
    assert not all(d["drifted"] for d in drift_want)
    assert any(
        m["expectation_failed_rules"] for m in want["metrics_json"].values()
    )


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_golden_run.py --write")
    import tempfile

    from ndap_data_validator_spark.session import get_spark

    spark = get_spark(
        app_name="golden", master="local[4]", shuffle_partitions=4
    )
    with tempfile.TemporaryDirectory() as tmp:
        data = capture(spark, tmp)
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")
    spark.stop()
    print(f"wrote {GOLDEN}")
