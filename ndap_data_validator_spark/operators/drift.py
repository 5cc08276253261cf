"""Distribution-drift checks (KS / PSI) against a baseline snapshot
(north_star requirement; no counterpart in the reference, which validates
single files in isolation).

Design: drift is computed from FIXED-BIN HISTOGRAMS, not raw values. The
histogram is one aggregate over the scan (``width_bucket`` → groupBy(bin)),
producing ≤ n_bins rows per column — so the KS/PSI math runs on frames of a
few dozen rows regardless of table size. KS over binned data is exact at bin
resolution: KS = max |CDF_p − CDF_q| evaluated at bin edges; PSI is defined
on bins natively. This keeps 10^12-row drift checks to one shared scan plus
driver arithmetic — no applyInPandas needed (SURVEY.md §7.6).

Bin edges come from the BASELINE snapshot (stored alongside its histogram),
so current data is bucketed against the same grid; out-of-range values land
in the under/overflow buckets 0 and n_bins+1, which is itself drift signal.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def histogram(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_bins: int = 32,
) -> DataFrame:
    """(bin_id, bin_count) with bin_id 0 = underflow, n_bins+1 = overflow,
    NULLs excluded. One aggregate, map-side partial counts."""
    b = F.width_bucket(F.col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_bins))
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(b.alias("bin_id"))
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )


def snapshot(
    df: DataFrame, columns: list[str], n_bins: int = 32
) -> dict[str, dict]:
    """Baseline snapshot for ``columns``: per column the (lo, hi) grid from
    observed min/max plus the histogram as a dict {bin_id: count}.

    EXACTLY TWO jobs regardless of column count: one shared agg for every
    column's min/max, then one shared agg where every column's full
    histogram is an ``array(count_if(bucket = i))`` expression — all
    map-side partial counts inside the same scan, one 1-row result. The
    old shape (one histogram job per column) made baselining an N-column
    table N+1 scans; at 100 TB that is the difference between profiling
    costing two passes and costing a day."""
    minmax = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"{c}__lo") for c in columns],
        *[F.max(F.col(c).cast("double")).alias(f"{c}__hi") for c in columns],
    ).first()
    grids: dict[str, tuple[float, float]] = {}
    for c in columns:
        lo, hi = minmax[f"{c}__lo"], minmax[f"{c}__hi"]
        if lo is None or hi is None or lo == hi:
            hi = (lo or 0.0) + 1.0
            lo = lo or 0.0
        grids[c] = (float(lo), float(hi))
    hists = df.agg(
        *[_hist_expr(c, *grids[c], n_bins).alias(c) for c in columns]
    ).first()
    out: dict[str, dict] = {}
    for c in columns:
        lo, hi = grids[c]
        out[c] = {
            "lo": lo,
            "hi": hi,
            "n_bins": n_bins,
            # zero bins stay absent, exactly like the per-column
            # histogram() aggregate this replaces
            "counts": {
                i: int(n) for i, n in enumerate(hists[c]) if n
            },
        }
    return out


@dataclass(frozen=True)
class DriftResult:
    column: str
    ks: float
    psi: float
    baseline_total: int
    current_total: int
    js: float = 0.0  # Jensen-Shannon divergence (nats), bounded [0, ln 2]
    w1: float = 0.0  # Wasserstein-1 on the bin grid, in value units

    def drifted(self, ks_threshold: float = 0.1, psi_threshold: float = 0.2) -> bool:
        return self.ks > ks_threshold or self.psi > psi_threshold


def _vectorize(counts: dict[int, int], n_bins: int) -> list[int]:
    return [counts.get(i, 0) for i in range(0, n_bins + 2)]


def compare(
    baseline: dict[str, dict], current: dict[str, dict]
) -> list[DriftResult]:
    """Driver math over tiny per-bin frames: KS = max |ΔCDF|,
    PSI = Σ (p−q)·ln(p/q) with epsilon smoothing on empty bins,
    JS = ½KL(p‖m) + ½KL(q‖m) with m = (p+q)/2 (no smoothing needed —
    m > 0 wherever either side has mass), and W1 = Σ |ΔCDF|·gap over the
    bin grid with under/overflow mass clamped to the grid edges (the two
    open-ended buckets have no finite width, so their mass sits AT lo/hi;
    W1 is therefore a lower bound when out-of-range drift exists, and the
    overflow counts themselves are the signal for that case)."""
    results = []
    for col, base in baseline.items():
        cur = current.get(col)
        if cur is None:
            continue
        n_bins = base["n_bins"]
        p = _vectorize(base["counts"], n_bins)
        q = _vectorize(cur["counts"], n_bins)
        tp, tq = sum(p), sum(q)
        if tp == 0 or tq == 0:
            results.append(DriftResult(col, 0.0, 0.0, tp, tq))
            continue
        # mass positions: underflow at lo, bin i at its center, overflow
        # at hi — shared by both sides, so gaps are [w/2, w×(n−1), w/2]
        w = (base["hi"] - base["lo"]) / n_bins
        gaps = [w / 2.0] + [w] * (n_bins - 1) + [w / 2.0]
        eps = 1e-6
        ks = w1 = 0.0
        cp = cq = 0.0
        psi = js = 0.0
        for i, (pi, qi) in enumerate(zip(p, q)):
            fp, fq = pi / tp, qi / tq
            cp += fp
            cq += fq
            ks = max(ks, abs(cp - cq))
            if i < len(gaps):
                w1 += abs(cp - cq) * gaps[i]
            a, b = max(fq, eps), max(fp, eps)  # PSI: current vs expected
            psi += (a - b) * math.log(a / b)
            m = (fp + fq) / 2.0
            if fp > 0:
                js += 0.5 * fp * math.log(fp / m)
            if fq > 0:
                js += 0.5 * fq * math.log(fq / m)
        results.append(DriftResult(col, ks, psi, tp, tq, js, w1))
    return results


def ks_exact(
    baseline_df: DataFrame,
    current_df: DataFrame,
    column: str,
) -> float:
    """Exact two-sample KS statistic over RAW values via one Arrow-batched
    ``applyInPandas`` — the optional exact path of SURVEY §7.6 when bin
    resolution isn't enough. Both samples are tagged, co-grouped into a
    single group, and the statistic computed vectorized in pandas.

    Scale note: this pulls both columns of ONE grouping into a single task —
    use for per-partition drift or sampled data; the binned ``drift_check``
    is the full-table path.
    """
    import numpy as np
    import pandas as pd

    a = baseline_df.select(F.col(column).cast("double").alias("v")).where(
        F.col(column).isNotNull()
    ).withColumn("side", F.lit(0))
    b = current_df.select(F.col(column).cast("double").alias("v")).where(
        F.col(column).isNotNull()
    ).withColumn("side", F.lit(1))
    both = a.unionByName(b).withColumn("g", F.lit(1))

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf.loc[pdf["side"] == 0, "v"].to_numpy())
        y = np.sort(pdf.loc[pdf["side"] == 1, "v"].to_numpy())
        if len(x) == 0 or len(y) == 0:
            return pd.DataFrame({"ks": [0.0]})
        grid = np.concatenate([x, y])
        cdf_x = np.searchsorted(x, grid, side="right") / len(x)
        cdf_y = np.searchsorted(y, grid, side="right") / len(y)
        return pd.DataFrame({"ks": [float(np.max(np.abs(cdf_x - cdf_y)))]})

    out = both.groupBy("g").applyInPandas(ks, schema="ks double").first()
    return float(out["ks"])


def ks_exact_distributed(
    baseline_df: DataFrame,
    current_df: DataFrame,
    column: str,
    num_range_partitions: int = 32,
) -> DataFrame:
    """Exact two-sample KS over RAW values, fully distributed — the scale
    path that replaces the single-task ``ks_exact`` (VERDICT r01 #3).

    The step CDFs attain their supremum at a jump point, so evaluating
    |F_a − F_b| at every DISTINCT pooled value is exact. Plan:

      1. tag + union + ``groupBy(value)`` → (v, a_cnt, b_cnt): ONE shuffle,
         map-side partial counts; the frame shrinks to |distinct values|.
      2. ``repartitionByRange(v)`` → per-partition prefix sums via a window
         PARTITIONED BY the range-partition id (each task sorts only its
         slice), plus per-partition totals rolled into offsets.
      3. global CDF = local cumsum + broadcast offset; KS = max |ΔCDF|.

    No stage ever holds more than one range slice of the distinct values;
    the only single-partition work is the offsets window over
    ``num_range_partitions`` rows (partition-COUNT-sized, like the summary
    frame, not data-sized). The range id is a DETERMINISTIC function of the
    value (``width_bucket`` over the observed min/max), never
    ``spark_partition_id`` — re-executions and task retries always agree on
    which slice a value belongs to.

    Returns a 1-row MATERIALIZED DataFrame (ks, n_a, n_b) — eager by design
    so the per-value-counts cache is always released before returning
    (ADVICE r02: the old lazy return leaked one persisted frame per call).
    Contract when a side is empty: ks is NULL (a KS statistic between an
    empty and a non-empty sample is undefined); n_a/n_b report the sizes so
    callers can distinguish the cases. Both sides empty → ks = 0.0, n = 0.
    """
    a = (
        baseline_df.where(F.col(column).isNotNull())
        .select(F.col(column).cast("double").alias("v"))
        .select("v", F.lit(1).alias("__a"), F.lit(0).alias("__b"))
    )
    b = (
        current_df.where(F.col(column).isNotNull())
        .select(F.col(column).cast("double").alias("v"))
        .select("v", F.lit(0).alias("__a"), F.lit(1).alias("__b"))
    )
    union = a.unionByName(b)
    # ONE scan of the raw data: the per-value counts (|distinct values| rows,
    # far smaller than the input) are persisted and every later step — the
    # min/max for the range grid, per-slice totals, the CDF window and the
    # final max — reads the cached reduction, never the source again.
    spark = union.sparkSession
    out_schema = "ks double, n_a long, n_b long"
    base_counts = (
        union.groupBy("v")
        .agg(F.sum("__a").alias("a_cnt"), F.sum("__b").alias("b_cnt"))
        .persist()
    )
    try:
        return _ks_from_counts(
            spark, base_counts, num_range_partitions, out_schema
        )
    finally:
        base_counts.unpersist()


def two_sample_value_counts(
    df: DataFrame, column: str, side_a, group_cols: list[str] | None = None,
) -> DataFrame:
    """ONE scan → per-value two-sample counts ``(v, a_cnt, b_cnt)``: the
    shared reduction from which BOTH the binned drift histograms (a
    width_bucket rollup of this frame) and the exact KS
    (:func:`ks_exact_from_counts`) derive — so a full drift report costs
    one pass over the data instead of three (r05; the r4 entry scanned
    orders once per histogram plus once for the KS). ``side_a`` is a
    boolean Column splitting the two samples; rows where it is NULL belong
    to neither and are excluded, like NULL values.

    ``group_cols`` prepends extra grouping keys — ``(g..., v, a_cnt,
    b_cnt)`` — so one reduction can also feed PER-GROUP rollups (e.g.
    :func:`drift_report_partitioned` with ``weight=``); the ungrouped
    counts are a cheap re-aggregate of this frame over ``v``."""
    keep = F.col(column).isNotNull() & side_a.isNotNull()
    flag = F.when(side_a, 1).otherwise(0)
    return (
        df.where(keep)
        .groupBy(
            *[F.col(g) for g in (group_cols or [])],
            F.col(column).cast("double").alias("v"),
        )
        .agg(
            F.sum(flag).alias("a_cnt"),
            F.sum(F.lit(1) - flag).alias("b_cnt"),
        )
    )


def ks_exact_from_counts(
    counts: DataFrame, num_range_partitions: int = 32
) -> DataFrame:
    """Exact two-sample KS over a PRECOMPUTED ``(v, a_cnt, b_cnt)``
    per-value counts frame (see :func:`two_sample_value_counts`) — the
    share-the-scan path. Callers reusing ``counts`` for other rollups
    should persist it themselves; this function does not cache."""
    spark = counts.sparkSession
    return _ks_from_counts(
        spark, counts, num_range_partitions, "ks double, n_a long, n_b long"
    )


def _ks_from_counts(
    spark, base_counts: DataFrame, num_range_partitions: int, out_schema: str
) -> DataFrame:
    from ndap_data_validator_spark.session import literal_frame

    # ONE action for the whole statistic — the range-grid bounds ride the
    # plan as a broadcast aggregate (VERDICT r04 #4: the old separate
    # min/max .first() made every KS call a 2-action round-trip).
    row = _ks_agg_plan(base_counts, num_range_partitions).first()
    if row["n_a"] is None:  # both sides empty
        return literal_frame(spark, [(0.0, 0, 0)], out_schema)
    # one side empty → division by zero yields NULL: surface it as the
    # documented explicit contract, not an accident of SQL null semantics
    ks = row["ks"] if (row["n_a"] > 0 and row["n_b"] > 0) else None
    return literal_frame(
        spark, [(ks, int(row["n_a"]), int(row["n_b"]))], out_schema
    )


def _ks_agg_plan(
    base_counts: DataFrame, num_range_partitions: int
) -> DataFrame:
    """The LAZY distributed KS aggregate over per-value counts (the plan
    tools/dump_plans.py documents). Fully lazy — the [lo, hi] grid is a
    broadcast 1-row aggregate inside the plan, so callers pay ONE action.
    Both sides empty → one row with NULL n_a/n_b (callers map it to the
    documented contract)."""
    # equal-width range id — even a skewed value distribution only unbalances
    # slice sizes, never correctness (production could swap in approxQuantile
    # boundaries for balance). The lo==hi degenerate range is patched
    # column-side.
    mm = base_counts.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).select(
        "lo",
        F.when(F.col("hi") == F.col("lo"), F.col("lo") + 1.0)
        .otherwise(F.col("hi"))
        .alias("hi"),
    )
    pid = F.width_bucket(
        F.col("v"), F.col("lo"), F.col("hi"), F.lit(num_range_partitions)
    )
    counts = (
        base_counts.crossJoin(F.broadcast(mm)).withColumn("pid", pid).drop("lo", "hi")
    )

    from pyspark.sql import Window

    totals = counts.groupBy("pid").agg(
        F.sum("a_cnt").alias("pa"), F.sum("b_cnt").alias("pb")
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    # grand totals ride the SAME ≤num_range_partitions-row offsets frame as
    # full-range window sums (r06): the former separate ``totals.agg``
    # broadcast was one more serial broadcast stage per KS call AND
    # recomputed the totals subtree.
    w_all = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        "pid",
        F.coalesce(F.sum("pa").over(w_off), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("pb").over(w_off), F.lit(0)).alias("off_b"),
        F.sum("pa").over(w_all).alias("n_a"),
        F.sum("pb").over(w_all).alias("n_b"),
    )

    w_local = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = (
        counts.join(F.broadcast(offsets), "pid")
        .select(
            (F.sum("a_cnt").over(w_local) + F.col("off_a")).alias("ca"),
            (F.sum("b_cnt").over(w_local) + F.col("off_b")).alias("cb"),
            "n_a",
            "n_b",
        )
    )
    return cdf.agg(
        F.max(
            F.abs(
                F.col("ca").cast("double") / F.col("n_a")
                - F.col("cb").cast("double") / F.col("n_b")
            )
        ).alias("ks"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )


def drift_check(
    current_df: DataFrame,
    baseline_snapshot: dict[str, dict],
) -> list[DriftResult]:
    """Histogram the current data on the BASELINE's bin grid, then compare."""
    current: dict[str, dict] = {}
    for col, base in baseline_snapshot.items():
        rows = histogram(
            current_df, col, base["lo"], base["hi"], base["n_bins"]
        ).collect()
        current[col] = {
            "lo": base["lo"],
            "hi": base["hi"],
            "n_bins": base["n_bins"],
            "counts": {int(r["bin_id"]): int(r["bin_count"]) for r in rows},
        }
    return compare(baseline_snapshot, current)


def categorical_counts(df: DataFrame, column: str, side_a) -> DataFrame:
    """ONE scan → per-category two-sample counts ``(cat, a_cnt, b_cnt)``
    for a CATEGORICAL column — the string-domain twin of
    :func:`two_sample_value_counts`. The groupBy does map-side partial
    counting, so the shuffle carries one row per (map partition ×
    category); categorical domains are bounded by definition, so the
    result frame is category-count-sized regardless of table size."""
    keep = F.col(column).isNotNull() & side_a.isNotNull()
    flag = F.when(side_a, 1).otherwise(0)
    return (
        df.where(keep)
        .groupBy(F.col(column).alias("cat"))
        .agg(
            F.sum(flag).alias("a_cnt"),
            F.sum(F.lit(1) - flag).alias("b_cnt"),
        )
    )


def categorical_drift_from_counts(
    counts: DataFrame, smoothing: float = 0.5
) -> DataFrame:
    """Categorical drift statistics over a precomputed
    ``(cat, a_cnt, b_cnt)`` frame: ONE row
    ``(psi_cat, chi2_cat, n_categories)``.

    * ``psi_cat`` — PSI over category proportions, additively smoothed
      (``smoothing`` pseudo-counts per category per side) so categories
      absent from one side contribute a finite, monotone term instead of
      ±inf; direction matches the binned PSI convention (current b vs
      baseline a).
    * ``chi2_cat`` — the two-sample chi-square statistic under the pooled
      expectation (no smoothing: expected counts are positive whenever the
      category exists at all).

    Everything is Catalyst arithmetic on the category-count-sized frame:
    totals come from one tiny agg, broadcast back as a 1-row frame — no
    collect, no Python."""
    totals = counts.agg(
        F.sum("a_cnt").cast("double").alias("__A"),
        F.sum("b_cnt").cast("double").alias("__B"),
        F.count(F.lit(1)).cast("double").alias("__K"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    s = F.lit(float(smoothing))
    pa = (F.col("a_cnt") + s) / (F.col("__A") + F.col("__K") * s)
    pb = (F.col("b_cnt") + s) / (F.col("__B") + F.col("__K") * s)
    tot = F.col("a_cnt") + F.col("b_cnt")
    ea = tot * F.col("__A") / (F.col("__A") + F.col("__B"))
    eb = tot * F.col("__B") / (F.col("__A") + F.col("__B"))
    return j.agg(
        F.sum((pb - pa) * F.log(pb / pa)).alias("psi_cat"),
        F.sum(
            (F.col("a_cnt") - ea) * (F.col("a_cnt") - ea) / ea
            + (F.col("b_cnt") - eb) * (F.col("b_cnt") - eb) / eb
        ).alias("chi2_cat"),
        F.count(F.lit(1)).alias("n_categories"),
    )


def categorical_drift(
    df: DataFrame, column: str, side_a, smoothing: float = 0.5
) -> DataFrame:
    """Categorical drift between the ``side_a`` rows (baseline) and the
    rest (current) of one table: :func:`categorical_counts` →
    :func:`categorical_drift_from_counts`."""
    return categorical_drift_from_counts(
        categorical_counts(df, column, side_a), smoothing=smoothing
    )


def snapshot_to_json(snap: dict[str, dict]) -> str:
    """Deterministic JSON for a baseline snapshot (:func:`snapshot`), so
    the grid + histogram a run drifts against can be persisted next to the
    checkpoint store and replayed on every later batch — same bytes for
    the same snapshot, so the file is digest-stable."""
    import json

    out = {}
    for col in sorted(snap):
        s = snap[col]
        out[col] = {
            "lo": float(s["lo"]),
            "hi": float(s["hi"]),
            "n_bins": int(s["n_bins"]),
            # JSON object keys are strings; sort numerically for stability
            "counts": {
                str(k): int(s["counts"][k])
                for k in sorted(s["counts"], key=int)
            },
        }
    return json.dumps(out, indent=2, sort_keys=True)


def snapshot_from_json(text: str) -> dict[str, dict]:
    """Inverse of :func:`snapshot_to_json` (bin ids back to int; shape
    validated so a truncated or hand-edited file fails fast here)."""
    import json

    data = json.loads(text)
    if not isinstance(data, dict):
        raise ValueError("drift snapshot JSON must be an object of columns")
    out: dict[str, dict] = {}
    for col, s in data.items():
        try:
            out[col] = {
                "lo": float(s["lo"]),
                "hi": float(s["hi"]),
                "n_bins": int(s["n_bins"]),
                "counts": {int(k): int(v) for k, v in s["counts"].items()},
            }
        except (KeyError, TypeError, ValueError) as e:
            raise ValueError(f"drift snapshot column {col!r} is malformed: {e}")
        if out[col]["n_bins"] < 1 or out[col]["hi"] <= out[col]["lo"]:
            raise ValueError(f"drift snapshot column {col!r} has a bad grid")
    return out


def _hist_expr(
    column: str, lo: float, hi: float, n_bins: int, weight: str | None = None
) -> Column:
    """One column's full histogram on the (lo, hi, n_bins) grid as ONE
    aggregate: ``array(count(when(bucket = i)))``, length n_bins+2 (bin 0
    underflow, n_bins+1 overflow; NULL values land in no bin). ``weight``
    sums that column instead of counting rows."""
    b = F.width_bucket(
        F.col(column).cast("double"),
        F.lit(float(lo)),
        F.lit(float(hi)),
        F.lit(n_bins),
    )
    return F.array(
        *[
            F.count(F.when(b == i, F.lit(1)))
            if weight is None
            else F.coalesce(F.sum(F.when(b == i, F.col(weight))), F.lit(0))
            for i in range(n_bins + 2)
        ]
    )


def _drift_cols(baseline: dict[str, dict]) -> list[str]:
    """Baseline columns with a non-empty histogram, in report order."""
    cols = [
        c
        for c in sorted(baseline)
        if sum(_vectorize(baseline[c]["counts"], baseline[c]["n_bins"])) > 0
    ]
    if not cols:
        raise ValueError(
            "baseline snapshot has no usable columns (every histogram is "
            "empty) — re-snapshot over a non-empty frame"
        )
    return cols


def drift_hist_aggs(
    baseline: dict[str, dict], weight: str | None = None
) -> dict[str, Column]:
    """Baseline → aggregate expressions: per usable baseline column, the
    current rows' histogram on the BASELINE grid (:func:`_hist_expr`, the
    shape :func:`snapshot` uses) — map-side partial counts inside whatever
    ``groupBy(...).agg`` carries them. :func:`drift_fold` reads them back
    by name."""
    return {
        f"__drift{j}": _hist_expr(
            c, baseline[c]["lo"], baseline[c]["hi"], baseline[c]["n_bins"], weight
        )
        for j, c in enumerate(_drift_cols(baseline))
    }


def _sql_double(x: float) -> str:
    # repr() round-trips a finite float exactly, and so does the D
    # literal; inf (e.g. a threshold that disables PSI) has no literal
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _sql_doubles(xs: list[float]) -> str:
    return "array(" + ", ".join(map(_sql_double, xs)) + ")"


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# The fold over each baseline column's struct b = (column, tp, h, fp, cp,
# gap), in stages: the current total tq, the fractions fq, the running CDF
# cq (summed in bin order from 0.0, like a window cumsum), then the
# statistics. Each stage computes its array once, so the plan stays linear
# in the bin count.
_FOLD_SQL = """
transform(
  transform(
    transform(
      transform(
        filter(
          transform({columns},
            b -> named_struct('b', b, 'tq', aggregate(b.h, 0D, (a, x) -> a + x))),
          s -> s.tq > 0),
        s -> named_struct('b', s.b, 'tq', s.tq,
                          'fq', transform(s.b.h, x -> x / s.tq))),
      s -> named_struct('b', s.b, 'tq', s.tq, 'fq', s.fq,
                        'cq', transform(s.fq, (x, i) ->
                          aggregate(slice(s.fq, 1, i + 1), 0D, (a, y) -> a + y)))),
    s -> named_struct(
      's', s,
      'dist', zip_with(s.b.cp, s.cq, (p, q) -> abs(p - q)),
      'psi', aggregate(zip_with(s.fq, s.b.fp, (q, p) ->
               (greatest(q, 1e-6D) - greatest(p, 1e-6D))
               * ln(greatest(q, 1e-6D) / greatest(p, 1e-6D))),
             0D, (a, x) -> a + x),
      'js', aggregate(zip_with(s.b.fp, s.fq, (p, q) ->
              CASE WHEN p > 0 THEN 0.5D * p * ln(p / ((p + q) / 2D)) ELSE 0D END
              + CASE WHEN q > 0 THEN 0.5D * q * ln(q / ((p + q) / 2D)) ELSE 0D END),
            0D, (a, x) -> a + x))),
  v -> named_struct(
    'column', v.s.b.column,
    'ks', array_max(v.dist),
    'psi', v.psi,
    'js', v.js,
    'w1', aggregate(zip_with(v.dist, v.s.b.gap, (d, g) -> d * g), 0D, (a, x) -> a + x),
    'baseline_total', v.s.b.tp,
    'current_total', CAST(v.s.tq AS BIGINT),
    'drifted', array_max(v.dist) > {ks} OR v.psi > {psi}))
"""


def drift_fold(
    baseline: dict[str, dict],
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> Column:
    """Aggregate row → drift verdicts: over the :func:`drift_hist_aggs`
    columns, an ``array<struct<column, ks, psi, js, w1, baseline_total,
    current_total, drifted>>`` with one element per baseline column that
    has current mass (an all-NULL column has no distribution to compare,
    mirroring :func:`compare`'s zero-total skip). Same math as
    :func:`compare`: eps-smoothed PSI, mixture-KL JS, edge-clamped W1.

    A pure projection — it runs on a cached aggregate row, after a
    streaming aggregation, anywhere. The baseline's per-bin fraction /
    CDF / gap enter as literal arrays. The fold is one SQL expression,
    parsed once on the JVM: the same fold written with the Column API
    costs ~1,600 Python-to-JVM calls, ~0.4 s of driver time per call on a
    4-core host."""
    columns = []
    for j, c in enumerate(_drift_cols(baseline)):
        base = baseline[c]
        n_bins = base["n_bins"]
        p = _vectorize(base["counts"], n_bins)
        tp = sum(p)
        fp = [pi / tp for pi in p]
        w = (base["hi"] - base["lo"]) / n_bins
        gap = [w / 2.0] + [w] * (n_bins - 1) + [w / 2.0, 0.0]
        columns.append(
            f"named_struct('column', {_sql_str(c)}, 'tp', {int(tp)}L, "
            f"'h', CAST(`__drift{j}` AS ARRAY<DOUBLE>), "
            f"'fp', {_sql_doubles(fp)}, "
            f"'cp', {_sql_doubles(list(itertools.accumulate(fp)))}, "
            f"'gap', {_sql_doubles(gap)})"
        )
    return F.expr(
        _FOLD_SQL.format(
            columns="array(" + ", ".join(columns) + ")",
            ks=_sql_double(ks_threshold),
            psi=_sql_double(psi_threshold),
        )
    )


def drifted_columns(fold: Column) -> Column:
    """A :func:`drift_fold` column → the sorted names of the drifted
    columns: the per-partition verdict as a projection, with no
    regrouping of the report."""
    drifted = F.filter(fold, lambda d: d["drifted"])
    return F.sort_array(F.transform(drifted, lambda d: d["column"]))


def drift_report_partitioned(
    df: DataFrame,
    key,
    baseline: dict[str, dict],
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    weight: str | None = None,
) -> DataFrame:
    """PER-PARTITION drift vs a dataset-level baseline snapshot, entirely
    in Catalyst — the checkpointed-run form of :func:`drift_check`, built
    for 10^5-partition tables where collecting per-partition histograms to
    the driver (as the interactive path does for ONE frame) would not fly.

    ONE ``groupBy(partition).agg`` carries every baseline column's
    histogram (:func:`drift_hist_aggs`; map-side combine, the only
    big-data op), then :func:`drift_fold` turns each partition's row into
    KS / PSI / JS / W1 — no driver collect, no join, every post-scan frame
    is partition-count-sized.

    Output: one row per (partition_id, column) —
    (ks, psi, js, w1, baseline_total, current_total, drifted) with the
    same math as :func:`compare`. Partitions where the column is entirely
    NULL carry no rows (mirrors compare()'s zero-total skip); baseline
    columns with an empty histogram are skipped.

    ``weight`` makes ``df`` a PRE-AGGREGATED frame: each row counts for
    ``weight`` occurrences of its value instead of 1 — the share-the-scan
    path when a per-value (or per-histogram-table) rollup already exists,
    identical results to feeding the raw rows."""
    key = key if not isinstance(key, str) else F.col(key)
    aggs = drift_hist_aggs(baseline, weight)
    hists = df.groupBy(key.alias("partition_id")).agg(
        *[e.alias(n) for n, e in aggs.items()]
    )
    return hists.select(
        "partition_id", F.inline(drift_fold(baseline, ks_threshold, psi_threshold))
    )


@dataclass(frozen=True)
class DriftRule:
    """Drift as a first-class RULE FAMILY of a checkpointed run: the
    baseline snapshot (:func:`snapshot`, round-tripped through
    :func:`snapshot_to_json`) plus the verdict thresholds and a severity.

    ``severity="error"`` makes a drifted partition a DATA failure — it is
    withheld from the publish gate and freezes the delta watermark, so a
    retry re-examines the same rows; ``"warn"`` reports only. Either way
    the per-(partition, column) report lands under ``report_path`` and the
    drifted column names ride ``metrics_json`` for the anomaly history.

    ``digest_payload`` is the rule's identity for the run digest: the
    md5 of the canonical snapshot JSON plus thresholds/severity, so
    re-baselining (or moving a threshold) invalidates 'done' partitions
    exactly like editing any other rule."""

    baseline: dict[str, dict]
    ks_threshold: float = 0.1
    psi_threshold: float = 0.2
    severity: str = "error"

    def __post_init__(self) -> None:
        if self.severity not in ("error", "warn"):
            raise ValueError("DriftRule severity must be 'error' or 'warn'")
        # Reject an all-empty baseline HERE, not mid-run: snapshot() over an
        # empty/all-NULL frame yields counts={} for every column, which the
        # drift fold skips — construction is the right place to fail,
        # before the rule enters a run digest.
        _drift_cols(self.baseline)

    def digest_payload(self) -> dict:
        import hashlib

        return {
            "baseline_md5": hashlib.md5(
                snapshot_to_json(self.baseline).encode("utf-8")
            ).hexdigest(),
            "ks": float(self.ks_threshold),
            "psi": float(self.psi_threshold),
            "severity": self.severity,
        }


def drift_windowed(
    df: DataFrame,
    ts_col: str,
    column: str,
    baseline: dict[str, dict],
    window_duration: str = "10 minutes",
    watermark_delay: str = "10 minutes",
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """Per event-time tumbling-window drift vs a baseline snapshot — the
    AT-INGEST twin of :func:`drift_report_partitioned` with partition =
    time window, and the streaming member of the engine's batch/stream
    twin family (sessionization, dedup, sequence checks, CHECKs, Bloom).

    The plan is ONE stateful aggregation: each window's full histogram is
    an ``array(count_if(bucket = i))`` over the baseline grid (state =
    n_bins+2 longs per open window; the watermark finalizes and evicts).
    The KS/PSI/JS/W1 fold then runs as a stateless PROJECTION with the
    baseline as literals (:func:`drift_fold`) — there is no second
    aggregation, so Structured Streaming append mode accepts the plan and
    every finalized window emits exactly one verdict row.

    Works identically on a BATCH frame (the watermark only applies to
    streams): same windows, same metrics — the stream≡batch fold is
    tested in tests/test_streaming.py."""
    one = {column: baseline[column]}
    src = df
    if df.isStreaming and watermark_delay:
        src = df.withWatermark(ts_col, watermark_delay)
    hist = (
        src.where(F.col(column).isNotNull())
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(*[e.alias(n) for n, e in drift_hist_aggs(one).items()])
    )
    return hist.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.inline(drift_fold(one, ks_threshold, psi_threshold)),
    )
