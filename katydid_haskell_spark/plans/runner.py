"""Runner: execute a CheckPlan, write sinks, resume from checkpoint.

Resumability (BASELINE.json:north_rule): verdict rows carry
``(bucket_id, rule_id, snapshot)``.  A checkpoint directory accumulates
per-bucket verdict partitions plus a manifest of completed buckets; a
restarted run anti-joins the manifest and only processes remaining buckets.
(The Iceberg-snapshot variant of the same contract plugs in by swapping the
manifest for a snapshot id — parquet + manifest keeps the semantics without
an Iceberg catalog on the classpath, SURVEY.md §7.3.7.)
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkplan import CheckPlan, run_plan_fused

VERDICT_SCHEMA = (
    "bucket_id int, rule_id string, pass boolean, metric double, "
    "rows_checked long, snapshot string"
)
VIOLATION_SCHEMA = "url string, rule_id string, detail string"


@dataclass
class RunResult:
    verdicts: DataFrame
    violations: DataFrame


def run_plan(df: DataFrame, plan: CheckPlan,
             dims: Optional[Dict[str, DataFrame]] = None,
             baselines: Optional[Dict[str, DataFrame]] = None,
             key_col: str = "url", bucket_col: str = "bucket",
             snapshot: str = "na", skew=None) -> RunResult:
    """Execute every rule class; returns lazily-evaluated sink frames.

    The plan runs as checkplan.run_plan_fused's four passes (stats and
    referential ride the bucket rollup, all drift histograms share one
    GROUPING SETS scan); a sink no rule feeds is an empty frame of the
    sink schema.  ``skew`` (a checkplan.SkewSalt) enables
    heavy-hitter-driven salting of the uniqueness pass.
    """
    spark = df.sparkSession
    v, x = run_plan_fused(df, plan, dims or {}, baselines or {},
                          key_col, bucket_col, snapshot, skew=skew)
    verdicts = spark.createDataFrame([], VERDICT_SCHEMA)
    if v is not None:
        verdicts = verdicts.unionByName(v)
    violations = spark.createDataFrame([], VIOLATION_SCHEMA)
    if x is not None:
        violations = violations.unionByName(x)
    return RunResult(verdicts=verdicts, violations=violations)


# ---------------------------------------------------------------------------
# Checkpoint / resume
# ---------------------------------------------------------------------------


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest.json")


def _read_manifest(checkpoint_dir: str) -> dict:
    path = _manifest_path(checkpoint_dir)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _snapshot_buckets(manifest: dict, snapshot: str) -> List[int]:
    return [int(b) for b, s in manifest.get("buckets", {}).items()
            if s.get("snapshot") == snapshot]


def completed_buckets(checkpoint_dir: str, snapshot: str) -> List[int]:
    return _snapshot_buckets(_read_manifest(checkpoint_dir), snapshot)


def _append(checkpoint_dir: str, verdicts: Optional[DataFrame],
            violations: Optional[DataFrame]) -> None:
    if verdicts is not None:
        (verdicts.write.mode("append").partitionBy("bucket_id")
         .parquet(os.path.join(checkpoint_dir, "verdicts")))
    if violations is not None:
        (violations.write.mode("append")
         .parquet(os.path.join(checkpoint_dir, "violations")))


def _record(spark: SparkSession, checkpoint_dir: str, snapshot: str,
            table_rules: bool) -> None:
    """One manifest update: every bucket whose verdicts are written for
    ``snapshot`` but not yet listed, with its row count, and, if
    ``table_rules``, the snapshot's table rules.  The new manifest goes to
    a temp file renamed over the old one, so a crash mid-write leaves the
    previous manifest intact."""
    m = _read_manifest(checkpoint_dir)
    done = _snapshot_buckets(m, snapshot)
    verdicts_dir = os.path.join(checkpoint_dir, "verdicts")
    rows = []
    if os.path.exists(verdicts_dir):
        rows = (
            spark.read.parquet(verdicts_dir)
            .where((F.col("snapshot") == snapshot)
                   & (F.col("bucket_id") >= 0)
                   & ~F.col("bucket_id").isin(*done))
            .groupBy("bucket_id").agg(F.max("rows_checked").alias("rows"))
            .collect()
        )
    now = time.time()
    for r in rows:
        m.setdefault("buckets", {})[str(r["bucket_id"])] = {
            "snapshot": snapshot, "completed_at": now, "rows": r["rows"]}
    if table_rules:
        m.setdefault("table_rules", {})[snapshot] = {"completed_at": now}
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = _manifest_path(checkpoint_dir)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def run_resumable(df: DataFrame, plan: CheckPlan, checkpoint_dir: str,
                  dims: Optional[Dict[str, DataFrame]] = None,
                  baselines: Optional[Dict[str, DataFrame]] = None,
                  key_col: str = "url", bucket_col: str = "bucket",
                  snapshot: str = "na", skew=None) -> None:
    """Run the plan into a checkpoint directory, resuming an interrupted
    run of the same snapshot.

    Verdicts land partitioned by bucket_id, violations beside them; the
    manifest records each completed bucket (snapshot, rows, ts) and, last,
    the snapshot's table-scope rules.  A snapshot whose table rules are
    recorded is complete, so its relaunch returns at once and writes
    nothing.  A fresh run is one run_plan_fused call over the whole plan.
    A resumed run makes one call with the row rules alone over the buckets
    the manifest does not list, then one with the table rules alone over
    the whole table — the same engine, so a resumed run's verdicts use
    the same estimators as a fresh run's.  ``skew`` is as in run_plan.
    """
    spark = df.sparkSession
    manifest = _read_manifest(checkpoint_dir)
    if snapshot in manifest.get("table_rules", {}):
        return
    done = _snapshot_buckets(manifest, snapshot)

    def run(d: DataFrame, p: CheckPlan) -> tuple:
        return run_plan_fused(d, p, dims or {}, baselines or {}, key_col,
                              bucket_col, snapshot, skew=skew)

    if done:
        remaining = df.filter(~F.col(bucket_col).isin(*done))
        _append(checkpoint_dir,
                *run(remaining, CheckPlan(row_rules=plan.row_rules)))
        _record(spark, checkpoint_dir, snapshot, table_rules=False)
        plan = dataclasses.replace(plan, row_rules=[])
    _append(checkpoint_dir, *run(df, plan))
    _record(spark, checkpoint_dir, snapshot, table_rules=True)


def read_verdicts(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(checkpoint_dir, "verdicts"))


def read_violations(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(checkpoint_dir, "violations"))
