"""End-to-end claim resubmission pipeline (reference: pipeline(),
claim_pipeline.py:155-233), Spark-first.

Execution shape: ONE Spark job per run. The metric counters are attached
to the claims frame with ``DataFrame.observe`` and the candidate filter +
projection runs on top of it, so the single candidates collect also
delivers every counter — the reference's one-traversal property
(SURVEY.md §4) without a cache, a second job or a driver-side row loop.
Candidates reach the driver at the JSON-array sink (O1) anyway, because
candidates ≪ input by construction, so their output order is restored
there with a Python sort instead of a global Spark ``orderBy``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.claims import exclusion_reason, is_eligible, recommended_changes
from ..sources.claims import load_claims

CANDIDATE_COLUMNS = ["claim_id", "resubmission_reason", "source_system", "recommended_changes"]
# O1 insertion order: file order, then split offset within the file, then
# scan order within the split (see sources/claims.py's row-order contract).
ORDER_COLUMNS = ("_file_idx", "_block_start", "_row_idx")


def candidates_frame(claims: DataFrame) -> DataFrame:
    """E7 filter + P4 projection: eligible claims → candidate records.
    resubmission_reason keeps the ORIGINAL casing (claim_pipeline.py:145
    returns the raw reason; only classify/lookup lowercase internally)."""
    ok_rows = claims.filter(F.col("_corrupt_record").isNull()) if "_corrupt_record" in claims.columns else claims
    return ok_rows.filter(is_eligible()).select(
        "claim_id",
        F.col("denial_reason").alias("resubmission_reason"),
        "source_system",
        recommended_changes().alias("recommended_changes"),
        *[c for c in ORDER_COLUMNS if c in claims.columns],
    )


def metric_columns(claims: DataFrame) -> list[Column]:
    """A1-A4 + intended-semantics A3 as conditional-count aggregates —
    for ``claims.observe(...)`` or ``claims.agg(...)``, one pass either
    way."""
    corrupt = (
        F.col("_corrupt_record").isNotNull()
        if "_corrupt_record" in claims.columns
        else F.lit(False)
    )
    eligible = is_eligible()
    excl = exclusion_reason()

    def bucket(name: str):
        return F.count(
            F.when(~corrupt & ~eligible & (excl == name), 1)
        ).alias(name)

    return [
        F.count(F.lit(1)).alias("total_processed"),
        F.count(F.when(F.col("source_system") == "alpha", 1)).alias("alpha"),
        F.count(F.when(F.col("source_system") == "beta", 1)).alias("beta"),
        F.count(F.when(~corrupt & eligible, 1)).alias("flagged_for_resubmission"),
        bucket("not_denied"),
        bucket("patient_missing"),
        bucket("too_recent"),
        bucket("non_retryable_or_ambiguous"),
        F.count(F.when(corrupt, 1)).alias("malformed"),
    ]


@dataclass
class PipelineResult:
    output_path: str
    metrics_path: str
    candidates: list[dict[str, Any]]
    metrics: dict[str, Any]


def run_pipeline(
    spark: SparkSession, input_files: list[str], output_dir: str = "."
) -> PipelineResult:
    """The reference's pipeline(): ingest → normalize → eligibility →
    JSON-array sink (O1) + metrics log sink (O2), in one Spark job."""
    routed = load_claims(spark, input_files)
    # observed BEFORE the candidate filter, so total_processed and the
    # exclusion buckets see every row
    observation = Observation()
    claims = routed.claims.observe(observation, *metric_columns(routed.claims))
    cand_rows = sorted(
        candidates_frame(claims).collect(),
        key=lambda row: tuple(row[c] for c in ORDER_COLUMNS),
    )
    m = observation.get

    candidates = [{c: row[c] for c in CANDIDATE_COLUMNS} for row in cand_rows]
    metrics = {
        "total_processed": m["total_processed"],
        "by_source": {"alpha": m["alpha"], "beta": m["beta"]},
        "flagged_for_resubmission": m["flagged_for_resubmission"],
        "excluded_by_reason": {
            "not_denied": m["not_denied"],
            "patient_missing": m["patient_missing"],
            "too_recent": m["too_recent"],
            "non_retryable_or_ambiguous": m["non_retryable_or_ambiguous"],
            # per-file failures count once each, like claim_pipeline.py:215
            "malformed": m["malformed"] + len(routed.failed_files),
        },
    }

    output_path = os.path.join(output_dir, "resubmission_candidates.json")
    with open(output_path, "w", encoding="utf-8") as f:
        json.dump(candidates, f, indent=2)

    metrics_path = os.path.join(output_dir, "pipeline_metrics.log")
    with open(metrics_path, "w", encoding="utf-8") as f:
        f.write("===== Pipeline Metrics Summary =====\n")
        f.write(f"Total processed: {metrics['total_processed']}\n")
        f.write(f"By source: {metrics['by_source']}\n")
        f.write(f"Flagged for resubmission: {metrics['flagged_for_resubmission']}\n")
        f.write("Excluded by reason:\n")
        for reason, count in metrics["excluded_by_reason"].items():
            f.write(f"  - {reason}: {count}\n")

    return PipelineResult(
        output_path=output_path,
        metrics_path=metrics_path,
        candidates=candidates,
        metrics=metrics,
    )
