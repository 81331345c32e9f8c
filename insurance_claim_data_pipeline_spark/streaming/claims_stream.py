"""Streaming execution of the claim resubmission pipeline.

The reference is a one-shot batch job (claim_pipeline.py:155-233); this
module runs the SAME source projections and candidate plan (S1/S2,
P1-P4, F1-F4, E1-E7 — sources.claims.read_alpha/read_beta and
plans.claim_pipeline.candidates_frame, not re-implemented) over
Structured Streaming file sources, modeling the production shape where
claim files land in a drop-directory continuously. The whole pipeline is stateless
(project + filter), so it runs in append mode with no watermark and
scales linearly with arrival rate — every micro-batch is one narrow
pass, no shuffle at all.

Batch/stream equivalence is asserted in tests/test_streaming.py: the
drained stream must produce exactly the batch candidates for the same
input files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.claim_pipeline import candidates_frame
from ..plans.claim_queries import CANDIDATES_ORACLE
from ..registry import register
from ..sources.claims import read_alpha, read_beta


def claims_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """Streaming S1-S3: alpha CSV and beta JSON-array readers watching
    one drop-directory (extension dispatch via pathGlobFilter), each
    with the batch loaders' projection, unioned into the canonical
    stream."""
    alpha = read_alpha(spark.readStream.option("pathGlobFilter", "*.csv"), dir_path)
    beta = read_beta(spark.readStream.option("pathGlobFilter", "*.json"), dir_path)
    return alpha.unionByName(beta)


# The pipeline is stateless (project + filter), so append mode emits
# every candidate exactly once regardless of micro-batching and the
# drained stream equals the batch twin — claims_candidates' oracle
# (which reads the same fixture files via read_csv/read_json) applies
# verbatim.
@register(
    "claims_candidates_streaming",
    oracle=CANDIDATES_ORACLE,
    tags=("claims", "streaming"),
)
def claims_candidates_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming execution of the candidate pipeline over the
    reference's own fixture files, ORACLE-CHECKED (upgraded from
    rows-only in r06 — see _candidates_oracle; equality vs the batch
    twin is additionally asserted in tests/test_streaming.py)."""
    import os

    from .events_stream import run_stream_to_memory

    fixtures = os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
    )
    stream = candidates_frame(claims_stream(spark, fixtures))
    return run_stream_to_memory(stream, spark, output_mode="append")
