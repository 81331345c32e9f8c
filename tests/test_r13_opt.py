"""Focused gates for the r13 optimization internals."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from insurance_claim_data_pipeline_spark.functions.localframe import (
    _split_ddl,
    local_frame,
)


def test_split_ddl_nested_types():
    assert _split_ddl("m int, a array<double>") == [("m", "int"), ("a", "array<double>")]
    assert _split_ddl("x map<string,array<int>>, y string") == [
        ("x", "map<string,array<int>>"),
        ("y", "string"),
    ]


def test_local_frame_matches_createdataframe(spark):
    """local_frame must be value- and schema-identical to the
    createDataFrame it replaces, including the hostile cases: floats
    whose repr needs 17 digits, strings with quotes/backslashes/control
    characters, NULLs, and nested arrays."""
    rows = [
        (1, 0.1, "plain", [1.0, -0.5], True),
        (2, 1.0000000000000002, "it's a 'quote'", [0.0], False),
        (3, -1e-300, "back\\slash and\nnewline\ttab", [1e300, 5e-324], None),
        (4, float("inf"), "trailing space ", [], True),
        (5, None, None, None, False),
    ]
    schema = "i int, d double, s string, a array<double>, b boolean"
    ref = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_local_frame_no_rdd_leaf(spark):
    """The point of the helper: a LocalRelation leaf, not Scan
    ExistingRDD (which createDataFrame(list) produces)."""
    df = local_frame(spark, [(1, [0.25, 0.5])], "k int, w array<double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan or "LocalRelation" in plan

    rdd_df = spark.createDataFrame([(1, [0.25, 0.5])], "k int, w array<double>")
    rdd_plan = rdd_df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in rdd_plan  # the leaf the helper removes


def test_local_frame_double_bits_exact(spark):
    """repr round-trip: the doubles coming back must be bit-identical."""
    vals = [0.1, 2 / 3, math.pi, 1.0000000000000002, 5e-324, -0.0, 123456.789]
    df = local_frame(spark, [(i, v) for i, v in enumerate(vals)], "i int, d double")
    got = {r["i"]: r["d"] for r in df.collect()}
    import struct

    for i, v in enumerate(vals):
        assert struct.pack("d", got[i]) == struct.pack("d", v)


def test_local_frame_empty_falls_back(spark):
    df = local_frame(spark, [], "i int, s string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["i", "s"]


def test_local_frame_rejects_unknown_types(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [(object(),)], "o string")


def test_plane_weights_is_local_relation(spark):
    """r13 VALUES-literal migration (VERDICT r12 item 3): the similarity
    plane bank must be a LocalRelation leaf (broadcastable directly),
    never the createDataFrame pickle→parallelize RDD path, and its
    weights must still be the exact md5-derived constants."""
    import hashlib

    from insurance_claim_data_pipeline_spark.operators.similarity import (
        N_PLANES,
        _plane_weights,
    )

    planes = _plane_weights(spark)
    plan = planes._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    rows = {r["plane"]: list(r["w"]) for r in planes.collect()}
    assert sorted(rows) == list(range(N_PLANES))
    for p in rows:
        for d in (0, 31, 63):
            h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
            assert rows[p][d] == (h % 2001 - 1000) / 1000.0


def test_parquet_num_rows_matches_count(spark, sf_dir, tmp_path):
    """r13 footer-metadata probe: parquet_num_rows must equal the Spark
    count for both layouts — a single parquet file (the testdata shape)
    and a Spark-written directory (the lab-shard shape)."""
    from insurance_claim_data_pipeline_spark.session import (
        load_table,
        parquet_num_rows,
    )

    for name in ("documents", "embeddings"):
        assert parquet_num_rows(sf_dir, name) == load_table(spark, sf_dir, name).count()

    out = str(tmp_path / "t.parquet")
    spark.range(1234).repartition(3).write.parquet(out)
    assert parquet_num_rows(str(tmp_path), "t") == 1234


def test_incremental_sizes_agg_is_pinned(spark, sf_dir):
    """r13 (VERDICT r12 item 2): the fused set-sizes aggregate must be
    PINNED — without the pin the two branch filters duplicate the whole
    full-shingle-set aggregate subtree and no ReusedExchange ever fires
    (OPTIMIZATION_r13.md §1, executed adaptive plans). With the pin the
    consumer plan reads the sizes from one materialized leaf: the fused
    max(_is_batch) aggregate disappears from the final plan entirely
    (it runs once, inside the checkpoint lineage) and an ExistingRDD
    leaf takes its place."""
    from insurance_claim_data_pipeline_spark.operators import dedup

    df = dedup.dedup_incremental(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "max(_is_batch" not in plan  # the agg no longer re-planned per branch
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # the sizes pin
