"""Incremental LSH near-dup suppression (queries/streamdedup.py)."""

from __future__ import annotations


def test_streaming_lsh_matches_batch_rule_and_replays_identically(spark):
    """The stateful streaming verdict must equal the batch closed-form rule
    (dup iff a (batch_idx, doc_id)-earlier row occupies the same (band, sig)
    bucket) computed over the very same fixture, and a full restart-replay
    must emit the identical table."""
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.queries.streamdedup import (
        q_streaming_lsh_dedup,
        write_lsh_stream_fixture,
    )

    sf = "/root/testdata/sf0.01"
    out = q_streaming_lsh_dedup(spark, sf)
    rows = {r["doc_id"]: (r["n_dup_bands"], r["is_dup"]) for r in out.collect()}

    fixture = spark.read.parquet(write_lsh_stream_fixture(sf))
    batch = (
        fixture.withColumn(
            "dup",
            F.expr("CAST(doc_id > min(doc_id) OVER (PARTITION BY band, sig) AS BIGINT)"),
        )
        .groupBy("doc_id")
        .agg(F.sum("dup").alias("n_dup_bands"), F.max("dup").alias("is_dup"))
    )
    expected = {
        r["doc_id"]: (r["n_dup_bands"], r["is_dup"]) for r in batch.collect()
    }
    assert rows == expected
    # near-dup pairs genuinely exist in the corpus at this scale
    assert any(v[1] == 1 for v in rows.values())
    assert any(v[1] == 0 for v in rows.values())

    # restart-and-replay determinism: a second full run emits the same table
    again = {
        r["doc_id"]: (r["n_dup_bands"], r["is_dup"])
        for r in q_streaming_lsh_dedup(spark, sf).collect()
    }
    assert rows == again


def test_lsh_fixture_name_digests_every_document():
    """Editing one middle document's text, length kept, renames the cached
    fixture, so a stale fixture is never served for an edited corpus."""
    import os

    import pandas as pd
    from conftest import SF_SMALL

    from geospatial_analysis_integrity_tool_spark.queries.streamdedup import (
        lsh_fixture_name,
    )

    docs = pd.read_parquet(
        os.path.join(SF_SMALL, "documents.parquet"), columns=["doc_id", "text"]
    )
    edited = docs.copy()
    mid = len(docs) // 2
    text = edited.at[mid, "text"]
    edited.at[mid, "text"] = text[::-1] if text[::-1] != text else "x" * len(text)
    assert len(edited.at[mid, "text"]) == len(text)
    assert edited.at[mid, "text"] != text
    assert lsh_fixture_name(edited) != lsh_fixture_name(docs)
    assert lsh_fixture_name(docs.copy()) == lsh_fixture_name(docs)
