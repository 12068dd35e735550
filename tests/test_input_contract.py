"""The store build's input contract (BASELINE.json input_hint): a
missing or mistyped transcripts column raises ValueError naming it
before any stage runs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wikidata_sparql_history_spark import synth
from wikidata_sparql_history_spark.pipeline.materialize import run_pipeline

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _build(spark, tmp_path, transcripts):
    out = str(tmp_path / "kg")
    with pytest.raises(ValueError) as err:
        run_pipeline(spark, transcripts, out)
    assert not os.path.exists(out)  # no stage ran
    return str(err.value)


@pytest.mark.parametrize("column", COLUMNS)
def test_missing_column_is_rejected(spark, tmp_path, column):
    msg = _build(spark, tmp_path, synth.transcripts(spark, 3).drop(column))
    assert repr(column) in msg


@pytest.mark.parametrize(
    "column, cast",
    [("turn_idx", "string"), ("turn_idx", "bigint"), ("ts", "string"),
     ("conv_id", "int")],
)
def test_mistyped_column_is_rejected(spark, tmp_path, column, cast):
    """A string turn_idx would build and order '10' before '9'."""
    t = synth.transcripts(spark, 3).withColumn(column, F.col(column).cast(cast))
    msg = _build(spark, tmp_path, t)
    assert repr(column) in msg and cast in msg

