"""LWW dedupe (O3): the max-lsn row per key survives."""

import pytest
from pyspark.sql import Row

from cdc_spark.operators.dedupe import lww_dedupe


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        Row(lsn=i, epoch=0, doc_id=f"d{i % 7}", deleted=(i % 11 == 0), payload=i * 10)
        for i in range(1, 200)
    ]
    return spark.createDataFrame(rows)


def test_max_lsn_survives(spark, events):
    out = lww_dedupe(events).collect()
    assert len(out) == 7
    by_doc = {r["doc_id"]: r for r in out}
    for d, r in by_doc.items():
        expect = max(i for i in range(1, 200) if f"d{i % 7}" == d)
        assert r["lsn"] == expect and r["payload"] == expect * 10


def test_columns_preserved(spark, events):
    out = lww_dedupe(events)
    assert out.columns == events.columns
