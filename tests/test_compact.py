"""Compaction: row set must be unchanged and the rewritten files must
carry disjoint sort-key ranges (that's what makes min/max row-group
skipping effective)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from huckli_spark.ingest.warehouse import Warehouse
from huckli_spark.session import load_table
from tests.conftest import SF_SMALL


def test_compact_preserves_rows_and_ranges_are_disjoint(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    # simulate append-heavy ingest: several small unsorted appends
    for i in range(4):
        wh.append("li", li.where(F.col("l_orderkey") % 4 == i))
    before = {tuple(r) for r in wh.table("li").collect()}

    wh.compact("li", ["l_orderkey"], target_partitions=4)

    after_df = wh.table("li")
    assert {tuple(r) for r in after_df.collect()} == before

    # per-file [min, max] of the sort key must not overlap
    files = [
        os.path.join(wh.table_path("li"), f)
        for f in os.listdir(wh.table_path("li"))
        if f.endswith(".parquet")
    ]
    assert len(files) >= 2
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # l_orderkey
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {ranges}"


def test_plain_warehouse_compacts_logged_table_through_its_log(spark, tmp_path):
    # acid-ness is a table property: a Warehouse built without
    # acid=True must compact a logged table with a log commit, not by
    # swapping the directory (which would delete the log and every
    # past version with it)
    from huckli_spark.ingest.txlog import TransactionLog

    path = str(tmp_path / "wh")
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    Warehouse(spark, path, acid=True).append("li", li)
    log = TransactionLog(os.path.join(path, "li"))
    version = log.latest_version()
    before = {tuple(r) for r in li.collect()}

    wh = Warehouse(spark, path)
    wh.compact("li", ["l_orderkey"], target_partitions=2)

    assert log.exists()
    assert log.latest_version() == version + 1
    assert Warehouse(spark, path, acid=True).has_table("li")
    assert {tuple(r) for r in wh.table("li").collect()} == before
    assert {tuple(r) for r in wh.table("li", as_of=0).collect()} == before
