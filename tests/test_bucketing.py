"""Bucketed tables: the co-located join path (no shuffle at join time).

At 100 TB the orders⋈lineitem join is the dominant shuffle; bucketing
both tables on the join key at write time removes it entirely — each
bucket pair joins in place.  This test proves the engine produces that
plan: a join of two 8-bucket tables runs with ZERO Exchange operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from velib_lakehouse_spark.catalog import load_table
from velib_lakehouse_spark.sources.readers import read_any
from tests.conftest import SF_DIR


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    o = load_table(spark, SF_DIR, "orders")
    l = load_table(spark, SF_DIR, "lineitem")
    base = str(tmp_path)

    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/orders")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        l.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/lineitem")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the dimension would auto-broadcast and bucketing
        # would be bypassed; force the large-table path the bucketing is
        # for (at 100 TB neither side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).select(
            "o_orderkey", "l_quantity"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan  # no shuffle
        # and the result is still correct
        expected = o.join(l, o.o_orderkey == l.l_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_generic_reader_dispatch(spark, tmp_path):
    o = load_table(spark, SF_DIR, "orders").limit(50)
    pq = str(tmp_path / "o_parquet")
    js = str(tmp_path / "o_json")
    o.write.parquet(pq)
    o.select("o_orderkey", "o_orderstatus").write.json(js)

    back_pq = read_any(spark, pq, "parquet")
    assert back_pq.count() == 50

    back_js = read_any(spark, js, "json")
    assert set(back_js.columns) == {"o_orderkey", "o_orderstatus"}
    assert back_js.count() == 50

    csv = str(tmp_path / "o_csv")
    o.select("o_orderkey", "o_totalprice").write.option("header", True).csv(csv)
    back_csv = read_any(spark, csv, "csv", header=True, inferSchema=True)
    assert back_csv.count() == 50
    assert dict(back_csv.dtypes)["o_orderkey"] in ("int", "bigint")

def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Z-order layout: every file's footer min/max must cover a small
    range of BOTH dimensions (that is what makes two-dimensional
    data skipping work); a single-dim sort would leave the other
    column's per-file span ~= the global span."""
    import glob

    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from velib_lakehouse_spark.catalog import load_table
    from velib_lakehouse_spark.sources.lake import write_zorder_clustered
    from tests.conftest import SF_DIR

    # Scale both dims to comparable bit widths before interleaving (the
    # zorder_key contract: callers bucket/offset into the key space) —
    # otherwise the narrow dimension contributes no high bits and the
    # layout degenerates to a single-column sort.
    ev = load_table(spark, SF_DIR, "events").select(
        (F.col("user_id") * 17).alias("x"),
        (F.floor("value").cast("bigint") * 2).alias("y"),
    )
    gx_min, gx_max, gy_min, gy_max = ev.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y")
    ).first()
    out = str(tmp_path / "zorder")
    write_zorder_clustered(ev, out, "x", "y", n_files=8)

    spans = []
    for f in glob.glob(out + "/part-*.parquet"):
        md = papq.read_metadata(f)
        mins = {"x": None, "y": None}
        maxs = {"x": None, "y": None}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in mins and col.statistics is not None:
                    s = col.statistics
                    mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                    maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
        spans.append((maxs["x"] - mins["x"], maxs["y"] - mins["y"]))
    assert len(spans) >= 4
    avg_x = sum(s[0] for s in spans) / len(spans)
    avg_y = sum(s[1] for s in spans) / len(spans)
    assert avg_x < (gx_max - gx_min) * 0.75
    assert avg_y < (gy_max - gy_min) * 0.75


def test_registered_bucketed_query_joins_without_shuffle(spark):
    """The judged bucketed-join query must shuffle only for the final
    priority aggregation — never on the join key (bucket co-location)."""
    from velib_lakehouse_spark import registry

    df = registry.QUERIES["bucketed_join_priority_revenue"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all("orderpriority" in e for e in exchanges), exchanges
