"""The temp views the SQL query forms run over.

Every ``sql_forms.*_sql`` builder takes its table names from
``tables.table_view``; the name must stay stable while the file is
unchanged (SQL text is built with no catalog round trip) and must move
to a fresh view over the new rows when the file is regenerated.
"""

from __future__ import annotations

import shutil

from pyspark.sql import types as T

from myasynstreamjoin_spark.sources.tables import table_view


def test_table_view_stable_and_invalidates(spark, sf_dir, tmp_path):
    """Same identity -> same view name (no re-registration churn);
    regenerated file -> fresh view over the fresh data, and the
    superseded view is dropped so the catalog stays bounded by live
    table count, not regeneration count."""
    import duckdb

    v1 = table_view(spark, sf_dir, "nation")
    v2 = table_view(spark, sf_dir, "nation")
    assert v1 == v2
    assert spark.table(v1).count() == 25

    work = tmp_path / "sfcopy"
    work.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", work / "nation.parquet")
    w1 = table_view(spark, str(work), "nation")
    assert w1 != v1
    assert spark.table(w1).schema["n_regionkey"].dataType == T.IntegerType()

    # regenerate with fewer rows and a widened type: identity changes,
    # the view must follow
    duckdb.sql(
        f"COPY (SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) "
        f"AS n_regionkey FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey "
        f"LIMIT 3) TO '{work / 'nation.parquet'}' (FORMAT PARQUET)"
    )
    w2 = table_view(spark, str(work), "nation")
    assert w2 != w1
    assert spark.table(w2).count() == 3
    assert spark.table(w2).schema["n_regionkey"].dataType == T.LongType()
    assert not spark.catalog.tableExists(w1)
