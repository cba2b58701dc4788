"""View registration in __spark_entry__: repeat calls on an unchanged
directory are memoized, a rewritten table is re-registered."""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as E


def _write_documents(sf_dir, name, ids):
    table_dir = sf_dir / "documents.parquet"
    shutil.rmtree(table_dir, ignore_errors=True)
    table_dir.mkdir()
    pq.write_table(pa.table({"doc_id": ids}), table_dir / name)


def test_rewritten_table_is_not_served_from_stale_views(spark, tmp_path):
    app_id = spark.sparkContext.applicationId
    try:
        _write_documents(tmp_path, "part-0.parquet", [1, 2])
        E._register_views(spark, str(tmp_path))
        assert spark.table("documents").count() == 2
        E._register_views(spark, str(tmp_path))  # unchanged: memo hit
        assert spark.table("documents").count() == 2
        # a rewrite in place, as an overwrite leaves it: new file, same dir
        _write_documents(tmp_path, "part-1.parquet", [1, 2, 3])
        E._register_views(spark, str(tmp_path))
        assert sorted(r.doc_id for r in spark.table("documents").collect()) == [1, 2, 3]
    finally:
        # leave no view behind that points into tmp_path
        E._REGISTERED_VIEWS.pop(app_id, None)
        spark.catalog.dropTempView("documents")
