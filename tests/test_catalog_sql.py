"""S5/S7 DDL surface (Spark SQL catalog tables) and the index-cache path."""

from __future__ import annotations


def test_create_table_ddl_roundtrip(spark, tmp_path):
    """S5: CREATE TABLE ... USING parquet + INSERT + SELECT through the SQL
    catalog (the reference's typed DDL, private_knowledge_base.py:21-44)."""
    loc = str(tmp_path / "tbl")
    spark.sql("DROP TABLE IF EXISTS private_kb_ddl")
    spark.sql(
        f"""
        CREATE TABLE private_kb_ddl (
            entity_id STRING, file_name STRING, text STRING,
            user_id STRING, created_by TIMESTAMP, vector ARRAY<FLOAT>
        ) USING parquet LOCATION '{loc}'
        """
    )
    spark.sql(
        """
        INSERT INTO private_kb_ddl VALUES
        ('e1', 'a.pdf', 'hello world text', 'u1', TIMESTAMP '2023-01-01 00:00:00', array(1.0F, 2.0F))
        """
    )
    rows = spark.sql("SELECT entity_id, size(vector) AS d FROM private_kb_ddl").collect()
    assert [(r.entity_id, r.d) for r in rows] == [("e1", 2)]
    spark.sql("DROP TABLE private_kb_ddl")


def test_shared_cache_path_keys_builder_source(tmp_path, monkeypatch):
    """The /tmp index-cache path fingerprints the operator source that
    builds the index, not only the source parquet: the same bytes give the
    same path wherever they live, and one changed builder file gives a new
    path (a stale layout is never served after a build change)."""
    import shutil

    from chatdata_spark import catalog

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "embeddings.parquet").write_bytes(b"fixture")
    real = catalog.shared_cache_path("ivf", str(sf), "k8")
    ops = tmp_path / "ops"
    shutil.copytree(catalog._OPERATORS_DIR, ops)
    monkeypatch.setattr(catalog, "_OPERATORS_DIR", str(ops))
    assert catalog.shared_cache_path("ivf", str(sf), "k8") == real
    changed = tmp_path / "ops_changed"
    shutil.copytree(ops, changed)
    pq = changed / "pq.py"
    pq.write_text(pq.read_text() + "\n# a changed codebook build\n")
    monkeypatch.setattr(catalog, "_OPERATORS_DIR", str(changed))
    assert catalog.shared_cache_path("ivf", str(sf), "k8") != real
