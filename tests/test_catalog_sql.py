"""S5/S7 DDL surface (Spark SQL catalog tables), registered SQL UDFs
(§2.11), skew-salted aggregation."""

from __future__ import annotations

import pyspark.sql.functions as F

from chatdata_spark.functions.vector import hash_embed, register_vector_sql_functions
from chatdata_spark.operators.skew import salted_aggregate
from tests.conftest import SF_ORACLE


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


def test_registered_sql_udfs(spark):
    """§2.11: embed_text + cosine_distance_py callable from SQL strings."""
    register_vector_sql_functions(spark, dim=8)
    row = spark.sql(
        "SELECT size(embed_text('hello')) AS d, cosine_distance_py(embed_text('a'), embed_text('a')) AS self_dist"
    ).collect()[0]
    assert row.d == 8
    assert abs(row.self_dist) < 1e-9
    expected = hash_embed("hello", 8)
    got = spark.sql("SELECT embed_text('hello') AS v").collect()[0].v
    assert [round(float(x), 5) for x in got] == [round(float(x), 5) for x in expected]


def test_salted_aggregate_matches_plain(spark):
    """Salted two-phase agg ≡ plain groupBy (correctness under the skew
    mitigation); COUNT/SUM/MAX merge rules."""
    from chatdata_spark.catalog import load_events

    e = load_events(spark, SF_ORACLE)
    plain = {
        r.event_type: (r.n, r.total, r.vmax)
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    salted = {
        r.event_type: (r.n, r.total, r.vmax)
        for r in salted_aggregate(
            e,
            ["event_type"],
            salt_from="event_id",
            n_salts=16,
            partial_aggs={
                "n": lambda: F.count(F.lit(1)),
                "total": lambda: F.sum(F.col("value").cast("decimal(27,6)")),
                "vmax": lambda: F.max("value"),
            },
            final_aggs={
                "n": lambda c: F.sum(c),
                "total": lambda c: F.sum(c).cast("double"),
                "vmax": lambda c: F.max(c),
            },
        ).collect()
    }
    assert salted == plain


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
