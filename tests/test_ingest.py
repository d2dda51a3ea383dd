

def test_parse_csv_typed_quotes_types_and_quarantine(spark):
    from chatdata_spark.sources.ingest import parse_csv_typed

    rows = [
        (1, '1,5,2.5,"a, b"'),        # quoted comma survives in label
        (2, '2,xx,3.5,"c"'),          # bad int -> qty NULL, corrupt set
        (3, '3,7,not_a_double,"d"'),  # bad double -> price NULL, corrupt set
        (4, '4,,4.5,"e"'),            # empty int field -> NULL, NOT corrupt
    ]
    df = spark.createDataFrame(rows, "rid int, line string")
    out = {
        r.rid: r
        for r in parse_csv_typed(
            df, "line", "doc_id long, qty int, price double, label string, _corrupt string"
        ).collect()
    }
    assert out[1].label == "a, b" and out[1].qty == 5 and out[1].price == 2.5
    assert out[2].qty is None and out[2]._corrupt is not None
    assert out[2].doc_id == 2  # parseable fields still extracted on bad rows
    assert out[3].price is None and out[3]._corrupt is not None
    assert out[4].qty is None and out[4]._corrupt is None


def test_orc_scan_pushes_filters(spark, tmp_path):
    """ORC scans must consume pushed filters like parquet (Catalyst emits
    a searchArgument / PushedFilters entry into the OrcScan) — the reason
    the round-trip writes KEY-SORTED ORC: sorted layout + pushdown =
    min/max stripe pruning, the same skip story as the parquet layouts."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "orc")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
    ).repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id").write.orc(path)
    df = spark.read.orc(path).filter(F.col("doc_id") > 900).select("doc_id")
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,900)]" in plan
    assert df.count() == 99
