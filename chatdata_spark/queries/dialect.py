"""Driver queries exercising the Vector SQL dialect pre-pass and the
self-query filter compiler end-to-end (the no-LLM seam, SURVEY §5.4: tests
enter below the LLM with canned SQL strings / filter ASTs — exactly where
the reference's determinism boundary sits)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.catalog import AttributeInfo, load_events, register_views
from chatdata_spark.functions.vector import hash_embed
from chatdata_spark.operators.knn import knn
from chatdata_spark.plans.self_query import SelfQueryCompiler, and_, eq, gt, like, or_
from chatdata_spark.plans.vector_sql import VectorSQLDialect
from chatdata_spark.registry import query

DIM = 64
Q1 = hash_embed("q1", DIM)
Q3 = hash_embed("dialect question", DIM)


def _duck_vec(vec) -> str:
    """Float64 DuckDB list literal for oracle SQL (shared by the query modules)."""
    return "CAST([" + ",".join(repr(float(x)) for x in vec) + "] AS DOUBLE[])"


def _docs_emb_view(spark, sf_dir, name="docs_emb"):
    """documents ⋈ embeddings on doc_id=vec_id — the ChatData-shaped table
    (text + metadata + dense vector, SURVEY §1.1) assembled from the driver
    tables; words column for array-function coverage."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = (
        d.join(e, d.doc_id == e.vec_id)
        .select("doc_id", "text", "lang", "source", "n_chars", "embedding", F.split("text", " ").alias("words"))
    )
    df.createOrReplaceTempView(name)
    return df


DIALECT = VectorSQLDialect(dim=DIM, array_columns=("words", "embedding"))


@query(
    "dialect_knn",
    oracle=f"""
    SELECT doc_id, lang,
           ROUND(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), {_duck_vec(Q3)}), 6) AS dist
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE list_contains(string_split(d.text, ' '), 'spark') AND len(string_split(d.text, ' ')) > 30
    ORDER BY dist ASC, doc_id ASC
    LIMIT 15
    """,
)
def dialect_knn(spark, sf_dir):
    """V1+V2+V3+P6+P8+P9+T1 through the dialect: canned MyScale-style SQL
    (the literal shape the prompt teaches, prompts.py:82/100) with
    NeuralArray, DISTANCE, PREWHERE, has(), length() — translated to plain
    Spark SQL and executed by Catalyst."""
    _docs_emb_view(spark, sf_dir)
    ch_sql = """
    SELECT doc_id, lang, DISTANCE(embedding, NeuralArray(dialect question)) AS dist
    FROM docs_emb
    PREWHERE has(words, 'spark') AND length(words) > 30
    ORDER BY dist ASC, doc_id ASC
    LIMIT 15
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_order_alias",
    oracle=f"""
    SELECT vec_id, label,
           ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(Q1)}), 6) AS d
    FROM embeddings
    WHERE label <> 7
    ORDER BY d ASC, vec_id ASC
    LIMIT 8
    """,
)
def dialect_order_alias(spark, sf_dir):
    """The reference's exact kNN template shape — alias defined inside
    ORDER BY (myscale_without_metadata.py:29-34) — hoisted into the SELECT
    list by the pre-pass."""
    register_views(spark, sf_dir, ["embeddings"])
    ch_sql = """
    SELECT vec_id, label FROM embeddings
    PREWHERE label != 7
    ORDER BY DISTANCE(embedding, NeuralArray(q1)) AS d ASC, vec_id ASC
    LIMIT 8
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_scalar_parity",
    oracle="""
    SELECT event_type,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def dialect_scalar_parity(spark, sf_dir):
    """§2.9 ClickHouse scalar parity via the rename pass: groupArray,
    arrayMax, JSONExtractString, toInt64, count() — executed as
    collect_list / array_max / get_json_object / CAST / count(*)."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_type,
           arrayMax(groupArray(toInt64(JSONExtractString(props, 'k')))) AS max_k,
           count() AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_array_map",
    oracle="""
    SELECT doc_id,
           array_to_string(list_transform(string_split(text, ' '), w -> upper(w)), ' ') AS words_up,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words
    FROM documents WHERE doc_id < 10 ORDER BY doc_id
    """,
)
def dialect_array_map(spark, sf_dir):
    """S3 ingest-flatten shape (docs/vector-sql.md:204-209): arrayMap lambda
    (arg-order swapped to transform) + splitByChar + polymorphic length +
    arrayStringConcat. The final arrayStringConcat keeps the driver output
    list-free (its canonicalizer can't sort array cells); the raw arrayMap
    output is asserted in tests/test_vector_sql_dialect.py."""
    register_views(spark, sf_dir, ["documents"])
    ch_sql = """
    SELECT doc_id,
           arrayStringConcat(arrayMap(w -> upper(w), splitByChar(' ', text)), ' ') AS words_up,
           toInt32(length(splitByChar(' ', text))) AS n_words
    FROM documents WHERE doc_id < 10 ORDER BY doc_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "self_query_filter",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE (n_chars > 300 AND lang LIKE 'e%') OR source = 'src0'
    ORDER BY doc_id
    """,
)
def self_query_filter(spark, sf_dir):
    """§3.2: structured filter AST {and,or} × {gt,like,eq} compiled straight
    to a Catalyst Column (one IR less than the reference's WHERE-string)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    attrs = (
        AttributeInfo("lang", "string"),
        AttributeInfo("source", "string"),
        AttributeInfo("n_chars", "int"),
    )
    ast = or_(and_(gt("n_chars", 300), like("lang", "e%")), eq("source", "src0"))
    comp = SelfQueryCompiler(attrs)
    return d.filter(comp.compile(ast)).select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


@query(
    "self_query_knn",
    oracle=f"""
    SELECT doc_id, lang,
           ROUND(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), {_duck_vec(Q1)}), 6) AS dist
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.n_chars >= 100 AND d.n_chars <= 400 AND d.lang IN ('en', 'de')
    ORDER BY dist ASC, doc_id ASC LIMIT 12
    """,
)
def self_query_knn(spark, sf_dir):
    """§3.2 end-to-end: compiled structured filter + kNN template — the
    similarity_search_by_vector path (myscale_without_metadata.py:38-48)."""
    df = _docs_emb_view(spark, sf_dir)
    from chatdata_spark.plans.self_query import and_, gte, in_, lte

    attrs = (AttributeInfo("n_chars", "int"), AttributeInfo("lang", "string"))
    ast = and_(gte("n_chars", 100), lte("n_chars", 400), in_("lang", ("en", "de")))
    where = SelfQueryCompiler(attrs).compile(ast)
    return knn(df, "embedding", Q1, k=12, where=where, select=["doc_id", "lang"], id_col="doc_id")


@query(
    "dialect_array_functions",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(lower(text), ' '), w -> length(w) > 5)) AS INT) AS n_long_words,
           ROUND(list_sum(list_transform(string_split(lower(text), ' '), w -> CAST(length(w) AS DOUBLE))), 6) AS total_chars,
           CAST(length(text) > 0 AS BOOLEAN) AS has_text,
           CAST(n_chars AS DOUBLE) AS n_chars_f
    FROM documents WHERE doc_id < 25 ORDER BY doc_id
    """,
)
def dialect_array_functions(spark, sf_dir):
    """§2.9 parity sweep: arrayFilter, arraySum, lowerUTF8, notEmpty,
    toFloat64 — one canned ClickHouse query through the rename pass."""
    register_views(spark, sf_dir, ["documents"])
    ch_sql = """
    SELECT doc_id,
           toInt32(length(arrayFilter(w -> length(w) > 5, splitByChar(' ', lowerUTF8(text))))) AS n_long_words,
           round(arraySum(arrayMap(w -> toFloat64(length(w)), splitByChar(' ', lowerUTF8(text)))), 6) AS total_chars,
           notEmpty(text) AS has_text,
           toFloat64(n_chars) AS n_chars_f
    FROM documents PREWHERE doc_id < 25 ORDER BY doc_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_parity_extended",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), w -> starts_with(w, 't'))) AS INT) AS n_t_words,
           len(list_filter(string_split(text, ' '), w -> w = 'table')) > 0 AS has_table,
           CAST(COALESCE(list_position(list_sort(list_distinct(string_split(text, ' '))), 'table'), 0) AS BIGINT) AS pos_table,
           CAST(instr(text, 'table') AS BIGINT) AS pos_in_text,
           replace(substring(text, 1, 20), ' ', '_') AS head_snake,
           CAST(len(string_split(text, ' ')[1:5]) AS INT) AS n_head
    FROM documents WHERE doc_id < 30 ORDER BY doc_id
    """,
)
def dialect_parity_extended(spark, sf_dir):
    """§2.9 parity sweep #2: arrayCount/arrayExists (lambda-first arg
    order), arraySort/arrayDistinct/arraySlice, indexOf, position,
    replaceAll, startsWith — through the rename pass."""
    register_views(spark, sf_dir, ["documents"])
    ch_sql = """
    SELECT doc_id,
           toInt32(arrayCount(w -> startsWith(w, 't'), splitByChar(' ', text))) AS n_t_words,
           arrayExists(w -> w = 'table', splitByChar(' ', text)) AS has_table,
           toInt64(indexOf(arraySort(arrayDistinct(splitByChar(' ', text))), 'table')) AS pos_table,
           toInt64(position(text, 'table')) AS pos_in_text,
           replaceAll(substring(text, 1, 20), ' ', '_') AS head_snake,
           toInt32(length(arraySlice(splitByChar(' ', text), 1, 5))) AS n_head
    FROM documents PREWHERE doc_id < 30 ORDER BY doc_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_conditional_aggs",
    oracle="""
    SELECT event_type,
           count(*) FILTER (WHERE value > 50.0) AS n_big,
           CAST(SUM(CASE WHEN value > 50.0 THEN CAST(value AS DECIMAL(27,6)) END) AS DOUBLE) AS sum_big,
           COALESCE(CAST(COUNT(CASE WHEN value <= 50.0 THEN 1 END) AS BIGINT), 0) AS n_small
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def dialect_conditional_aggs(spark, sf_dir):
    """§2.9 parity sweep #3: countIf / sumIf / ifNull through the rename
    pass (sumIf through the exact-decimal convention so both engines sum
    identically)."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_type,
           countIf(value > 50.0) AS n_big,
           toFloat64(sumIf(toDecimal64(value, 6), value > 50.0)) AS sum_big,
           ifNull(toInt64(count(multiIf(value <= 50.0, 1, NULL))), 0) AS n_small
    FROM events GROUP BY event_type ORDER BY event_type
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "routed_index_knn",
    oracle=f"""
    SELECT vec_id, label,
           ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(hash_embed('routed query', DIM))}), 6) AS dist
    FROM embeddings
    WHERE label <> 5
    ORDER BY dist ASC, vec_id ASC
    LIMIT 9
    """,
)
def routed_index_knn(spark, sf_dir):
    """§4.3.3 transparent index routing: the kNN template over an indexed
    table executes through the IVF partition-pruned scan (full probe here,
    so routed ≡ exact and the oracle checks it)."""
    from chatdata_spark.operators.ivf import build_or_load_ivf
    from chatdata_spark.plans.router import VectorQueryRouter

    emb = register_views(spark, sf_dir, ["embeddings"])["embeddings"]
    from chatdata_spark.catalog import shared_cache_path

    idx = build_or_load_ivf(spark, emb, shared_cache_path("ivf", sf_dir, "k8"), "vec_id", "embedding", 8)
    router = VectorQueryRouter(DIALECT, {"embeddings": idx})
    return router.execute(
        spark,
        """
        SELECT vec_id, label FROM embeddings
        PREWHERE label != 5
        ORDER BY DISTANCE(embedding, NeuralArray(routed query)) AS dist ASC, vec_id ASC
        LIMIT 9
        """,
    )


@query(
    "dialect_argmax_argmin",
    oracle="""
    SELECT event_type,
           arg_max(user_id, event_id) AS latest_user,
           arg_min(CAST(value AS DOUBLE), event_id) AS first_value,
           arg_max(CAST(value AS DOUBLE), event_id) AS latest_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def dialect_argmax_argmin(spark, sf_dir):
    """ClickHouse argMax/argMin parity (the keep-latest aggregate
    combinators behind every ReplacingMergeTree read pattern): Spark
    max_by/min_by ≡ DuckDB arg_max/arg_min. The ordering key is the
    UNIQUE event_id — argMax/argMin tie behavior is engine-undefined in
    both ClickHouse and Spark, so deterministic use requires a unique
    (or tie-broken) key; this query pins the convention."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.max_by("user_id", "event_id").alias("latest_user"),
            F.min_by(F.col("value").cast("double"), F.col("event_id")).alias("first_value"),
            F.max_by(F.col("value").cast("double"), F.col("event_id")).alias("latest_value"),
        )
        .orderBy("event_type")
    )


@query(
    "dialect_uniq_upto",
    oracle="""
    SELECT event_type,
           LEAST(COUNT(DISTINCT user_id), 51) AS uniq_upto_50,
           LEAST(COUNT(DISTINCT user_id), 2001) AS uniq_upto_2000
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def dialect_uniq_upto(spark, sf_dir):
    """ClickHouse uniqUpTo(N) parity: EXACT distinct count while it is
    <= N, the sentinel N+1 once exceeded — the cheap 'are there more
    than N distinct?' gate (CH bounds its state at N+1 entries; here the
    cap composes over exact count_distinct, with the same observable
    semantics — a bounded-state variant would swap in the KMV/HLL
    sketches for the billions-of-keys regime). Both caps exercised: 50
    saturates on every type at sf0.01, 2000 stays exact."""
    e = load_events(spark, sf_dir)
    u = F.count_distinct("user_id")
    return (
        e.groupBy("event_type")
        .agg(
            F.least(u, F.lit(51).cast("long")).alias("uniq_upto_50"),
            F.least(u, F.lit(2001).cast("long")).alias("uniq_upto_2000"),
        )
        .orderBy("event_type")
    )


@query(
    "dialect_retention",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05' THEN 1 ELSE 0 END) AS c0,
               MAX(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-06' THEN 1 ELSE 0 END) AS c1,
               MAX(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-07' THEN 1 ELSE 0 END) AS c2,
               MAX(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-08' THEN 1 ELSE 0 END) AS c3
        FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(c0) AS BIGINT) AS d0_users,
           CAST(SUM(c0 * c1) AS BIGINT) AS d1_retained,
           CAST(SUM(c0 * c2) AS BIGINT) AS d2_retained,
           CAST(SUM(c0 * c3) AS BIGINT) AS d3_retained
    FROM per_user
    """,
)
def dialect_retention(spark, sf_dir):
    """ClickHouse retention(cond1..condN) parity — the canonical
    day-over-day form: r[0] = user matched cond1 (active on the anchor
    day), r[i] = user matched cond1 AND cond(i) (came back on day i; CH
    semantics — unordered conjunction with the anchor, NOT a funnel), then
    the standard report sums each flag across users. Two map-side-combined
    aggregates: per-user flag maxes (one shuffle on user_id), then a
    4-scalar global sum. DuckDB SUM(int) is HUGEINT — CAST BIGINT per the
    repo convention."""
    from chatdata_spark.catalog import load_events

    e = load_events(spark, sf_dir)
    d = F.to_date("ts")
    flags = [
        F.max(
            (d == F.lit(f"2024-01-0{5 + i}").cast("date")).cast("int")
        ).alias(f"c{i}")
        for i in range(4)
    ]
    per_user = e.groupBy("user_id").agg(*flags)
    return per_user.agg(
        F.sum("c0").cast("long").alias("d0_users"),
        F.sum(F.col("c0") * F.col("c1")).cast("long").alias("d1_retained"),
        F.sum(F.col("c0") * F.col("c2")).cast("long").alias("d2_retained"),
        F.sum(F.col("c0") * F.col("c3")).cast("long").alias("d3_retained"),
    )


@query(
    "dialect_parity_datetime_bits",
    oracle="""
    SELECT event_id,
           CAST(quarter(ts) AS INT) AS q,
           CAST(isodow(CAST(ts AS DATE)) AS INT) AS dow,
           CAST(dayofyear(ts) AS INT) AS doy,
           date_trunc('hour', ts) AS hour_start,
           CAST(date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY
                AS TIMESTAMP) AS week_start,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start_iso,
           lpad(CAST(event_id AS VARCHAR), 8, '0') AS padded,
           event_id & 255 AS id_low,
           xor(event_id | 4096, CAST(255 AS BIGINT)) AS id_mix,
           regexp_matches(event_type, '^(view|click)$') AS is_funnel_head,
           array_to_string(string_split(event_type, 'ic'), '|') AS parts
    FROM events WHERE event_id < 40 ORDER BY event_id
    """,
)
def dialect_parity_datetime_bits(spark, sf_dir):
    """§2.9 parity sweep #4 (r7): toQuarter / toDayOfWeek (ISO Monday=1 —
    Spark's Sunday=1 remapped in the rename) / toDayOfYear /
    toStartOfHour / toStartOfWeek (default mode 0 = Sunday-start AND
    explicit mode 1 = ISO Monday-start) / leftPad / bitAnd / bitOr /
    bitXor / match / splitByString (literal delimiter regex-quoted for
    Spark's regex split) through the rename pass."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_id,
           toQuarter(ts) AS q,
           toDayOfWeek(ts) AS dow,
           toDayOfYear(ts) AS doy,
           toStartOfHour(ts) AS hour_start,
           toStartOfWeek(ts) AS week_start,
           toStartOfWeek(ts, 1) AS week_start_iso,
           leftPad(toString(event_id), 8, '0') AS padded,
           bitAnd(event_id, 255) AS id_low,
           bitXor(bitOr(event_id, 4096), 255) AS id_mix,
           match(event_type, '^(view|click)$') AS is_funnel_head,
           arrayStringConcat(splitByString('ic', event_type), '|') AS parts
    FROM events PREWHERE event_id < 40 ORDER BY event_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_parity_sweep5",
    oracle="""
    WITH base AS (
        SELECT event_id, ts, event_type, props,
               CAST(COALESCE(value, 0) AS DECIMAL(18,2)) AS v
        FROM events WHERE event_id < 40
    )
    SELECT event_id,
           CAST(year(ts) * 100 + month(ts) AS INT) AS ym,
           CAST(year(ts) * 10000 + month(ts) * 100 + day(ts) AS INT) AS ymd,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ux,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS monday,
           ts + INTERVAL 3 DAY AS ts_plus3d,
           ts - INTERVAL 36 HOUR AS ts_minus36h,
           array_to_string(regexp_extract_all(CAST(props AS VARCHAR), '[0-9]+'), ',') AS nums,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CAST(event_id << 3 AS BIGINT) AS shl,
           CAST(event_id >> 2 AS BIGINT) AS shr,
           CASE WHEN v < 10 THEN 'low' WHEN v < 30 THEN 'mid'
                ELSE 'high' END AS band
    FROM base ORDER BY event_id
    """,
)
def dialect_parity_sweep5(spark, sf_dir):
    """§2.9 parity sweep #5 (r8): toYYYYMM / toYYYYMMDD / toUnixTimestamp
    (whole-second truncation — the oracle FLOORs epoch(), the CLAUDE.md
    rule) / toMonday / addDays / subtractHours / extractAll (group-0
    matches, serialized via arrayStringConcat — the driver's pandas
    canonicalizer cannot hash top-level array cells, r8 verdict) /
    JSONExtractString / JSONExtractInt / bitShiftLeft /
    bitShiftRight / multiIf, all through the rename pass over real event
    rows."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_id,
           toYYYYMM(ts) AS ym,
           toYYYYMMDD(ts) AS ymd,
           toUnixTimestamp(ts) AS ux,
           toDateTime(toString(toMonday(ts))) AS monday,
           addDays(ts, 3) AS ts_plus3d,
           subtractHours(ts, 36) AS ts_minus36h,
           arrayStringConcat(extractAll(props, '[0-9]+'), ',') AS nums,
           JSONExtractString(props, 'k') AS k_str,
           JSONExtractInt(props, 'k') AS k_int,
           bitShiftLeft(event_id, 3) AS shl,
           bitShiftRight(event_id, 2) AS shr,
           multiIf(ifNull(toDecimal64(toString(value), 2), toDecimal64('0', 2)) < 10, 'low',
                   ifNull(toDecimal64(toString(value), 2), toDecimal64('0', 2)) < 30, 'mid',
                   'high') AS band
    FROM events PREWHERE event_id < 40 ORDER BY event_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_parity_sweep6",
    oracle="""
    SELECT l_returnflag,
           min(CASE WHEN l_discount > 0.05 THEN l_quantity END) AS min_q_disc,
           max(CASE WHEN l_discount > 0.05 THEN l_quantity END) AS max_q_disc,
           CAST(COUNT(DISTINCT CASE WHEN l_tax > 0.03 THEN l_suppkey END) AS BIGINT)
               AS n_supp_taxed,
           bit_and(l_orderkey) AS and_ok,
           bit_or(l_orderkey) AS or_ok,
           bit_xor(l_orderkey) AS xor_ok,
           CAST(SUM(CASE WHEN l_discount <= 0.05 THEN
               (CASE WHEN (l_linenumber - 1) = 0 THEN 0
                     ELSE l_partkey // (l_linenumber - 1) END) END) AS BIGINT)
               AS div_sum,
           CAST(COUNT(*) FILTER (WHERE
               (CASE WHEN (l_linenumber - 1) = 0 THEN 0
                     ELSE l_partkey % (l_linenumber - 1) END) = 0) AS BIGINT)
               AS mod_zero_rows,
           CAST(SUM(CAST(round_even(l_quantity / 8, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS q8_sum
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def dialect_parity_sweep6(spark, sf_dir):
    """§2.9 parity sweep #6 (r9): the aggregate -If combinator family
    (minIf / maxIf / uniqExactIf — CASE-ELSE-NULL translations whose
    null-skip semantics match ClickHouse's condition-filtered aggregates
    exactly) + grouped bit aggregates (groupBitAnd/Or/Xor ≡ Spark
    bit_and/bit_or/bit_xor ≡ the DuckDB aggregates of the same names) +
    the OrZero division scalars (intDivOrZero / moduloOrZero — CH's
    total-function variants, translated to guarded CASE so ANSI Spark
    never throws on the zero denominators l_linenumber-1 actually
    produces) + roundBankers (Spark bround / DuckDB round_even, fed a
    binary-exact l_quantity/8 grid so half-even ties agree bit-for-bit
    across Spark's shortest-string and DuckDB's exact-binary rounding
    paths — the float32-decimal CLAUDE.md gotcha's double cousin),
    all through the rename pass over lineitem. Money-style sum goes
    through the exact DECIMAL convention; counts pinned BIGINT both
    sides (HUGEINT sweep guard)."""
    register_views(spark, sf_dir, ["lineitem"])
    ch_sql = """
    SELECT l_returnflag,
           minIf(l_quantity, l_discount > 0.05) AS min_q_disc,
           maxIf(l_quantity, l_discount > 0.05) AS max_q_disc,
           uniqExactIf(l_suppkey, l_tax > 0.03) AS n_supp_taxed,
           groupBitAnd(l_orderkey) AS and_ok,
           groupBitOr(l_orderkey) AS or_ok,
           groupBitXor(l_orderkey) AS xor_ok,
           sumIf(intDivOrZero(l_partkey, l_linenumber - 1), l_discount <= 0.05)
               AS div_sum,
           countIf(moduloOrZero(l_partkey, l_linenumber - 1) = 0) AS mod_zero_rows,
           toFloat64(sum(toDecimal64(toString(roundBankers(l_quantity / 8, 2)), 2)))
               AS q8_sum
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_parity_sweep7",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt_full,
           strftime(ts, '%Y-%m-%d') AS fmt_date,
           CAST(week(ts) AS INT) AS iso_w,
           CAST(isoyear(ts) AS INT) AS iso_y,
           CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS BIGINT) AS rel_h,
           CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS BIGINT) AS rel_d,
           CAST(len(regexp_extract_all(CAST(props AS VARCHAR), '[0-9]')) AS INT)
               AS n_digits,
           event_type || '-' || CAST(event_id AS VARCHAR) AS tag
    FROM events WHERE event_id < 40 ORDER BY event_id
    """,
)
def dialect_parity_sweep7(spark, sf_dir):
    """§2.9 parity sweep #7 (r9): formatDateTime (CH MySQL-style % codes
    compiled to a Java date_format pattern at translate time — literal
    letters get Java-quoted, unknown codes RAISE, and %M is refused
    outright because it means minute in old ClickHouse but month name in
    MySQL-compat ≥ 23; %i is the unambiguous minute) / toISOWeek /
    toISOYear (Spark weekofyear IS ISO week; YEAROFWEEK the ISO year —
    both pinned against DuckDB week()/isoyear()) / toRelativeHourNum /
    toRelativeDayNum (whole-epoch integer division — the FLOOR(epoch)
    CLAUDE.md rule on the oracle side) / countMatches (regexp_count) /
    concatWithSeparator (concat_ws), over real event rows."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_id,
           formatDateTime(ts, '%Y-%m-%d %H:%i:%S') AS fmt_full,
           formatDateTime(ts, '%F') AS fmt_date,
           toISOWeek(ts) AS iso_w,
           toISOYear(ts) AS iso_y,
           toRelativeHourNum(ts) AS rel_h,
           toRelativeDayNum(ts) AS rel_d,
           countMatches(props, '[0-9]') AS n_digits,
           concatWithSeparator('-', event_type, toString(event_id)) AS tag
    FROM events PREWHERE event_id < 40 ORDER BY event_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_parity_sweep8",
    oracle="""
    WITH e AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CAST(props AS VARCHAR) AS p
        FROM events WHERE event_id < 40
    ), d AS (
        SELECT *, len(regexp_extract_all(p, '[0-9]')) AS n FROM e
    )
    SELECT event_id,
           CAST(bit_count(event_id) AS INT) AS bits,
           CAST(last_day(ts) AS VARCHAR) AS eom,
           strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:%S') AS q15,
           strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS q5m,
           substring(event_type, 2, 3) AS sub3,
           reverse(event_type) AS rev,
           to_base64(encode(event_type)) AS b64,
           decode(from_base64(to_base64(encode(event_type)))) AS rt,
           CAST((length(p) - length(replace(p, 'a', ''))) // length('a') AS BIGINT) AS n_a,
           array_to_string(list_concat(
               [CAST(i*(i+1)//2 AS BIGINT) for i in range(1, n)],
               [CAST((n-1)*n//2 + 9 AS BIGINT)]), ',') AS cs,
           array_to_string(CASE WHEN n = 0 THEN [] ELSE
               [i for i in range(0, n//2 + 1)] END, ',') AS cp,
           array_to_string((list_concat(range(1, n+1)[2:], [7,7,7,7]))[1:4], ',') AS rz
    FROM d ORDER BY event_id
    """,
)
def dialect_parity_sweep8(spark, sf_dir):
    """§2.9 parity sweep #8 (r10): bitCount / toLastDayOfMonth /
    toStartOfFifteenMinutes + toStartOfFiveMinutes (epoch-aligned integer
    bucketing — DuckDB time_bucket's 2000-01-01 origin is a multiple of
    both widths, so the buckets coincide) / substringUTF8 / reverseUTF8 /
    base64Encode + base64Decode (round-tripped) / countSubstrings
    (non-overlapping, the greedy-replace length formula on both sides) /
    arrayPushBack + arrayPopBack + arrayPushFront-family slicing +
    arrayResize (3-arg only — CH's 2-arg default extender is
    type-dependent, refused like %M) / arrayCumSum (BIGINT running sum
    via aggregate+array_append) / arrayCompact (consecutive dedup,
    null-safe predecessor compare), over real event rows. Array outputs
    serialized via arrayStringConcat/array_to_string (the sweep5
    driver-hashability rule); oracle array legs use closed forms over
    n = digit count (cumsum of [1..n-1,9] is triangular numbers;
    compact of [i div 2] is [0..n div 2])."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_id,
           toInt32(bitCount(event_id)) AS bits,
           toString(toLastDayOfMonth(ts)) AS eom,
           toString(toStartOfFifteenMinutes(ts)) AS q15,
           toString(toStartOfFiveMinutes(ts)) AS q5m,
           substringUTF8(event_type, 2, 3) AS sub3,
           reverseUTF8(event_type) AS rev,
           base64Encode(event_type) AS b64,
           base64Decode(base64Encode(event_type)) AS rt,
           toInt64(countSubstrings(props, 'a')) AS n_a,
           arrayStringConcat(arrayCumSum(arrayPushBack(arrayPopBack(
               arrayEnumerate(extractAll(props, '[0-9]'))), 9)), ',') AS cs,
           arrayStringConcat(arrayCompact(arrayMap(x -> intDiv(x, 2),
               arrayEnumerate(extractAll(props, '[0-9]')))), ',') AS cp,
           arrayStringConcat(arrayResize(arrayPopFront(
               arrayEnumerate(extractAll(props, '[0-9]'))), 4, 7), ',') AS rz
    FROM events PREWHERE event_id < 40 ORDER BY event_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_parity_sweep9",
    oracle="""
    WITH e AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CAST(props AS VARCHAR) AS p
        FROM events WHERE event_id < 40
    ), d AS (SELECT *, date_trunc('second', ts) AS ts0 FROM e)
    SELECT event_id,
           ltrim('  ' || event_type) AS tl,
           rtrim(event_type || '  ') AS tr,
           array_to_string(string_split(event_type, 'i')[1:1], 'i') AS ssi,
           CAST(strpos(lower(event_type), 'i') AS BIGINT) AS pci,
           regexp_replace(p, '[0-9]', '#', 'g') AS rra,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS dt_h,
           strftime(time_bucket(INTERVAL '30 minutes', ts), '%Y-%m-%d %H:%M:%S') AS slot30,
           CAST(CAST(date_trunc('quarter', ts) AS DATE) AS VARCHAR) AS soq,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS som,
           strftime(ts0 + INTERVAL 2 MONTH, '%Y-%m-%d %H:%M:%S') AS am,
           strftime(ts0 + INTERVAL 1 YEAR, '%Y-%m-%d %H:%M:%S') AS ay,
           strftime(ts0 + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS amin,
           strftime(ts0 + INTERVAL 45 SECOND, '%Y-%m-%d %H:%M:%S') AS asec,
           strftime(ts0 - INTERVAL 3 MONTH, '%Y-%m-%d %H:%M:%S') AS sm,
           CAST(((event_id >> 2) & 1) AS INT) AS bt,
           ~event_id AS bn,
           (nullif(event_type, 'click') IS NULL) AS isn,
           (nullif(event_type, 'click') IS NOT NULL) AS isnn,
           array_to_string([CAST(strpos(event_type, 'i') AS VARCHAR),
                            CAST(strpos(event_type, 'e') AS VARCHAR),
                            CAST(strpos(event_type, 'r') AS VARCHAR)], ',') AS msp,
           array_to_string(list_sort(list_intersect(
               string_split(event_type || ' zz aa', ' '),
               ['view', 'click', 'aa'])), ',') AS ai
    FROM d ORDER BY event_id
    """,
)
def dialect_parity_sweep9(spark, sf_dir):
    """§2.9 parity sweep #9 (r11): trimLeft/trimRight / substringIndex
    (DuckDB replays via string_split slicing) / positionCaseInsensitive
    (haystack-needle arg swap into locate) / replaceRegexpAll (literal
    replacement — RE2 \\1 vs Java $1 backrefs documented untranslatable)
    / dateTrunc / timeSlot (30-minute epoch floor, pmod pre-1970 rule) /
    toStartOfQuarter + toStartOfMinute / the add-interval family
    addMonths/addYears/addMinutes/addSeconds/subtractMonths over a
    second-truncated base (sub-second strings differ in trailing-zero
    form across engines) / bitTest (shift-and-mask) + bitNot / isNull +
    isNotNull function forms / multiSearchAllPositions (array of 1-based
    locates, 0 = absent) / arrayIntersect (CH leaves order unspecified —
    canonicalized with array_sort on both sides) / splitByWhitespace,
    over real event rows. Array outputs serialized per the sweep5
    driver-hashability rule."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_id,
           trimLeft(concat('  ', event_type)) AS tl,
           trimRight(concat(event_type, '  ')) AS tr,
           substringIndex(event_type, 'i', 1) AS ssi,
           toInt64(positionCaseInsensitive(upperUTF8(event_type), 'i')) AS pci,
           replaceRegexpAll(props, '[0-9]', '#') AS rra,
           toString(dateTrunc('hour', ts)) AS dt_h,
           toString(timeSlot(ts)) AS slot30,
           toString(toStartOfQuarter(ts)) AS soq,
           toString(toStartOfMinute(ts)) AS som,
           toString(addMonths(dateTrunc('second', ts), 2)) AS am,
           toString(addYears(dateTrunc('second', ts), 1)) AS ay,
           toString(addMinutes(dateTrunc('second', ts), 90)) AS amin,
           toString(addSeconds(dateTrunc('second', ts), 45)) AS asec,
           toString(subtractMonths(dateTrunc('second', ts), 3)) AS sm,
           toInt32(bitTest(event_id, 2)) AS bt,
           bitNot(event_id) AS bn,
           isNull(nullIf(event_type, 'click')) AS isn,
           isNotNull(nullIf(event_type, 'click')) AS isnn,
           arrayStringConcat(arrayMap(x -> toString(x),
               multiSearchAllPositions(event_type, array('i', 'e', 'r'))), ',') AS msp,
           arrayStringConcat(arrayIntersect(
               splitByWhitespace(concat(event_type, ' zz aa')),
               array('view', 'click', 'aa')), ',') AS ai
    FROM events PREWHERE event_id < 40 ORDER BY event_id
    """
    return spark.sql(DIALECT.translate(ch_sql))


@query(
    "dialect_parity_sweep10",
    oracle="""
    WITH e AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(props AS VARCHAR) AS p
        FROM events WHERE event_id < 40
    ), d AS (
        SELECT *, date_trunc('second', ts) AS ts0,
               range(1, CAST(len(regexp_extract_all(p, '[0-9]')) AS BIGINT) + 1) AS l
        FROM e
    )
    SELECT event_id,
           CAST(event_id * 3 + (event_id - 7) AS BIGINT) AS ar,
           CAST(event_id + 1 AS DOUBLE) / 4 AS dv,
           CAST(-event_id AS BIGINT) AS ng,
           (1::BIGINT << CAST(event_id % 20 AS INT)) AS ie2,
           power(2, event_id % 10) AS e2,
           CAST(CASE WHEN event_id + 1 < 1 THEN 0
                     ELSE (1::BIGINT << (length(bin(CAST(event_id + 1 AS BIGINT))) - 1))
                END AS BIGINT) AS rexp,
           CAST(COALESCE(list_aggregate(list_filter([0, 10, 20, 40],
                    __rd -> __rd <= event_id % 50), 'max'),
                list_aggregate([0, 10, 20, 40], 'min')) AS BIGINT) AS rdown,
           CAST(CASE WHEN event_id % 80 < 1 THEN 0
                     WHEN event_id % 80 <= 17 THEN 17
                     WHEN event_id % 80 <= 24 THEN 18
                     WHEN event_id % 80 <= 34 THEN 25
                     WHEN event_id % 80 <= 44 THEN 35
                     WHEN event_id % 80 <= 54 THEN 45
                     ELSE 55 END AS INT) AS rage,
           CAST(CASE WHEN (event_id % 400) * 100 < 1 THEN 0
                     WHEN (event_id % 400) * 100 >= 36000 THEN 36000
                     WHEN (event_id % 400) * 100 >= 18000 THEN 18000
                     WHEN (event_id % 400) * 100 >= 7200 THEN 7200
                     WHEN (event_id % 400) * 100 >= 3600 THEN 3600
                     WHEN (event_id % 400) * 100 >= 1800 THEN 1800
                     WHEN (event_id % 400) * 100 >= 1200 THEN 1200
                     WHEN (event_id % 400) * 100 >= 600 THEN 600
                     WHEN (event_id % 400) * 100 >= 300 THEN 300
                     WHEN (event_id % 400) * 100 >= 240 THEN 240
                     WHEN (event_id % 400) * 100 >= 180 THEN 180
                     WHEN (event_id % 400) * 100 >= 120 THEN 120
                     WHEN (event_id % 400) * 100 >= 60 THEN 60
                     WHEN (event_id % 400) * 100 >= 30 THEN 30
                     WHEN (event_id % 400) * 100 >= 10 THEN 10
                     ELSE 1 END AS BIGINT) AS rdur,
           isnan(CASE WHEN event_id % 2 = 0 THEN CAST('NaN' AS DOUBLE)
                      ELSE CAST(1 AS DOUBLE) END) AS nanf,
           isfinite(CASE WHEN event_id % 3 = 0 THEN CAST('Infinity' AS DOUBLE)
                         ELSE CAST(2 AS DOUBLE) END) AS finf,
           isinf(CASE WHEN event_id % 3 = 0 THEN CAST('-Infinity' AS DOUBLE)
                      ELSE CAST(2 AS DOUBLE) END) AS inff,
           (CASE WHEN isfinite(CASE WHEN event_id % 3 = 0
                                    THEN CAST('Infinity' AS DOUBLE)
                                    ELSE CAST(event_id AS DOUBLE) END)
                 THEN CASE WHEN event_id % 3 = 0
                           THEN CAST('Infinity' AS DOUBLE)
                           ELSE CAST(event_id AS DOUBLE) END
                 ELSE CAST(-1 AS DOUBLE) END) AS infn,
           CAST(COALESCE((list_filter(l, x -> x > 2))[1], -1) AS BIGINT) AS af,
           CAST(COALESCE((list_filter(l, x -> x < 3))[-1], -1) AS BIGINT) AS al,
           CAST(COALESCE(list_position(l, (list_filter(l, x -> x > 2))[1]), 0)
                AS BIGINT) AS afi,
           COALESCE(array_to_string(list_transform(range(CAST(event_id % 5 AS BIGINT)),
                x -> CAST(x AS VARCHAR)), ','), '') AS rng,
           strftime(time_bucket(INTERVAL '10 minutes', ts),
                    '%Y-%m-%d %H:%M:%S') AS t10,
           strftime(ts0 + INTERVAL 14 DAY, '%Y-%m-%d %H:%M:%S') AS aw,
           strftime(ts0 - INTERVAL 7 DAY, '%Y-%m-%d %H:%M:%S') AS sw,
           strftime(ts0 + INTERVAL 3 MONTH, '%Y-%m-%d %H:%M:%S') AS aq,
           strftime(ts0 - INTERVAL 6 MONTH, '%Y-%m-%d %H:%M:%S') AS sq,
           strftime(ts0 - INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS smin,
           strftime(ts0 - INTERVAL 45 SECOND, '%Y-%m-%d %H:%M:%S') AS ssec,
           strftime(ts0 - INTERVAL 1 YEAR, '%Y-%m-%d %H:%M:%S') AS sy
    FROM d ORDER BY event_id
    """,
)
def dialect_parity_sweep10(spark, sf_dir):
    """§2.9 parity sweep #10 (r11): the functional arithmetic family
    plus/minus/multiply/divide/negate (CH emits these for generated
    queries; divide is always-float — zero divisors diverge, documented)
    / intExp2 + exp2 + exp10 / roundToExp2 (bin()-length power-of-two,
    no float log2) / roundDown (largest array element <= x, below-all ->
    min) / roundAge + roundDuration (the documented CH bucket tables as
    CASE chains) / isNaN + isFinite + isInfinite + ifNotFinite (DuckDB
    replays via isnan/isfinite/isinf) / arrayFirst + arrayLast (try_
    element_at against ANSI out-of-range) + arrayFirstIndex (position of
    the first match's value — pure-predicate equivalence argument in the
    rename table) / range (empty-case guard vs Spark's descending
    sequence) / toStartOfTenMinutes / addWeeks + subtractWeeks +
    addQuarters + subtractQuarters + subtractMinutes + subtractSeconds +
    subtractYears — ~26 more renames over real event rows; multiIf
    drives the float-classification branches."""
    register_views(spark, sf_dir, ["events"])
    ch_sql = """
    SELECT event_id,
           toInt64(plus(multiply(event_id, 3), minus(event_id, 7))) AS ar,
           divide(plus(event_id, 1), 4) AS dv,
           toInt64(negate(event_id)) AS ng,
           intExp2(modulo(event_id, 20)) AS ie2,
           exp2(modulo(event_id, 10)) AS e2,
           toInt64(roundToExp2(plus(event_id, 1))) AS rexp,
           toInt64(roundDown(modulo(event_id, 50), array(0, 10, 20, 40))) AS rdown,
           toInt32(roundAge(modulo(event_id, 80))) AS rage,
           toInt64(roundDuration(multiply(modulo(event_id, 400), 100))) AS rdur,
           isNaN(multiIf(modulo(event_id, 2) = 0, toFloat64('NaN'),
                         toFloat64(1))) AS nanf,
           isFinite(multiIf(modulo(event_id, 3) = 0, toFloat64('Infinity'),
                            toFloat64(2))) AS finf,
           isInfinite(multiIf(modulo(event_id, 3) = 0, toFloat64('-Infinity'),
                              toFloat64(2))) AS inff,
           ifNotFinite(multiIf(modulo(event_id, 3) = 0, toFloat64('Infinity'),
                               toFloat64(event_id)), toFloat64(-1)) AS infn,
           toInt64(ifNull(arrayFirst(x -> x > 2,
               arrayEnumerate(extractAll(props, '[0-9]'))), -1)) AS af,
           toInt64(ifNull(arrayLast(x -> x < 3,
               arrayEnumerate(extractAll(props, '[0-9]'))), -1)) AS al,
           toInt64(arrayFirstIndex(x -> x > 2,
               arrayEnumerate(extractAll(props, '[0-9]')))) AS afi,
           arrayStringConcat(arrayMap(x -> toString(x),
               range(modulo(event_id, 5))), ',') AS rng,
           toString(toStartOfTenMinutes(ts)) AS t10,
           toString(addWeeks(dateTrunc('second', ts), 2)) AS aw,
           toString(subtractWeeks(dateTrunc('second', ts), 1)) AS sw,
           toString(addQuarters(dateTrunc('second', ts), 1)) AS aq,
           toString(subtractQuarters(dateTrunc('second', ts), 2)) AS sq,
           toString(subtractMinutes(dateTrunc('second', ts), 90)) AS smin,
           toString(subtractSeconds(dateTrunc('second', ts), 45)) AS ssec,
           toString(subtractYears(dateTrunc('second', ts), 1)) AS sy
    FROM events PREWHERE event_id < 40 ORDER BY event_id
    """
    return spark.sql(DIALECT.translate(ch_sql))
