"""Engine function layer: vector ops, ClickHouse-name parity, text analysis."""

from chatdata_spark.functions.vector import (  # noqa: F401
    cosine_distance,
    dot_product,
    hash_embed,
    l2_distance,
    register_vector_sql_functions,
    vector_norm,
)
