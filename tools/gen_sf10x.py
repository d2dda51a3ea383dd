"""Generate a 10x-scaled fixture dir from an existing testdata dir
(sf0.1 -> ~sf1): the one replication recipe. bench.py's x10 entries run
over it (``build`` into a derived /tmp dir, once per source), and the sf1
probe path runs any registered query over it.

Replication preserves the join/duplication structure EXACTLY — each replica
is a key-disjoint copy of the source (every PK and FK offset by
rep * 2^33), so join fan-outs, group cardinalities per key, and selectivity
are unchanged while totals scale 10x:

- region/nation: copied verbatim (TPC-H dimension constants);
- customer/supplier/part/orders/lineitem/events: key columns offset;
- documents: doc_id offset + the '#<rep>' word perturbation: every word
  of replica r gets a '#r' suffix, so replicas share no whitespace
  shingles and near-dup structure scales linearly (pair count, bucket
  sizes and index size too), while each replica keeps the original
  shingle structure exactly. Inserting separator tokens instead would
  collapse 3-word shingles into effective unigrams and explode bucket
  sizes. NOTE operators that tokenize on [a-z0-9]+ split the suffix into
  its own token: they see ~20x tokens, and a word n-gram there spans n/2
  words, so substring spans grow faster than 10x (dedup_substring_spans:
  477 -> 24,680 rows from sf0.1);
- embeddings: vec_id offset + per-replica isometric sign-flip (a seeded
  ±1 pattern per dimension: preserves intra-replica cosines exactly,
  scrambles cross-replica similarity).

Heavy tables are written with multiple files (Spark partitioned write), so
downstream scans exercise multi-file planning instead of the single
row-group the committed fixtures have. The tables are written into a
sibling ``<dst>.building`` dir that is renamed to ``dst`` at the end, so a
killed build never leaves a readable half-fixture.

Usage: python tools/gen_sf10x.py [src_dir] [dst_dir]
       (defaults: /root/testdata/sf0.1 -> /tmp/sf1)
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

OFF = 2**33
REPS = 10


def build(spark, src: str, dst: str) -> None:
    """Write the 10x copy of the fixture dir ``src`` to ``dst`` (replaced
    if present)."""
    import numpy as np
    from pyspark.sql import functions as F

    from chatdata_spark.catalog import load_events

    tmp = dst.rstrip("/") + ".building"
    shutil.rmtree(tmp, ignore_errors=True)

    def reps_col():
        return F.explode(F.array(*[F.lit(i) for i in range(REPS)])).alias("__rep")

    def offset(df, cols, files):
        out = df.select("*", reps_col())
        for c in cols:
            out = out.withColumn(c, F.col(c) + F.col("__rep").cast("long") * F.lit(OFF))
        return out.drop("__rep").repartition(files)

    def write(df, name):
        df.write.parquet(f"{tmp}/{name}.parquet")

    for name in ("region", "nation"):
        write(spark.read.parquet(f"{src}/{name}.parquet").repartition(1), name)

    write(offset(spark.read.parquet(f"{src}/customer.parquet"), ["c_custkey"], 4), "customer")
    write(offset(spark.read.parquet(f"{src}/supplier.parquet"), ["s_suppkey"], 2), "supplier")
    write(offset(spark.read.parquet(f"{src}/part.parquet"), ["p_partkey"], 4), "part")
    write(
        offset(
            spark.read.parquet(f"{src}/orders.parquet"),
            ["o_orderkey", "o_custkey"], 8,
        ),
        "orders",
    )
    write(
        offset(
            spark.read.parquet(f"{src}/lineitem.parquet"),
            ["l_orderkey", "l_partkey", "l_suppkey"], 16,
        ),
        "lineitem",
    )
    write(offset(load_events(spark, src), ["event_id", "user_id"], 8), "events")

    d = spark.read.parquet(f"{src}/documents.parquet")
    d10 = (
        d.select("*", reps_col())
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep").cast("long") * F.lit(OFF))
        .withColumn(
            "text",
            F.expr(r"regexp_replace(text, '(\\S+)', concat('$1#', CAST(__rep AS STRING)))"),
        )
        .drop("__rep")
        .repartition(8)
    )
    write(d10, "documents")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    rng = np.random.default_rng(11)
    signs = [[1.0] * dim] + [list(rng.choice([-1.0, 1.0], dim)) for _ in range(REPS - 1)]
    parts = []
    for r in range(REPS):
        sarr = F.array(*[F.lit(float(x)) for x in signs[r]])
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(r * OFF)).alias("vec_id"),
                F.zip_with("embedding", sarr, lambda x, s: (x * s).cast("float")).alias(
                    "embedding"
                ),
                "label",
            )
        )
    e10 = parts[0]
    for p in parts[1:]:
        e10 = e10.unionByName(p)
    write(e10.repartition(4), "embeddings")

    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"

    from chatdata_spark.session import get_spark

    spark = get_spark(app_name="gen_sf10x")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, src, dst)
    print("done ->", dst)


if __name__ == "__main__":
    main()
