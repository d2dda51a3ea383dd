"""Best-fit-decreasing (BFD) sequence packing — the bin-packing upgrade
of the greedy cumulative-window packer (queries/sampling.py::
pack_documents): greedy packing in hash order wastes the tail of almost
every bin, while BFD sorts documents longest-first and places each into
the bin whose remaining budget fits it most tightly, the published
packing recipe for LLM pretraining batches ("Fewer Truncations Improve
Language Modeling", Ding et al. 2024 — best-fit-decreasing at 2k/8k
budgets leaves <1% padding at corpus scale). Reference role: the
upload→chunk→train pipeline's batch-construction step
(/root/reference/app/backend/chat_bot/tools.py:13-50 feeds fixed-budget
contexts the same way).

Spark-first shape (100 TB posture): global BFD is inherently sequential,
so the distributed form shards the corpus by a deterministic hash
(disjoint sub-corpora) and runs exact BFD independently PER SHARD inside
one ``applyInPandas`` pass — the published compromise (per-shard packing
loses <0.1% fill vs global at realistic shard sizes because bins are
thousands of tokens and shards are millions). Shard count scales out
with the corpus; per-shard state is one int per open bin. No global
sort, no driver collect.

Determinism (SURVEY §5): the shard hash is the md5-prefix bucket both
engines share (operators/sampling.py::hash_bucket), the BFD order is
(tokens DESC, id ASC), and the best-fit tie-break is (remaining ASC,
bin_id ASC) — bit-identical replay in the registered query's oracle.
"""

from __future__ import annotations

from bisect import bisect_left, insort

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfd_pack(items: list[tuple], budget: int) -> list[tuple]:
    """Driver-side/exact BFD over ``(id, tokens)`` pairs → rows of
    ``(id, bin_id, tokens, truncated)``. Items longer than ``budget``
    get a bin of their own with ``truncated=True`` (the caller decides
    whether to split or drop them). Shared verbatim by the oracle replay
    and the per-shard worker pass — any change here changes both sides."""
    order = sorted(items, key=lambda it: (-int(it[1]), it[0]))
    # sorted list of (remaining, bin_id): bisect finds the SMALLEST
    # remaining >= t; equal remainders tie-break on lowest bin_id
    open_bins: list[tuple[int, int]] = []
    n_bins = 0
    out = []
    for doc_id, t in order:
        t = int(t)
        if t > budget:
            out.append((doc_id, n_bins, t, True))
            n_bins += 1
            continue
        i = bisect_left(open_bins, (t, -1))
        if i < len(open_bins):
            rem, b = open_bins.pop(i)
            insort(open_bins, (rem - t, b))
            out.append((doc_id, b, t, False))
        else:
            out.append((doc_id, n_bins, t, False))
            insort(open_bins, (budget - t, n_bins))
            n_bins += 1
    return out


def pack_best_fit(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_shards: int = 8,
    salt: str = "bfd",
) -> DataFrame:
    """(id, shard, bin_id, tokens, truncated): exact BFD per hash shard.

    ``bin_id`` is 0-based within its shard — (shard, bin_id) is the
    training-sequence key. One shuffle (groupBy shard), one Arrow pass;
    the per-shard Python loop is O(n log n) in shard size with one
    (remaining, bin_id) tuple per open bin."""
    from chatdata_spark.operators.sampling import hash_bucket

    b = int(budget)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(tokens_col).cast("bigint").alias("__t"),
        F.pmod(hash_bucket(id_col, salt), F.lit(int(n_shards)))
        .cast("int")
        .alias("__shard"),
    )
    id_type = base.schema["__id"].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, shard int, bin_id int, "
        "tokens bigint, truncated boolean"
    )

    def _pack(pdf):
        shard = int(pdf["__shard"].iloc[0])
        rows = bfd_pack(list(zip(pdf["__id"].tolist(), pdf["__t"].tolist())), b)
        return pd.DataFrame(
            [(doc_id, shard, bin_id, t, trunc) for doc_id, bin_id, t, trunc in rows],
            columns=[id_col, "shard", "bin_id", "tokens", "truncated"],
        )

    out = base.groupBy("__shard").applyInPandas(_pack, schema=schema)
    return out.orderBy("shard", "bin_id", id_col)
