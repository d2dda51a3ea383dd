"""Best-fit-decreasing packing (operators/packing.py): exact-algorithm
invariants, Spark-vs-driver-replay parity (the applyInPandas closure
runs bfd_pack per hash shard — this pins the sharding and the row
mapping), and the fill advantage over the greedy cumulative packer."""

from __future__ import annotations

import pyspark.sql.functions as F

from chatdata_spark.operators.packing import bfd_pack, pack_best_fit
from tests.conftest import SF_ORACLE


def test_bfd_pack_invariants_and_tiebreaks():
    items = [(1, 60), (2, 40), (3, 40), (4, 30), (5, 120), (6, 10)]
    out = bfd_pack(items, 100)
    assert sorted(i for i, *_ in out) == [1, 2, 3, 4, 5, 6]
    # truncated iff longer than budget, in a bin of its own
    by_bin: dict = {}
    for doc, b, t, tr in out:
        assert tr == (t > 100)
        by_bin.setdefault(b, []).append((doc, t, tr))
    for b, rows in by_bin.items():
        if any(tr for _, _, tr in rows):
            assert len(rows) == 1
        else:
            assert sum(t for _, t, _ in rows) <= 100
    # decreasing order 120,60,40(id2),40(id3),30,10: 120 -> bin0
    # (truncated); 60 -> bin1 (rem 40); 40(id2) fits bin1 EXACTLY
    # (best-fit: rem 40 is the tightest) -> bin1 rem 0; 40(id3) opens
    # bin2 (rem 60); 30 -> bin2 (rem 30); 10 -> bin2 (rem 20)
    assign = {doc: b for doc, b, _, _ in out}
    assert assign == {5: 0, 1: 1, 2: 1, 3: 2, 4: 2, 6: 2}
    assert bfd_pack(items, 100) == out  # deterministic


def test_bfd_equal_sizes_tiebreak_on_id_and_bin():
    # equal tokens: order falls back to id asc; equal remainders: lowest bin
    out = bfd_pack([(3, 50), (1, 50), (2, 50), (4, 50)], 100)
    assign = {doc: b for doc, b, _, _ in out}
    assert assign == {1: 0, 2: 0, 3: 1, 4: 1}


def test_spark_pack_matches_driver_replay(spark):
    """The applyInPandas pass equals bfd_pack run on each hash shard's
    (doc_id, tokens) rows on the driver."""
    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    toks = d.select("doc_id", F.size(F.split("text", " ")).alias("tokens"))
    got = {
        (r.doc_id): (r.shard, r.bin_id, r.tokens, r.truncated)
        for r in pack_best_fit(toks, "doc_id", "tokens", budget=96, n_shards=8).collect()
    }
    from chatdata_spark.operators.sampling import hash_bucket

    rows = toks.select(
        "doc_id", "tokens",
        F.pmod(hash_bucket("doc_id", "bfd"), F.lit(8)).cast("int").alias("shard"),
    ).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append((r.doc_id, r.tokens))
    want = {}
    for sh, items in by_shard.items():
        for doc_id, bin_id, t, tr in bfd_pack(items, 96):
            want[doc_id] = (sh, bin_id, t, tr)
    assert got == want


def test_bfd_beats_greedy_fill(spark):
    """The point of BFD: strictly fewer bins (less padding waste) than
    greedy hash-order cumulative packing on the same corpus + budget."""
    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    toks = d.select("doc_id", F.size(F.split("text", " ")).alias("tokens"))
    out = pack_best_fit(toks, "doc_id", "tokens", budget=160, n_shards=8).collect()
    total_tokens = sum(r.tokens for r in out)
    bfd_bins = len({(r.shard, r.bin_id) for r in out})
    # greedy cumulative baseline in the SAME shard order
    from chatdata_spark.operators.sampling import hash_bucket

    rows = toks.select(
        "doc_id", "tokens",
        F.pmod(hash_bucket("doc_id", "bfd"), F.lit(8)).cast("int").alias("shard"),
        hash_bucket("doc_id", "bfd").alias("hb"),
    ).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append((r.hb, r.doc_id, r.tokens))
    greedy_bins = 0
    for sh, items in by_shard.items():
        fill = None
        for _, _, t in sorted(items):
            if fill is None or fill + t > 160:
                greedy_bins += 1
                fill = t
            else:
                fill += t
    assert bfd_bins < greedy_bins, (bfd_bins, greedy_bins)
    bfd_waste = 1 - total_tokens / (bfd_bins * 160)
    greedy_waste = 1 - total_tokens / (greedy_bins * 160)
    assert bfd_waste < greedy_waste
    print(f"waste: bfd={bfd_waste:.3f} greedy={greedy_waste:.3f}")
