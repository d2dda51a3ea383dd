"""PageRank / TrustRank over an edge table — graph centrality as a
curation signal.

Web-graph centrality (PageRank / harmonic centrality over the host graph)
is a standard quality prior in large-scale training-data curation: a page
linked from many reputable hosts is worth more than an orphan, and
production pipelines score crawl snapshots with exactly this signal before
sampling. TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004) is the
seeded variant the anti-spam literature uses: the random jump lands only
on a hand-vetted TRUST SET, so rank measures proximity to trusted hosts
and spam farms far from the seeds score ~0. The reference app ranks
retrieved documents by vector distance only (app/backend/chat_bot/
chat.py); a corpus-curation engine needs the graph-level prior too, so
these operators are part of the engine surface the reference outsources.

Determinism design — integer fixed-point, not floats
----------------------------------------------------
A float PageRank is NOT driver-oracle-able: every iteration sums
per-edge contributions, and float sums are partition-order-dependent, so
after k iterations Spark and DuckDB disagree in the low bits and any
rounding cutoff has tie hazards. Instead ALL arithmetic here is 64-bit
integer on ranks scaled by ``SCALE = 10**12``:

- initial rank      ``r0   = SCALE DIV ns``              (over the seed set)
- per-edge contrib  ``c    = r DIV outdeg(src)``         (exact, per row)
- per-node update   ``r'   = tele + (d_pct * (sum(c) + dangling)) DIV 100``
  with ``tele = ((100 - d_pct) * SCALE DIV 100) DIV ns`` on seed nodes
  (0 elsewhere) and ``dangling = sum(r over zero-outdegree nodes) DIV
  ns`` likewise landing on seeds only — the restart-vector formulation;
  plain PageRank is the special case seed set = ALL nodes.

Integer division and integer sums are exact and order-independent, so the
fixed-point ranks are BIT-IDENTICAL across engines, partitionings, and
retries — the driver's value-hash comparison holds with no tolerance. The
DIV remainders shed a vanishing fraction of probability mass per round
(< n/SCALE + 1/SCALE per node); with SCALE = 1e12 the ranks agree with
float PageRank to ~9 significant digits, far inside the 6-digit reporting
convention. Overflow is impossible under ANSI mode: total mass never
exceeds SCALE, so every intermediate is ≤ 100·SCALE = 1e14 ≪ 2^63.

Scale posture (100 TB / 10^9-node graphs)
-----------------------------------------
- The edge table is hash-partitioned on ``src`` ONCE and checkpointed;
  every iteration reuses that layout, so the per-round shuffles are the
  node-sized rank table (onto the edge partitioning for the contribution
  join) and the map-side-combined ``groupBy(dst)`` — never the edges.
- No driver-side graph and no per-component state: the only collected
  scalars are the node count ``n`` and seed count ``ns`` (one value each,
  computed once).
- The dangling-mass term is a 1-row aggregate broadcast into the update
  (the benign broadcast-scalar pattern), not a collect-per-round; the
  seed membership flag is a broadcast semi-join side.
- ``localCheckpoint`` truncates lineage every round (same recipe as
  operators/components.py) so the iterative plan stays constant-depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def _edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The (src, dst) edge frame every graph operator starts from. NULL
    endpoints are excluded up front: equi-joins drop NULL keys, so a NULL
    node could never receive rank, a label or a walk step, yet would still
    inflate n and out-degrees."""
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )


def _nodes(e: DataFrame) -> DataFrame:
    """Distinct node set (one ``node`` column) of an :func:`_edges` frame,
    checkpointed: every round joins against it."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )


def _seeded_pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame | None,
    seed_col: str,
    iterations: int,
    damping_pct: int,
) -> DataFrame:
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    # one-time layout: edges partitioned on src, reused every round
    e = _edges(edges, src, dst).repartition("src").localCheckpoint()
    nodes = _nodes(e)
    # consumed exactly once now (folded into the initial state below) —
    # no checkpoint needed; it is one pass over the checkpointed edges
    outdeg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))

    n = nodes.count()  # driver-side scalar (bounded: one long)
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_fp"),  # keep the non-empty schema
            F.lit(0.0).alias("rank"),
        )
    if seeds is None:
        sn = None  # every node is a seed — no membership join needed
        ns = n
    else:
        # seeds outside the graph carry no edges — restrict to graph nodes
        sn = (
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .join(nodes, "node", "left_semi")
            .localCheckpoint()
        )
        ns = sn.count()
        if ns == 0:
            raise ValueError("trustrank: no seed appears in the graph")
    tele = ((100 - damping_pct) * SCALE // 100) // ns
    if sn is None:
        flagged = nodes.withColumn("is_seed", F.lit(True))
    else:
        # seed set ≪ graph by construction — broadcast the membership flag
        flagged = nodes.join(
            F.broadcast(sn.select("node", F.lit(True).alias("is_seed"))),
            "node",
            "left",
        )
    # Fold the STATIC per-node attributes (seed flag, out-degree) into the
    # iterated state once, so no round re-joins them: the old shape paid a
    # ranks⋈outdeg sort-merge join every iteration for a value that never
    # changes (guide §2.4 — two operations keyed the same way share one
    # layout). ``deg`` is NULL exactly for dangling nodes (the old
    # left_anti membership), so the per-round dangling aggregate becomes a
    # filter over the checkpointed state instead of an anti-join.
    ranks = (
        flagged.join(outdeg, "node", "left")
        .select(
            "node",
            "is_seed",
            "deg",
            F.when(F.col("is_seed"), F.lit(SCALE // ns)).otherwise(F.lit(0)).alias("r"),
        )
        .localCheckpoint()
    )
    for _ in range(iterations):
        contrib = (
            ranks.filter(F.col("deg").isNotNull())
            .select(F.col("node").alias("cn"), F.expr("r DIV deg").alias("cpe"))
            .join(e, F.col("cn") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("cpe").alias("csum"))
        )
        # dangling mass: rank stuck on zero-outdegree nodes, redistributed
        # over the SEED set — a 1-row aggregate, broadcast not collected
        dang = (
            ranks.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("dsum"))
            .select(F.expr(f"dsum DIV {ns}").alias("dms"))
        )
        ranks = (
            ranks.select("node", "is_seed", "deg")
            .crossJoin(F.broadcast(dang))
            .join(contrib, "node", "left")
            .select(
                "node",
                "is_seed",
                "deg",
                F.when(
                    F.col("is_seed"),
                    F.lit(tele)
                    + F.expr(
                        f"({damping_pct} * (coalesce(csum, 0L) + dms)) DIV 100"
                    ),
                )
                .otherwise(
                    F.expr(f"({damping_pct} * coalesce(csum, 0L)) DIV 100")
                )
                .alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_fp"),
        (F.col("r").cast("double") / F.lit(float(SCALE))).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 6,
    damping_pct: int = 85,
) -> DataFrame:
    """Directed-multigraph PageRank → (node, rank_fp, rank).

    ``edges`` is a directed edge MULTISET (parallel edges weight the
    contribution, self-loops allowed); nodes are the union of both
    endpoint columns. ``rank_fp`` is the exact fixed-point rank (bigint,
    units of 1e-12 probability mass — bit-identical across engines; see
    module docstring), ``rank`` its double view ``rank_fp / 1e12`` (exact
    conversion: rank_fp < 2^53). ``damping_pct`` is the damping factor as
    an integer percentage so the update stays in integer arithmetic.
    Exactly the seed-set-= -all-nodes case of :func:`trustrank` (same
    core, bit-identical by the is_seed-everywhere algebra)."""
    return _seeded_pagerank(edges, src, dst, None, "node", iterations, damping_pct)


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    seed_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 6,
    damping_pct: int = 85,
) -> DataFrame:
    """TrustRank (Gyongyi et al. 2004) → (node, rank_fp, rank): PageRank
    whose random jump — initial mass, teleport, AND dangling
    redistribution — lands uniformly on the trusted ``seeds`` only, so
    rank measures reachability-weighted proximity to the trust set and
    nodes far from every seed score ~0. Seeds not present in the graph
    are ignored; raises if none remain. Same integer fixed-point
    determinism and per-round cost model as :func:`pagerank`."""
    return _seeded_pagerank(edges, src, dst, seeds, seed_col, iterations, damping_pct)


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    start_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    steps: int = 6,
    salt: str = "walk",
) -> DataFrame:
    """DeepWalk-style walk corpus → (walk_id, step, node): one walk per
    start node, ``steps`` uniform neighbor hops. The training-data op for
    graph embeddings (Perozzi et al. 2014): walks become the "sentences"
    a skip-gram model consumes; at crawl scale this is how host-graph
    embeddings get their corpus.

    Determinism: the "random" neighbor choice at step k is
    ``uint32(md5(salt || walk_id || '#' || k)) % outdeg(node)`` — the
    repo's cross-engine hash recipe (operators/sampling.py:26), so the
    exact same walks come out of Spark, DuckDB, and Python: reproducible
    pipelines, hash-verifiable by the driver, and re-runnable
    incrementally without walk drift. Walks that reach a dangling node
    (no out-edges) simply stop (shorter walk, standard DeepWalk
    convention).

    Scale shape: edges are indexed ONCE with a per-src row_number (one
    window pass, checkpointed — reused by every step and every later
    walk generation over the same graph), then each step is ONE equi-join
    of the frontier on (node, idx) — frontier-sized, never corpus-sized,
    no per-walk driver state.

    MEASURED posture (PLANS.md "all-node random-walk posture", sf0.1,
    1.17M edges): wall-clock is ~flat in the start-set size — 32 starts
    3.98 s, 1,000 starts 3.71 s, 15,999 starts 5.94 s (16x starts → 1.6x)
    — because the per-hop edge pass dominates. Walking from EVERY node
    (the DeepWalk corpus posture, Perozzi et al.) therefore amortizes it:
    per-walk cost drops ~400x between the 32-start and all-node runs. The
    flip side is that a SMALL seed set pays nearly the full corpus cost.

    Each frontier is PERSISTED (lazily): the output union's step-k branch
    builds on the step-(k-1) cache instead of re-running hops 1..k-1 — without it the union re-evaluates
    O(steps²/2) hop joins and re-derives the start set once per branch.
    The whole corpus still materializes in one lazy job (no eager work at
    plan-build time beyond the one-time edge indexing). Per-hop cost is
    one streamed pass over the indexed edge table against the broadcast
    frontier — the same per-superstep cost model as Pregel-style
    frontier propagation, which is the scale-correct shape when the edge
    table dwarfs executor memory."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    e = _edges(edges, src, dst)
    w = Window.partitionBy("src").orderBy("dst")
    indexed = (
        e.withColumn("idx", F.row_number().over(w) - 1)
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint()
    )
    cur = (
        starts.select(F.col(start_col).alias("node"))
        .distinct()
        .select(F.col("node").alias("walk_id"), F.lit(0).alias("step"), "node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out = cur
    for k in range(1, steps + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{salt}"),
                            F.col("walk_id").cast("string"),
                            F.lit(f"#{k}"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("deg")
        )
        # NOTE (measured-and-rejected): semi-joining the index to the frontier's
        # sources before each hop cost 6.29 s vs 4.28 s plain (sf0.1, 32 starts).
        # NOTE (r11 optimization round, measured-and-rejected): resolving
        # the picked index against a degree view first and equi-joining on
        # (src, idx) — either sort-merge or shuffled-hash — measured 1.4-
        # 1.8x SLOWER than this join-then-filter shape in paired isolated
        # runs: the two-key join forces a per-hop sort/exchange of the
        # edge table, which costs more than the fan-out rows it avoids.
        cur = (
            cur.join(indexed, F.col("node") == F.col("src"))
            .filter(F.col("idx") == pick)
            .select("walk_id", F.lit(k).alias("step"), F.col("dst").alias("node"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        out = out.unionByName(cur)
    return out


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    walk_col: str = "walk_id",
    step_col: str = "step",
    node_col: str = "node",
) -> DataFrame:
    """Walk corpus → skip-gram training pairs (center, context, n_pairs):
    every ordered pair of nodes within ``window`` hops of each other on
    the same walk, aggregated over the corpus — the co-occurrence stream
    a word2vec-style embedding trainer consumes (walks are the
    "sentences"; this is the sliding-window pass of Perozzi et al. 2014).

    One self-equi-join on the walk id with a bounded step-distance
    predicate: walks are short by construction (walk length ≪ corpus), so
    the join fans out ≤ 2·window rows per position and shuffles only
    walk-keyed rows — never the graph. Counts are exact longs; no floats
    anywhere."""
    a = walks.select(
        F.col(walk_col).alias("w"), F.col(step_col).alias("i"), F.col(node_col).alias("center")
    )
    b = walks.select(
        F.col(walk_col).alias("w"), F.col(step_col).alias("j"), F.col(node_col).alias("context")
    )
    return (
        a.join(b, "w")
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) with DETERMINISTIC updates: every node starts
    labeled with its own id; each round it adopts the label with the
    highest vote count among its in-neighbors PLUS ITSELF (the self-vote
    damps the bipartite oscillation of plain synchronous LPA), ties
    broken by the SMALLEST label. Votes are integer counts and the
    tie-break is a total order, so after a fixed ``iterations`` the
    labeling is bit-identical across engines and partitionings — the
    driver oracle replays every round in unrolled SQL exactly (the
    operators/graph.py PageRank determinism recipe, with argmax-by-count
    in place of fixed-point sums).

    Complements connected components (components.py): components answer
    reachability; LPA separates DENSE regions inside one component.

    Node ids must be NON-NEGATIVE longs (the argmax uses max(struct(cnt,
    -lbl)) — negation as the descending-to-ascending bridge). Pass a
    symmetric edge union for undirected semantics (votes flow src→dst).

    Scale shape: edges are hash-partitioned on src ONCE and checkpointed;
    each round shuffles the node-sized label table onto that layout plus
    two map-side-combined aggregates on (node, lbl) / (node) — never the
    edge table. No driver-side graph state; localCheckpoint truncates the
    iterative lineage (constant-depth plan)."""
    e = _edges(edges, src, dst).repartition("src").localCheckpoint()
    nodes = _nodes(e)
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(int(iterations)):
        nbr = (
            labels.select(F.col("node").alias("src"), "lbl")
            .join(e, "src")
            .select(F.col("dst").alias("node"), "lbl")
        )
        votes = nbr.unionByName(labels.select("node", "lbl"))
        # ONE exchange for both aggregates: hash-partitioning by node alone
        # satisfies the (node, lbl) clustering for the vote count AND the
        # (node) clustering for the argmax, so the second groupBy reuses
        # the first's layout with no further shuffle (guide §2.4 — two
        # operations keyed the same way share one exchange). The hash-by-
        # (node,lbl) layout it replaces had the same hot-node ceiling: the
        # argmax always colocated a node's votes anyway.
        counts = (
            votes.repartition("node")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        picked = counts.groupBy("node").agg(
            F.max(F.struct(F.col("cnt").alias("c"), (-F.col("lbl")).alias("nl"))).alias("m")
        )
        labels = picked.select(
            "node", (-F.col("m.nl")).alias("lbl")
        ).localCheckpoint()
    return labels.select("node", F.col("lbl").alias("label"))


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) → (node, auth_fp,
    hub_fp, auth, hub) — the mutually-recursive counterpart of
    :func:`pagerank`: a node is a good AUTHORITY when good hubs point at
    it and a good HUB when it points at good authorities. On a crawl
    graph this separates link-directory/aggregator pages (hubs) from
    canonical content (authorities) — a curation signal PageRank
    conflates.

    Determinism (the module's integer fixed-point discipline): HITS
    needs a per-round normalization, which in float form is partition-
    order-dependent. Here each half-round rescales by the integer
    quantizer ``q = GREATEST(max(raw) DIV SCALE, 1)`` and sets
    ``score = raw DIV q`` — exact integer ops only, so scores are
    bit-identical across engines and the max score lands in
    [SCALE, 2·SCALE). ``auth``/``hub`` are the exact double views
    ``*_fp / SCALE`` (all fp values < 2^53).

    Overflow bound (documented, not checked row-wise): raw sums are
    ≤ max_degree · 2·SCALE, so ANSI-safe while max in-degree and
    out-degree stay < 2^63 / (2·SCALE) ≈ 4.6e6 at SCALE = 1e12; beyond
    that, pre-aggregate hub mass per (dst, salt) — the standard
    two-level combine — before the final sum.

    Scale posture: TWO checkpointed edge layouts (partitioned on src for
    the authority half-round, on dst for the hub half-round) are built
    once and reused every round; per round the shuffles are the
    node-sized score tables only. The quantizers are 1-row aggregates
    broadcast into the update (the benign broadcast-scalar pattern);
    localCheckpoint truncates lineage per round."""
    e_src = _edges(edges, src, dst).repartition("src").localCheckpoint()
    e_dst = e_src.repartition("dst").localCheckpoint()
    nodes = _nodes(e_src)
    h = nodes.select("node", F.lit(SCALE).cast("long").alias("h"))

    def half_round(e, scores, frm, to, out):
        """Push ``scores`` (node, score) along ``e`` from ``frm`` to ``to``
        and max-quantize the sums into the checkpointed (node, ``out``)."""
        _, score = scores.columns
        raw = (
            e.join(scores.withColumnRenamed("node", frm), frm)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(score).alias("raw"))
        )
        q = raw.agg(
            F.greatest(F.expr(f"max(raw) DIV {SCALE}"), F.lit(1).cast("long")).alias("q")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(q))
            .select("node", F.expr("coalesce(raw, 0L) DIV q").alias(out))
            .localCheckpoint()
        )

    # NOTE (r11 optimization round, measured-and-rejected): checkpointing
    # the raw half-round aggregates so the edge join runs once per
    # half-round (instead of twice — the quantizer aggregate and the
    # update join each evaluate it) measured 1.26-1.33x SLOWER in paired
    # isolated runs, with or without also checkpointing the normalized
    # scores: the extra eager materialization jobs cost more than the
    # duplicated node-sized join they save at this shape.
    for _ in range(int(iterations)):
        a = half_round(e_src, h, "src", "dst", "a")
        h = half_round(e_dst, a, "dst", "src", "h")
    return (
        nodes.join(a, "node")
        .join(h, "node")
        .select(
            "node",
            F.col("a").alias("auth_fp"),
            F.col("h").alias("hub_fp"),
            (F.col("a").cast("double") / F.lit(float(SCALE))).alias("auth"),
            (F.col("h").cast("double") / F.lit(float(SCALE))).alias("hub"),
        )
    )


def harmonic_hyperball(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    radius: int = 4,
    p: int = 4,
    salt: str = "hb",
) -> DataFrame:
    """Radius-capped harmonic centrality via HyperBall (Boldi & Vigna
    2013) → (node, harmonic, ball_est): H(v) = Σ_t (|ball(v,t)| −
    |ball(v,t−1)|) / t for t ≤ radius, where |ball| is estimated by the
    repo's DETERMINISTIC HyperLogLog (operators/hll.py) — the
    constant-memory way to score closeness on graphs where all-pairs BFS
    is impossible, and the third member of the centrality family here
    (pagerank/trustrank: eigenvector-style; hits: mutual recursion;
    hyperball: distance-based).

    Determinism: the per-node counter state is the exploded register
    table (node, bucket, min_tail) — min_tail is an exact integer MIN,
    so the per-round union along edges is an idempotent lattice merge
    (groupBy(node, bucket).min), bit-identical under any partitioning.
    Ball estimates reuse hll_estimate(linear_correction=True): one
    float64 division, plus ln on exact integer ratios (the ln-parity
    precedent). HLL counters are monotone under union but the
    small-range branch can make consecutive ESTIMATES dip, so each
    per-step increment is clamped at 0 (the published HyperBall
    discipline); the harmonic sum is ONE fixed-order left-associated
    expression, replayed operand-for-operand by the oracle.

    Scale shape: state is COLUMN-PACKED — one row per node with m
    register columns (m = 2^p is small by design: the cost knob), NULL =
    bucket absent; each round is ONE edge⋈state join on the
    dst-partitioned edge layout (built once, checkpointed) plus ONE
    node-keyed lattice-merge aggregate of m per-column MINs (map-side
    combinable; NULL-ignoring MIN is exactly the absent-bucket
    semantics). The edge join fans out ONE packed row per edge (the
    earlier exploded-row layout fanned out ≤m rows per edge and needed a
    groupBy(node) aggregate per radius step just to ESTIMATE — measured
    ~4x slower end-to-end at sf0.1, paired isolated runs, r11). The
    per-step ball estimate is a
    pure fixed-order projection over the m columns (same integer
    harmonic-sum, same one float64 division, same opt-in ln small-range
    branch as operators/hll.py::hll_estimate — bit-identical by exact
    integer algebra), so estimates cost no shuffle at all; the radius+1
    estimate frames are co-partitioned projections of the checkpointed
    states and join exchange-free."""
    from chatdata_spark.operators.hll import hll_alpha
    from chatdata_spark.operators.sampling import hash_bucket

    w = 32 - p
    m = 1 << p
    e_dst = _edges(edges, src, dst).repartition("dst").localCheckpoint()
    nodes = _nodes(e_dst)
    tcols = [f"__t{j}" for j in range(m)]
    # layered select: hash computed once, then packed into m columns
    # (referencing the raw md5 expr in every branch would re-evaluate it
    # per column — the expression-inlining gotcha)
    hb = hash_bucket(F.col("node"), salt)
    packed = nodes.select(
        "node",
        F.shiftright(hb, w).alias("__b"),
        hb.bitwiseAND(F.lit((1 << w) - 1)).alias("__t"),
    )
    state = packed.select(
        "node",
        *[
            F.when(F.col("__b") == j, F.col("__t")).alias(c)
            for j, c in enumerate(tcols)
        ],
    ).localCheckpoint()

    # Per-state ball estimate as a PROJECTION: exact integer harmonic sum
    # over the m columns (absent bucket → 2^(w+1); tail 0 → 1; else
    # 2^bit_length(tail) — the same rho algebra as hll_estimate, whose
    # row-sum it replaces; integer addition is order-free so the value is
    # bit-identical), then the one float64 division and the textbook
    # linear-counting branch (linear_correction=True semantics).
    a_num = hll_alpha(m) * m * m * float(1 << (w + 1))
    term_sql = " + ".join(
        f"CASE WHEN {c} IS NULL THEN CAST({1 << (w + 1)} AS BIGINT)"
        f" WHEN {c} = 0 THEN CAST(1 AS BIGINT)"
        f" ELSE shiftleft(CAST(1 AS BIGINT), CAST(length(bin({c})) AS INT)) END"
        for c in tcols
    )
    mu_sql = " + ".join(f"CAST(({c} IS NOT NULL) AS BIGINT)" for c in tcols)

    def est(state_df, t):
        sums = state_df.select(
            "node",
            F.expr(term_sql).alias("__hs"),
            F.expr(mu_sql).alias("__mu"),
        )
        rawed = sums.select(
            "node",
            (F.lit(a_num) / F.col("__hs").cast("double")).alias("__raw"),
            (F.lit(m) - F.col("__mu")).alias("__v"),
        )
        est_col = F.when(
            (F.col("__raw") <= F.lit(2.5 * m)) & (F.col("__v") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("__v").cast("double")),
        ).otherwise(F.col("__raw"))
        return rawed.select("node", est_col.alias(f"__e{t}"))

    ests = [est(state, 0)]
    for t in range(1, int(radius) + 1):
        grown = e_dst.join(state.withColumnRenamed("node", "dst"), "dst").select(
            F.col("src").alias("node"), *tcols
        )
        state = (
            grown.unionByName(state.select("node", *tcols))
            .groupBy("node")
            .agg(*[F.min(c).alias(c) for c in tcols])
            .localCheckpoint()
        )
        ests.append(est(state, t))

    cur = nodes
    for df in ests:
        cur = cur.join(df, "node")
    harmonic = None
    for t in range(1, int(radius) + 1):
        inc = F.greatest(
            F.col(f"__e{t}") - F.col(f"__e{t - 1}"), F.lit(0.0)
        ) / F.lit(float(t))
        harmonic = inc if harmonic is None else harmonic + inc
    return cur.select(
        "node",
        harmonic.alias("harmonic"),
        F.col(f"__e{int(radius)}").alias("ball_est"),
    )
