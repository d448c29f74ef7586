"""Link-graph analytics — PageRank.

Web-scale corpus curation weights documents by link authority
(Common-Crawl-derived corpora carry a link graph; OPIC/harmonic-
centrality weighting is a standard quality prior next to the text
heuristics in functions/text.py). The engine already has the other
graph primitive — connected components (operators/dedup.py
``duplicate_clusters``'s min-label propagation); this module adds the
ranking one.

Spark-first shape: one iteration = one join of the edge list with the
current rank vector (co-partitioned on ``src``) + one ``dst``-keyed
aggregate — the classic two-shuffle PageRank step, all JVM-side.
Iterations UNROLL into one lazy plan (the iteration count is small
and fixed); past ~8 iterations call ``.checkpoint()`` between steps
like duplicate_clusters does, or lineage grows geometrically.

Determinism (the oracle story): ranks are INTEGER micro-units
(1.0 == 1_000_000) and every step is integer arithmetic — ``r //
outdeg`` per edge, ``0.15*SCALE + 850 * Σcontrib // 1000`` per node —
so results are bit-identical on any engine/partitioning (floating
PageRank sums are order-dependent; integer sums are not). The
variant: dangling-node mass is DROPPED, not redistributed (the
common simplification; document-quality weighting only needs the
ordering, which dropping preserves for the overwhelmingly-common
sparse graphs), and nodes with no inlinks hold the base mass
``0.15 * SCALE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: integer rank scale: 1.0 of probability mass == 1_000_000 units
SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_permille: int = 850,
    normalized: bool = False,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list. Returns
    ``(node, rank_micro)`` for every node appearing as src or dst,
    where ``rank_micro`` is the rank in millionths (see module
    docstring for the determinism/variant contract).

    NOT a probability distribution (the contract stated
    plainly): every node initializes at
    FULL mass ``SCALE`` (not SCALE/N) and dangling-node mass is
    dropped each step, so the ranks do NOT sum to SCALE — they are an
    ORDERING-quality prior, exactly what corpus weighting needs, and
    must not be fed into anything expecting normalized PageRank. Pass
    ``normalized=True`` to get ``rank_micro`` rescaled so the ranks
    sum to ``SCALE`` (integer floor division — the sum lands within
    N-1 units of SCALE; a per-node exact-sum variant would need
    rationals). The relative ORDER is identical either way.

    Edge multiplicity: the edge list is
    ``distinct()``-ed first — parallel edges collapse to weight 1, so
    a multigraph ranks as its simple-graph projection (the DuckDB
    oracle does the same, so behavior is consistent cross-engine; it
    just was not stated). Weight contributions by multiplicity
    upstream (explode) if you need multigraph semantics.

    ``damping_permille``: the damping factor in thousandths (850 =
    the canonical 0.85) — an integer so every engine computes the
    identical ``damping * sum // 1000``.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 <= damping_permille <= 1000:
        raise ValueError("damping_permille must be in [0, 1000]")
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    ).distinct()
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("_src").agg(
        F.count(F.lit(1)).cast("bigint").alias("_outdeg")
    )
    base = (1000 - damping_permille) * SCALE // 1000
    ranks = nodes.select("node", F.lit(SCALE).cast("bigint").alias("_r"))
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["_src"] == ranks["node"])
            .join(out_deg, "_src")
            .select(
                F.col("_dst").alias("node"),
                F.expr("_r div _outdeg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_sc"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"{damping_permille} * coalesce(_sc, 0) div 1000"
                    )
                ).cast("bigint").alias("_r"),
            )
        )
    out = ranks.select("node", F.col("_r").alias("rank_micro"))
    if normalized:
        out = _normalize_micro(out, "rank_micro")
    return out


def markov_stationary(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 3,
    normalized: bool = True,
) -> DataFrame:
    """Integer-exact power iteration toward the stationary
    distribution of the WEIGHTED random walk on a transition-count
    edge list — "where does user behavior settle": feed it
    the consecutive-event transition counts (q_event_transitions'
    shape) and read the equilibrium share of attention per state,
    the Markov-chain summary a raw transition matrix cannot give.

    Same determinism contract as :func:`pagerank` (this IS PageRank
    with damping 1000‰ and edge weights): mass in integer micro-units,
    each step ``p'(j) = Σ_i p(i) * w_ij div out_i`` with PER-TERM
    floor division — order-independent, so results are bit-identical
    on any engine or partitioning, and a DuckDB oracle can replay the
    unrolled iterations exactly. The per-term product ``p(i) * w_ij``
    runs in DECIMAL(38,0) (the ``_normalize_micro``
    overflow class): mass can reach ``~N_states*SCALE`` and the
    transition count is unbounded, so a bigint product wraps past
    2^63 on large weighted graphs; the oracle mirrors with HUGEINT. Every state starts at full mass
    ``SCALE``; ABSORBING states (no outgoing edges) drop their mass
    each step (the pagerank dangling simplification — for
    equilibrium-share ranking of the recurrent states this preserves
    the ordering; a chain that is mostly absorbing wants an absorbing-
    state analysis, not a stationary one). ``normalized=True``
    (default) rescales so the masses sum to ``SCALE`` within n-1
    floor units. Returns ``(state, mass_micro)``.

    Scale shape: one iteration = one co-keyed edge⋈mass join + one
    dst-keyed integer aggregate (the two-shuffle PageRank step);
    iterations unroll into one lazy plan — checkpoint past ~8 like
    :func:`pagerank`.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(weight).cast("bigint").alias("_w"),
    ).filter(F.col("_w") > 0)
    nodes = (
        e.select(F.col("_src").alias("state"))
        .unionByName(e.select(F.col("_dst").alias("state")))
        .distinct()
    )
    out_w = e.groupBy("_src").agg(F.sum("_w").cast("bigint").alias("_out"))
    masses = nodes.select("state", F.lit(SCALE).cast("bigint").alias("_p"))
    for _ in range(iterations):
        contrib = (
            e.join(masses, e["_src"] == masses["state"])
            .join(out_w, "_src")
            .select(
                F.col("_dst").alias("state"),
                # Per-term product in DECIMAL(38,0) (the _normalize_micro
                # class): mass _p can reach
                # ~N_states*SCALE and _w is an unbounded transition
                # count, so the bigint product wraps past 2^63 on
                # large weighted graphs while the DuckDB oracle
                # (HUGEINT) raises — decimal keeps both engines exact.
                F.expr(
                    "CAST(CAST(_p AS DECIMAL(38,0)) * _w div _out"
                    " AS BIGINT)"
                ).alias("_c"),
            )
            .groupBy("state")
            .agg(F.sum("_c").cast("bigint").alias("_sc"))
        )
        masses = nodes.join(contrib, "state", "left").select(
            "state", F.coalesce("_sc", F.lit(0)).cast("bigint").alias("_p")
        )
    out = masses.select("state", F.col("_p").alias("mass_micro"))
    if normalized:
        out = _normalize_micro(out, "mass_micro")
    return out


def _normalize_micro(out: DataFrame, col: str) -> DataFrame:
    """Integer floor rescale so ``col`` sums to ``SCALE`` (within n-1
    floor units): one extra 1-row aggregate riding a constant-key
    broadcast join (the attach-scalar shape) — keeps the cross-engine
    determinism contract. The multiply runs in DECIMAL(38,0): a hub
    node on a large graph can hold rank ~0.85·N·SCALE, and
    ``col * SCALE`` in bigint wraps negative past ~9.2e18 — exactly for the
    top-ranked node, inverting the order
    the flag promises to preserve. The total is summed in decimal for
    the same reason."""
    key = [c for c in out.columns if c != col]
    total = out.select(
        F.sum(F.col(col).cast("decimal(38,0)")).alias("_total")
    )
    from ..queries import attach_scalar

    return attach_scalar(out, total).select(
        *key,
        F.expr(
            f"CAST(CAST({col} AS DECIMAL(38,0)) * {SCALE} "
            f"div _total AS BIGINT)"
        ).alias(col),
    )
