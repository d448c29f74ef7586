"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram Jaccard (north-star mandated;
the reference has no dedup — it permits duplicate keys on insert,
main.rs:92-104).

Everything here is built from Spark SQL higher-order functions
(``transform`` / ``aggregate`` / ``zip_with``) and ``xxhash64`` so the
hot path stays inside whole-stage codegen — no Python UDFs. The LSH
band join is the textbook shuffle-bounded plan: candidates are generated
by an equi-join on (band_index, band_hash), never an all-pairs cross
join, so it scales to billions of documents.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame,
    cols: Sequence[str],
    order: Sequence[Column] | None = None,
) -> DataFrame:
    """Keep one row per distinct ``cols`` value. With ``order`` given,
    keeps the first row in that order (deterministic); otherwise an
    arbitrary representative (plain ``dropDuplicates`` — cheaper, one
    hash aggregate)."""
    if order is None:
        return df.dropDuplicates(list(cols))
    w = Window.partitionBy(*cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def content_hash(col: Column | str, normalize: bool = True) -> Column:
    """Stable content fingerprint: md5 of whitespace-normalized,
    lowercased text. md5 exists in both Spark and DuckDB, so this exact
    recipe is oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.md5(c)


# ------------------------------------------------------------ shingles

def word_tokens(col: Column | str, delimiter: str = " ") -> Column:
    r"""Lowercased word tokens (non-empty). Default split is the literal
    single space — ~1.7× faster than the ``\s+`` regex in codegen and
    equivalent after the empty-token filter for space-separated text;
    pass ``delimiter=r"\s+"`` for tab/newline-delimited corpora."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), delimiter), lambda t: F.length(t) > 0
    )


def word_grams(tokens: Column, k: int) -> Column:
    """POSITIONAL word k-grams (length ``max(n-k+1, 1)``; a doc shorter
    than ``k`` yields its single truncated gram; an empty token array
    yields no grams) as a ``zip_with`` chain over k SHIFTED SLICES of
    the token array.

    Why not ``transform(sequence(1, n-k+1), i -> slice(tokens, i, k))``:
    a column expression captured inside a higher-order-function lambda
    is re-evaluated PER ELEMENT — when ``tokens`` is the usual
    ``word_tokens(text)`` pipeline (lower + split + filter), every gram
    re-tokenizes the whole document, turning an O(n) builder into
    O(n²) per doc (measured 5× slower already at ~50-token docs; it
    compounds with document length). The shifted-slice chain references
    ``tokens`` exactly ``k+1`` times per ROW, so the cost stays O(k·n)
    even when Catalyst inlines the tokenization into each reference.
    ``zip_with`` pads the shorter (suffix) slices with NULL and
    ``concat_ws`` skips NULLs, which is precisely the truncated-gram
    convention for docs shorter than ``k``.

    (``element_at``-based variants measured *slower* under ANSI mode —
    bounds/overflow checks defeat codegen — so this stays slice-based.)"""
    n = F.size(tokens)
    m = F.greatest(n - (k - 1), F.lit(1))
    g = F.slice(tokens, 1, m)
    for j in range(1, k):
        g = F.zip_with(
            g, F.slice(tokens, 1 + j, m),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return g


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """Distinct word k-shingles from a token array (JVM-side) — the
    :func:`word_grams` builder deduped, with the historical empty-doc
    contract preserved (a zero-token doc contributes one EMPTY
    shingle, so every doc has a non-empty shingle set)."""
    grams = F.when(
        F.size(tokens) == 0, F.array(F.lit(""))
    ).otherwise(word_grams(tokens, k))
    return F.array_distinct(grams)


# ------------------------------------------------------------- minhash

def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 128,
) -> DataFrame:
    """(id, sig array) via one-permutation hashing (OPH) with rotation
    densification — ONE hash evaluation per shingle instead of a
    ``num_hashes``-function family:

    1. posexplode tokens, hash each token ONCE (narrow);
    2. shingle hash = ``xxhash64(h_i, h_{i+1}, …)`` over a per-doc
       window (``lead``) — shingles never materialize as strings, no
       array/concat allocations (which dominated the string-based
       plan); trailing positions fold missing leads like short
       shingles;
    3. OPH: bucket = ``pmod(h, num_hashes)``; signature position i is
       the min shingle hash landing in bucket i (one conditional-min
       aggregate — the previous ``num_hashes``-member xxhash64 family
       cost 128 hash evaluations per shingle row; this costs one pmod
       plus integer compares). ``min`` is multiset-invariant, so
       duplicate shingles cannot change any position and set semantics
       hold for free;
    4. empty buckets are densified by circular rotation (Shrivastava &
       Li 2014): position i borrows the nearest non-empty bucket to its
       right (cyclically), via a log2(num_hashes) jump-fill — see
       below — so short documents (fewer shingles than buckets) still
       produce full signatures. Caveat: the densified positionwise
       estimator is *approximately* unbiased; for short documents
       (far fewer shingles than buckets) rotation introduces extra
       variance and positionwise correlation, which shifts effective
       LSH band thresholds slightly vs the classic k-hash family.
       Tests cross-validate candidate recall against the exact n-gram
       Jaccard oracle at the operative threshold.

    The window and the aggregate share the doc-id partitioning → ONE
    shuffle total. 64-bit shingle-hash collisions are negligible for
    an estimator that already carries MinHash variance.

    Densification is a fill-forward over the doubled signature array
    computed in ceil(log2(num_hashes)) chained projections with
    doubling strides (1,2,4,…): after the stride-s pass, slot i holds
    the first non-empty bucket in [i, i+2s-1]; the passes compose to
    cover the full wrap-around window. Each pass is one small
    ``transform`` lambda, so the codegen'd expression tree is O(log k)
    — the previous per-position ``array_compact(slice(...))`` form was
    an O(k²) expression tree whose one-off codegen (~2 s) dominated
    cold-start latency. Chained ``withColumn`` projections are NOT
    collapsed by Catalyst (each array is referenced twice downstream,
    so CollapseProject keeps the intermediate), guaranteeing each pass
    materializes once per row.
    """
    toks = word_tokens(text_col)
    ex = df.select(
        F.col(id_col).alias("_id"), F.posexplode(toks).alias("_pos", "_t")
    ).select("_id", "_pos", F.xxhash64(F.col("_t")).alias("_th"))
    w = Window.partitionBy("_id").orderBy("_pos")
    leads = [F.col("_th")] + [
        F.lead("_th", j).over(w) for j in range(1, shingle_k)
    ]
    # keep only full k-shingles (tail rows lack leads), except position 0
    # so sub-k-token docs still contribute one short shingle — matching
    # word_shingles' index range 1..max(n-k+1, 1) exactly.
    sh = (
        ex.select(
            "_id",
            "_pos",
            leads[-1].alias("_lk"),
            F.xxhash64(*leads).alias("_h0"),
        )
        .filter(F.col("_lk").isNotNull() | (F.col("_pos") == 0))
    )
    bucketed = sh.withColumn(
        "_b", F.pmod(F.col("_h0"), F.lit(num_hashes)).cast("int")
    )
    # Two-level aggregate. A single 128-column min(when(_b==i, h)) agg
    # evaluates 128 branches per SHINGLE row and its 128 agg columns
    # exceed spark.sql.codegen.maxFields (100), dropping the whole
    # stage out of codegen. Instead: (a) min per (_id, bucket) — O(1)
    # hash-agg work per shingle row; (b) assemble the per-doc bucket→min
    # map. Both grouping keys start with _id, and HashPartitioning(_id)
    # from the shingle window satisfies ClusteredDistribution for both,
    # so neither agg adds an exchange — still ONE shuffle total.
    bmin = bucketed.groupBy("_id", "_b").agg(F.min("_h0").alias("_mh"))
    # Scatter the sorted (bucket, min) entries into a 128-slot array in
    # ONE pass over the entries (pad nulls up to each bucket index,
    # append the value, pad the tail). O(occupied buckets) per doc —
    # a per-position map lookup (256 × O(entries) scans/doc) measured
    # ~25× more element-ops and dominated the signature stage.
    entries = F.sort_array(F.collect_list(F.struct("_b", "_mh")))
    raw = bmin.groupBy("_id").agg(entries.alias("_e"))
    nulls = lambda n: F.array_repeat(F.lit(None).cast("long"), n)  # noqa: E731
    scatter = F.aggregate(
        "_e",
        F.expr("CAST(array() AS ARRAY<BIGINT>)"),
        lambda acc, e: F.concat(
            acc, nulls(e["_b"] - F.size(acc)), F.array(e["_mh"])
        ),
        lambda acc: F.concat(acc, nulls(F.lit(num_hashes) - F.size(acc))),
    )
    filled = raw.select("_id", scatter.alias("_r")).select(
        "_id", F.concat("_r", "_r").alias("_f")
    )
    # Rotation densification via doubling-stride fill-forward over the
    # doubled array (wrap-around window). A doc with ≥1 shingle has ≥1
    # non-empty bucket, so every slot resolves within num_hashes steps.
    stride = 1
    while stride < num_hashes:
        s = stride
        filled = filled.withColumn(
            "_f",
            F.transform(
                F.sequence(F.lit(0), F.lit(2 * num_hashes - 1)),
                lambda i: F.coalesce(F.get("_f", i), F.get("_f", i + F.lit(s))),
            ),
        )
        stride *= 2
    return filled.select("_id", F.slice("_f", 1, num_hashes).alias("_sig"))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH.

    Plan shape (scale-critical):
      1. signature per doc — ONE shuffle, then persisted (MEMORY_AND_DISK;
         ≈1 KB/doc, far smaller than the corpus) so the expensive
         signature pipeline is computed exactly once — without the
         persist, Catalyst re-derives it for every join branch (the
         broadcast side of the band join cannot ReusedExchange a shuffle);
      2. explode ``bands`` (band, band_hash) rows per doc — narrow, and
         **id-only**: the 1 KB signature array never rides the band-join
         shuffle (32 copies/doc otherwise);
      3. self-equi-join on (band, band_hash) — bounded by bucket sizes,
         never all-pairs; dedup pairs while rows are still 16 B;
      4. re-attach the two signatures from the persisted table
         (AQE broadcasts it when small, SMJ at scale) and estimate
         Jaccard from positionwise agreement; filter ≥ threshold.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, distinct.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures_df(df, id_col, text_col, shingle_k, num_hashes)
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bhash"),
                ),
            )
        ).alias("_band"),
    ).select("_id", "_band.band", "_band.bhash")

    a = banded.select(F.col("_id").alias("id_a"), "band", "bhash")
    b = banded.select(F.col("_id").alias("id_b"), "band", "bhash")
    cand = (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        cand.join(
            sigs.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b")),
            "id_b",
        )
        .withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with(
                    "_sig_a", "_sig_b", lambda x, y: (x == y).cast("int")
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            / F.lit(num_hashes),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard"
    )


# ------------------------------------------------------------- simhash

def simhash64_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, 64-bit simhash) via explode → one hash-aggregate pass.

    Each exploded token is hashed ONCE (``xxhash64``), then 64 per-bit
    signed-vote sums run in a single partial+final aggregate; the bit
    fold back to a long happens post-agg. Same scale profile as
    ``minhash_signatures_df``."""
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_tokens(text_col)).alias("_t"),
    ).select("_id", F.xxhash64(F.col("_t")).alias("_h"))
    votes = exploded.groupBy("_id").agg(
        *[
            F.sum(F.getbit(F.col("_h"), F.lit(j)) * 2 - 1).alias(f"_v{j}")
            for j in range(64)
        ]
    )
    sh = F.lit(0).cast("long")
    for j in range(63, -1, -1):
        bit = F.when(F.col(f"_v{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = F.shiftleft(sh, 1).bitwiseOR(bit)
    return votes.select("_id", sh.alias("_sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit hash into ``bands``
    16-bit chunks (pigeonhole: any pair within hamming ≤ bands-1 shares
    ≥1 exact band), equi-join on (band, chunk), verify with
    ``bit_count(xor)``. Same shuffle-bounded shape as MinHash LSH."""
    width = 64 // bands
    hashed = simhash64_df(df, id_col, text_col)
    banded = hashed.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("_sh"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_sh", "_b.band", "_b.chunk")
    a = banded.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"), "band", "chunk")
    b = banded.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"), "band", "chunk")
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------------- n-gram Jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word n-gram sets, for all
    pairs sharing ≥1 n-gram (posting-list join — the inverted-index
    plan, not a cross join). SQL-expressible, so oracle-checked.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(word_tokens(text_col), n)).alias("gram"),
    ).distinct()
    sizes = grams.groupBy("_id").agg(F.count("*").alias("_n"))
    a = grams.select(F.col("_id").alias("id_a"), "gram")
    b = grams.select(F.col("_id").alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    eval_df: DataFrame,
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """DIRECTIONAL n-gram containment of eval docs in train docs
    (the asymmetric cousin of :func:`ngram_jaccard_pairs`
    above): containment = |grams(eval) ∩ grams(train)| / |grams(eval)|
    — the metric decontamination actually wants. Jaccard UNDER-FLAGS
    a short eval doc buried verbatim inside a long train doc (the
    union is dominated by the train doc's grams); containment reads
    1.0 there, because the denominator is the eval doc's gram set
    alone (cf. the GPT-3/PaLM eval-overlap methodology).

    Same inverted-index shape as the Jaccard operator — candidates
    from a gram-keyed posting join (never all-pairs), eval-side gram
    counts broadcast back — and all counts are exact integers, so the
    ratio is oracle-checkable (q_ngram_containment). Returns
    (eval_id, train_id, containment) for pairs sharing >= 1 gram and
    containment >= threshold.
    """
    def grams_of(df, alias):
        return df.select(
            F.col(id_col).alias(alias),
            F.explode(
                word_shingles(word_tokens(text_col), n)
            ).alias("gram"),
        ).distinct()

    ev = grams_of(eval_df, "eval_id")
    tr = grams_of(train_df, "train_id")
    sizes = ev.groupBy("eval_id").agg(F.count("*").alias("_ne"))
    inter = (
        ev.join(tr, "gram")
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.join(F.broadcast(sizes), "eval_id")
        .withColumn(
            "containment", F.round(F.col("_inter") / F.col("_ne"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("eval_id", "train_id", "containment")
    )


# --------------------------------------------------- duplicate clusters

def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    use_reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs → ``(doc_id,
    cluster_id)`` with ``cluster_id`` = the minimum doc id in the
    component. Dedup pipelines need GROUPS, not pairs: keeping one
    representative per cluster requires the transitive closure (a~b,
    b~c ⇒ {a,b,c} is one cluster even if (a,c) was never emitted).

    Iterative min-label propagation with pointer jumping:
    each round every node adopts the minimum label among itself, its
    neighbors, AND the label of its current label (path doubling), so
    convergence takes O(log component diameter) rounds instead of
    O(diameter) — and near-dup clusters are shallow to begin with.
    ``max_iter`` bounds the TOTAL round count (the fused init below is
    round 1). Scale shape:

    - edges are symmetrized once and persisted, pre-partitioned on the
      join key so every round's join reuses one exchange;
    - labels are checkpointed each round: lineage (and the codegen'd
      plan) stays O(1) across iterations instead of growing by one join
      per round. ``use_reliable_checkpoint=None`` (default) AUTO-DETECTS:
      when ``sparkContext.setCheckpointDir(...)`` is configured the loop
      uses reliable ``checkpoint()`` (HDFS/object store on a cluster —
      an executor loss mid-convergence survives), otherwise
      ``localCheckpoint`` (executor-block storage: fast, but no lineage
      to recompute from on executor loss — fine on local mode). Pass
      ``True``/``False`` to force either; ``True`` without a configured
      checkpoint dir raises;
    - the convergence check is a count of changed labels — one tiny
      driver-side action per round (the standard loop for iterative
      graph algorithms on DataFrames; the data itself never leaves the
      executors);
    - skew note (guide §2.5): the pointer-jump join keys the label
      frame on its CURRENT label, so a giant component concentrates
      one hot key on the probe side. Both sides are (id, label) rows —
      bytes per row are tiny — and the hot key hits a JOIN, exactly
      the shape AQE's skew-join splitting handles (enabled in the
      session defaults); the build side (one row per label value) is
      never hot.

    The reference has no graph surface (single-table engine); this is
    LLM-pipeline added value on top of the pair generators above.
    """
    def _ckpt(df: DataFrame) -> DataFrame:
        reliable = use_reliable_checkpoint
        if reliable is None:  # auto: reliable iff a checkpoint dir is set
            reliable = (
                df.sparkSession.sparkContext.getCheckpointDir() is not None
            )
        if reliable:
            sc = df.sparkSession.sparkContext
            if sc.getCheckpointDir() is None:
                raise ValueError(
                    "use_reliable_checkpoint=True requires "
                    "spark.sparkContext.setCheckpointDir(<reliable storage>)"
                )
            return df.checkpoint()
        # LAZY local checkpoint (guide §1.2, job-count cut):
        # eager=False lets the round's convergence count materialize
        # the checkpointed blocks as part of ITS job — one job per
        # round instead of checkpoint-then-count. Reliable checkpoints
        # stay eager: a lazy reliable checkpoint re-computes the RDD in
        # a second job to write the checkpoint files, which costs more
        # than it saves.
        return df.localCheckpoint(eager=False)

    # symmetrize in ONE pass over `pairs` via a 2-element explode
    # (guide §1.2): the union form
    # ``e.union(e.swapped)`` references `pairs` twice, so the full
    # pair-generation join (Jaccard/MinHash upstream) ran twice while
    # materializing this persist. Same rows, same types; order is
    # irrelevant under the repartition.
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("src"), F.col("dst").alias("dst")
                    ),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .repartition("dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # fused identity-init + first propagation round (guide §1.2):
    # with identity labels, round 1's
    # "min label among self and neighbors" is simply
    # least(id, min(neighbor)) — one aggregate over the cached edges
    # instead of a distinct+checkpoint followed by a full join round.
    # Every node appears as src (edges are symmetrized), so the node
    # set is identical; the loop below then starts at round 2.
    labels = _ckpt(
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("id"), "label")
    )
    # the fused init above IS propagation round 1, so the loop runs at
    # most max_iter - 1 further rounds and the documented max_iter
    # bound holds (range(max_iter) would run up to max_iter + 1 rounds)
    for _ in range(max(0, max_iter - 1)):
        # 1-hop neighbor minimum over the cached symmetric edges
        neigh = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("_nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_min_nl"))
        )
        # POINTER JUMP (guide §1.2): also
        # adopt the label OF the current label — path doubling, so the
        # distance covered per round doubles and the round count drops
        # from O(diameter) to O(log diameter). Both jump references
        # read the SAME checkpointed labels frame (cached blocks, no
        # recompute); every label value is itself a node id present in
        # `labels` (labels start as ids and only ever copy ids), so the
        # left join's coalesce never actually fires. The fixpoint is
        # unchanged: labels only decrease, the jump never crosses a
        # component (labels are component-member ids), and a round
        # with zero combined changes is in particular a 1-hop fixpoint.
        jump = labels.select(
            F.col("id").alias("_jid"), F.col("label").alias("_jl")
        )
        # labels only ever DECREASE (min-propagation), so "changed" is
        # simply new < old — carried as a flag on the same checkpointed
        # frame, costing the convergence check one cached-filter count
        # instead of a join of old vs new labels every round
        upd = F.least(
            F.col("label"),
            F.coalesce(F.col("_min_nl"), F.col("label")),
            F.coalesce(F.col("_jl"), F.col("label")),
        )
        new = _ckpt(
            labels.join(
                neigh.select(F.col("src").alias("id"), "_min_nl"), "id", "left"
            )
            .join(jump, F.col("label") == F.col("_jid"), "left")
            .select(
                "id",
                upd.alias("_label"),
                (upd < F.col("label")).alias("_chg"),
            )
            .withColumnRenamed("_label", "label")
        )
        changed = new.filter(F.col("_chg")).count()
        labels = new.drop("_chg")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------- semantic dedup

def semantic_dedup_pairs(
    emb: DataFrame,
    seeds: DataFrame | None = None,
    n_seeds: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style near-duplicate pairs over an embedding column
    (Abbas et al. 2023): partition the corpus into clusters around
    ``seeds``, then compare vectors pairwise ONLY within a cluster —
    the clustering bounds the quadratic step, which is the entire
    point of semantic dedup at corpus scale. Returns ``(cluster_id,
    id_a, id_b, cos_sim)`` with ``id_a < id_b`` and
    ``cos_sim >= threshold``.

    ``seeds`` defaults to the ``n_seeds`` lowest-id vectors — a
    deterministic choice that makes the whole operator (assignment
    argmin included) reproducible and DuckDB-oracle-checkable. In
    production pass trained cluster centers instead: either
    ``seeds=`` (rows of the corpus) or ``centroids=`` — a
    ``(cluster_id, centroid array<double>)`` frame, e.g.
    ``IvfIndex.centroids_df()`` or
    :func:`..clustering.label_centroids` output — so one trained
    quantizer serves both similarity search and dedup.

    Scale shape: assignment is :func:`..clustering.assign_nearest` —
    broadcast k seed centroids, codegen'd squared-L2 fold, ``min_by``
    argmin that collapses map-side (one exchange of ~|emb| rows, ties
    by cluster id so the argmin is a total order). The pair step
    self-joins on ``cluster_id`` — an equi-join whose per-cluster
    fan-out is (cluster size)², bounded by choosing k ∝ N/√target
    (SemDeDup runs k ~ 10⁵ clusters for 10⁸ docs); a skewed cluster
    is an input problem (re-seed), not a shuffle problem. The cosine
    is the JVM-side ``zip_with`` fold from :mod:`..functions.vectors`.
    """
    from .clustering import assign_nearest

    if centroids is None:
        if seeds is None:
            # TakeOrderedAndProject of n_seeds rows — no driver
            # collect; the limit feeds the broadcast build side
            seeds = emb.select(id_col, vec_col).orderBy(id_col).limit(n_seeds)
        centroids = seeds.select(
            F.col(id_col).alias("cluster_id"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double")
            ).alias("centroid"),
        )
    elif seeds is not None:
        raise ValueError("pass seeds= or centroids=, not both")
    from ..functions.vectors import dot, norm

    # each vector's norm is computed ONCE here, before the pair
    # fan-out — the naive per-pair cosine() re-folds both norms for
    # every candidate pair, tripling the dominant per-pair work
    # (measured 1.5x end-to-end at sf0.1). The pair score below uses
    # the same d/(na*nb) arithmetic as functions.vectors.cosine, so
    # results are bit-identical to the unfactored form.
    # persisted (guide §1.2): both sides of the
    # within-cluster pair join reference this frame, and the
    # assignment argmin (k centroid folds per vector) plus the norm
    # fold are the dominant per-row compute — unpersisted they run
    # twice (Spark shares no subplans across references). Measured
    # 2.6s → 0.9s on q_semantic_dedup's shape at sf0.1; the cached
    # rows are exactly what the cluster-keyed join shuffles anyway.
    assigned = assign_nearest(
        emb.select(id_col, vec_col),
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroid_label_col="cluster_id",
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("assigned_label").alias("cluster_id"),
        norm(F.col(vec_col)).alias("_nrm"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = assigned.select(
        "cluster_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = assigned.select(
        "cluster_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    pairs = a.join(b, "cluster_id").filter(F.col("id_a") < F.col("id_b"))
    na, nb = F.col("_na"), F.col("_nb")
    cos = F.when(
        (na > 0) & (nb > 0), dot(F.col("_va"), F.col("_vb")) / (na * nb)
    )
    return (
        pairs.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("cluster_id", "id_a", "id_b", "cos_sim")
    )


def semantic_dedup_decisions(pairs: DataFrame) -> DataFrame:
    """Fold semantic near-dup pairs into the greedy min-id-canonical
    drop list: every vector that has a LOWER-id near-duplicate in its
    cluster is dropped, keeping its lowest-id partner. One row per
    dropped vector: ``(cluster_id, drop_id, keep_id, cos_sim,
    n_links)`` where ``keep_id = min(id_a)`` over the vector's pairs,
    ``cos_sim`` is the similarity of that kept pair, and ``n_links``
    counts the vector's near-dup edges. Single doc-keyed aggregate
    (``min_by`` on the (id_a) order — map-side collapse); for
    transitive-closure cluster semantics feed the pairs to
    :func:`dedup_clusters` instead."""
    return (
        pairs.groupBy("id_b")
        .agg(
            F.min_by(
                F.struct(F.col("cluster_id"), F.col("id_a"), F.col("cos_sim")),
                F.col("id_a"),
            ).alias("_k"),
            F.count(F.lit(1)).alias("n_links"),
        )
        .select(
            F.col("_k.cluster_id").alias("cluster_id"),
            F.col("id_b").alias("drop_id"),
            F.col("_k.id_a").alias("keep_id"),
            F.col("_k.cos_sim").alias("cos_sim"),
            "n_links",
        )
    )


# --------------------------------------------------- duplicate spans

def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_span_tokens: int = 10,
    max_gram_df: int | None = 50,
    persist_intermediate: bool = True,
) -> DataFrame:
    """Maximal duplicated token spans ACROSS documents (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"):
    every pair of documents sharing a run of >= ``min_span_tokens``
    identical consecutive tokens yields one row per maximal run —
    ``(id_a, id_b, start_a, start_b, span_tokens)`` with 0-based token
    offsets and ``id_a < id_b``. Doc-level near-dup (Jaccard/MinHash)
    misses partial plagiarism — a paragraph pasted into an otherwise
    unique doc; this finds the paragraph and WHERE it sits, which is
    what span-level dedup actually rewrites.

    Mechanics: positions of word ``k``-grams are matched across docs
    (one gram-keyed self equi-join), and matches lying on the same
    DIAGONAL (``pos_a - pos_b`` constant) with consecutive ``pos_a``
    are one duplicated run — merged with the classic gaps-and-islands
    ``pos_a - row_number()`` trick per (id_a, id_b, diagonal), so a
    shared m-token span collapses from its m-k+1 shingle matches to
    ONE row of length m.

    Scale shape: the ONLY dangerous step is the gram self-join —
    ubiquitous shingles ("in the of a ...") would fan out
    quadratically. ``max_gram_df`` caps it: grams occurring in more
    than that many documents are dropped from matching BEFORE the
    join (one doc-distinct aggregate; those grams are boilerplate —
    profile them with shingle document frequencies instead of pairwise
    spans). With the cap, per-gram fan-out is bounded at
    ``max_gram_df``² pairs and the join stays an id-keyed shuffle;
    the islands window sorts only matched positions per (pair,
    diagonal). Pass ``None`` to disable the cap on corpora known to
    carry no boilerplate (e.g. already-cleaned eval sets).

    ``persist_intermediate``: the cached
    gram streams below are corpus × ~(n−k+1) rows at MEMORY_AND_DISK —
    disk-backed, so they spill instead of OOMing, but at 100 TB they
    roughly double the operator's disk footprint (cache + the shuffle
    of the same rows). Default ``True`` keeps the measured-faster
    cached shape; a deployment that prefers recompute over disk can
    pass ``False`` for the identical-rows uncached plan.
    """
    _maybe = (
        (lambda d: d.persist(StorageLevel.MEMORY_AND_DISK))
        if persist_intermediate
        else (lambda d: d)
    )
    toks = word_tokens(text_col)
    n = F.size(toks)
    # (doc, pos, gram) with pos 0-based; docs shorter than k emit no
    # grams (a span must be k full tokens to match exactly), and the
    # sequence runs only to n-k+1 so no truncated tail shingles exist.
    # Persisted (guide §1.2/§2.4): the gram
    # stream is referenced by the df-cap aggregate AND both sides of
    # the self equi-join; unpersisted, the tokenize+posexplode pass
    # re-runs once per reference (Spark shares no subplans across
    # DataFrame references). The cached frame is the same rows the
    # gram-keyed join shuffles anyway — MEMORY_AND_DISK spills, never
    # OOMs.
    grams = _maybe(df.filter(n >= k).select(
        F.col(id_col),
        # word_grams, not a slice-capturing transform: the zip_with
        # chain keeps tokenization O(k·n) per doc (see its docstring)
        F.posexplode(word_grams(toks, k)).alias("pos", "gram"),
    ))
    if max_gram_df is not None:
        rare = (
            grams.select(id_col, "gram")
            .distinct()
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            # shrink the join inputs before the shuffle (guide §3.2): a gram
            # occurring in exactly ONE document can
            # never satisfy the self-join's id_a < id_b, so dropping
            # df==1 grams from the matchable vocabulary is
            # output-invariant — and most grams are unique, so the
            # capped stream (and both exchange inputs below) collapses
            .filter(
                (F.col("_df") <= max_gram_df) & (F.col("_df") >= 2)
            )
            .select("gram")
        )
        # cache the capped stream too: the self-join below reads it
        # TWICE, and the cap join (cached grams ⋈ rare) would otherwise
        # run once per side
        grams = _maybe(grams.join(rare, "gram"))
    a = grams.select(
        F.col("gram"), F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a")
    )
    b = grams.select(
        F.col("gram"), F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b")
    )
    m = a.join(b, "gram").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pos_a", "pos_b"
    )
    w = Window.partitionBy(
        "id_a", "id_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    runs = m.withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
    spans = runs.groupBy(
        "id_a", "id_b", (F.col("pos_a") - F.col("pos_b")).alias("_diag"), "_isl"
    ).agg(
        F.min("pos_a").alias("start_a"),
        F.min("pos_b").alias("start_b"),
        (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_tokens"),
    )
    return spans.filter(F.col("span_tokens") >= min_span_tokens).select(
        "id_a", "id_b", "start_a", "start_b", "span_tokens"
    )


def cross_duplicate_spans(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_span_tokens: int = 10,
    max_gram_df: int | None = 50,
) -> DataFrame:
    """Maximal duplicated token spans BETWEEN two corpora (the cross-corpus
    face of :func:`duplicate_spans`): every (doc in
    ``df_a``, doc in ``df_b``) pair sharing a run of >=
    ``min_span_tokens`` identical consecutive tokens yields one row
    ``(id_a, id_b, start_a, start_b, span_tokens)`` — ``id_a`` from
    ``df_a``, ``id_b`` from ``df_b``, ids never compared across the
    two frames (they may collide; the SIDES are the identity). The
    decontamination primitive: with ``df_a`` = the held-out set and
    ``df_b`` = the train corpus, the spans are exactly the
    evaluation text leaked into training, positioned for
    :func:`remove_duplicate_spans` to cut from the train side.

    Same mechanics and scale bounds as :func:`duplicate_spans` —
    gram-keyed equi-join (never all-pairs), per-(pair, diagonal)
    gaps-and-islands merge, and a document-frequency cap computed
    over BOTH corpora combined (boilerplate is boilerplate wherever
    it lives) that bounds per-gram fan-out before the join."""
    def _grams(df, side):
        toks = word_tokens(text_col)
        # NOT persisted, unlike duplicate_spans' single-corpus stream:
        # a same-session A/B measured the three candidate
        # persists here (per-side streams + the rare vocabulary) at
        # 3.40 s -> 4.21 s on q_span_decontamination's shape — each
        # side is referenced only twice with different downstream
        # shapes, and the added materialization barriers cost more
        # than the duplicate tokenize pass (see OPTIMIZATION_r19.md)
        return df.filter(F.size(toks) >= k).select(
            F.col(id_col),
            F.posexplode(word_grams(toks, k)).alias("pos", "gram"),
        ).select(F.lit(side).alias("_side"), id_col, "pos", "gram")

    ga, gb = _grams(df_a, "a"), _grams(df_b, "b")
    if max_gram_df is not None:
        rare = (
            ga.unionByName(gb)
            .select("_side", id_col, "gram")
            .distinct()
            .groupBy("gram")
            # the semi-join reduction (guide §3.2), computed INSIDE the
            # df-cap aggregate for free: a gram present on only one side can
            # never
            # match the cross-side equi-join, so the matchable
            # vocabulary additionally requires presence in BOTH
            # corpora. Output-invariant (the a⋈b inner join drops
            # one-sided grams anyway); it cuts both posexplode'd
            # exchange inputs before the shuffle instead of after.
            .agg(
                F.count(F.lit(1)).alias("_df"),
                F.max(F.col("_side") == F.lit("a")).alias("_in_a"),
                F.max(F.col("_side") == F.lit("b")).alias("_in_b"),
            )
            .filter(
                (F.col("_df") <= max_gram_df)
                & F.col("_in_a")
                & F.col("_in_b")
            )
            .select("gram")
        )
        ga = ga.join(rare, "gram")
        gb = gb.join(rare, "gram")
    a = ga.select(
        "gram", F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a")
    )
    b = gb.select(
        "gram", F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b")
    )
    m = a.join(b, "gram").select("id_a", "id_b", "pos_a", "pos_b")
    w = Window.partitionBy(
        "id_a", "id_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    runs = m.withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
    spans = runs.groupBy(
        "id_a", "id_b", (F.col("pos_a") - F.col("pos_b")).alias("_diag"),
        "_isl",
    ).agg(
        F.min("pos_a").alias("start_a"),
        F.min("pos_b").alias("start_b"),
        (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_tokens"),
    )
    return spans.filter(F.col("span_tokens") >= min_span_tokens).select(
        "id_a", "id_b", "start_a", "start_b", "span_tokens"
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite the corpus with duplicated spans CUT (the
    removal half of Lee et al. 2021 that :func:`duplicate_spans` only
    reports): for every span row ``(id_a, id_b, start_b,
    span_tokens)`` the tokens ``[start_b, start_b + span_tokens)`` are
    deleted from document ``id_b`` — the occurrence in the LOWER-id
    document survives as the canonical copy. Because
    :func:`duplicate_spans` emits every pair with ``id_a < id_b``, a
    span shared by k documents is cut from all but the minimum-id one
    (each non-minimum doc appears as ``id_b`` of at least one pair),
    the same greedy min-id-canonical rule
    :func:`semantic_dedup_decisions` applies. Returns one row per
    input document: ``(id, clean_text, n_tokens_removed, n_spans)``
    with ``clean_text`` the token-spliced rebuild (lowercased,
    single-space joined — :func:`word_tokens`' normal form, matching
    ``duplicated_paragraph_removal``'s output convention) and
    ``n_spans`` the count of merged removal intervals.

    Mechanics: per-doc removal intervals are overlap-merged first
    (two same-doc spans from different partners may overlap) with the
    classic running-max gaps-and-islands pass — new island when a
    span starts past the max end seen so far — then each doc's merged
    intervals ride ONE array column into an indexed ``filter`` HOF
    that keeps tokens covered by no interval. The interval array is a
    join attribute, not a computed expression, so referencing it
    inside the lambda is a per-element attribute read — NOT the
    capture trap ``word_grams``' docstring documents; the token array
    is materialized once per row before the HOF.

    Scale shape: interval merge windows partition on the doc id
    (per-doc span counts are small by construction — the
    ``max_gram_df`` cap upstream bounds them); the rebuild is one
    doc-keyed broadcast-or-shuffle join of O(#affected docs) interval
    rows against the corpus, then pure per-row HOF work. Nothing
    collects; text never shuffles except docs→output.

    Caveat (also Lee et al.'s): splicing can ABUT previously-distant
    tokens, so a re-run may find new (rare) short matches across the
    cut point; run-to-fixed-point if the corpus demands it. On
    non-pathological corpora one pass removes everything it reported
    (idempotence property-tested)."""
    iv0 = spans.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").cast("long").alias("s"),
        (F.col("start_b") + F.col("span_tokens")).cast("long").alias("e"),
    )
    w = Window.partitionBy(id_col).orderBy("s", "e")
    pmax = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    iv1 = iv0.select(
        id_col, "s", "e",
        F.when(pmax.isNull() | (F.col("s") > pmax), 1)
        .otherwise(0).alias("_new"),
    )
    iv2 = iv1.select(
        id_col, "s", "e", F.sum("_new").over(w).alias("_isl")
    )
    merged = (
        iv2.groupBy(id_col, "_isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("_iv")
        )
    )
    toks = word_tokens(text_col)
    out = (
        df.select(id_col, toks.alias("_toks"))
        .join(merged, id_col, "left")
        .select(id_col, "_toks", "_iv")
    )
    iv = F.col("_iv")
    kept = F.when(iv.isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.col("_toks"),
            # filter's index param is 0-based, matching the spans'
            # 0-based token offsets
            lambda x, i: ~F.exists(
                iv, lambda v: (i >= v["s"]) & (i < v["e"])
            ),
        )
    )
    return out.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("_toks") - F.size(kept))
        .cast("bigint")
        .alias("n_tokens_removed"),
        F.coalesce(F.size(iv), F.lit(0))
        .cast("bigint")
        .alias("n_spans"),
    )


# ---------------------------------------------- paragraph-level dedup

def duplicated_paragraph_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 20,
    keep_canonical: bool = True,
) -> DataFrame:
    """Remove corpus-duplicated paragraphs from every document
    (CCNet-style paragraph dedup, Wenzek et al. 2019: CommonCrawl
    cleaning hashes each paragraph and drops repeated ones — the
    workhorse that strips headers, footers, and mirrored pages BEFORE
    doc-level dedup ever runs). Returns one row per input document:
    ``(id, clean_text, n_paras, n_removed)`` where ``clean_text`` is
    the document with duplicated paragraphs deleted, paragraph order
    preserved.

    A "paragraph" here is a run of ``window_tokens`` consecutive
    tokens (the corpus has no layout newlines; on real corpora swap
    the segmenter — everything downstream keys on the paragraph
    STRING, not on how it was cut). With ``keep_canonical`` (default)
    the corpus-wide FIRST occurrence — min ``(id, pos)`` over the
    paragraph's hash group — survives and every other copy is
    deleted, so shared boilerplate remains represented exactly once;
    with ``keep_canonical=False`` every copy of a duplicated
    paragraph is dropped (the stricter CCNet eval-cleaning mode).

    Scale shape: paragraphs shuffle ONCE on their md5 hash into a
    groupBy whose map-side partial agg collapses even a
    million-way-repeated header to one row per map task before the
    exchange — that skew-immunity is why this is a groupBy + equi-join
    on the hash rather than a count()-over-hash window, which would
    buffer the whole skewed hash partition to count it. The join back
    is hash-keyed on the same key (the exchange is reused), and
    reassembly is one groupBy on the doc id with an
    ``array_sort(collect_list(struct(pos, para)))`` making the
    rebuild order explicit rather than partition-dependent. Nothing
    touches the driver; paragraph rows are (hash, id, pos) — text
    rides only to the reassembly shuffle.
    """
    toks = word_tokens(text_col)
    n = F.size(toks)
    w = window_tokens
    # explode the window INDEX first, slice after: Generate evaluates
    # the token array once per input row, and each output row slices
    # the materialized array — a slice-capturing transform would
    # re-tokenize the doc once per paragraph (word_grams' docstring;
    # chunk_documents uses the same shape)
    paras = (
        df.filter(n >= 1)
        .select(
            F.col(id_col),
            toks.alias("_toks"),
            F.explode(
                F.sequence(
                    F.lit(0), F.ceil(n / F.lit(w)).cast("int") - 1
                )
            ).alias("pos"),
        )
        .select(
            id_col,
            "pos",
            F.concat_ws(
                " ", F.slice("_toks", F.col("pos") * w + 1, w)
            ).alias("para"),
        )
        .withColumn("_h", F.md5("para"))
    )
    canon = paras.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    joined = paras.join(canon, "_h")
    if keep_canonical:
        keep = (F.col("_cnt") == 1) | (
            (F.col(f"_first.{id_col}") == F.col(id_col))
            & (F.col("_first.pos") == F.col("pos"))
        )
    else:
        keep = F.col("_cnt") == 1
    # one doc-keyed groupBy does rebuild + both counters: collect_list
    # skips the NULLs the when() leaves on dropped paragraphs, so the
    # kept set never needs its own filter+aggregate pass
    per_doc = joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "para")))
                ),
                lambda x: x["para"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(keep, 1)).alias("_n_kept"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_paras", F.lit(0)).cast("bigint").alias("n_paras"),
            (
                F.coalesce("n_paras", F.lit(0))
                - F.coalesce("_n_kept", F.lit(0))
            ).cast("bigint").alias("n_removed"),
        )
    )


def soft_dedup_weights(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    weight_decimals: int = 6,
) -> DataFrame:
    """Soft deduplication weights (the reweight-don't-delete
    alternative to hard dedup, after SoftDeDup, Xia et al. 2024): score
    every document by the corpus-wide COMMONNESS of its content and
    emit a down-weight for common (duplicated / boilerplate-heavy)
    docs instead of dropping them. Per document: ``commonness`` = the
    geometric mean of its distinct word ``n``-grams' document
    frequencies (as fractions of the corpus), ``soft_weight`` =
    1 / (N · commonness) clamped to [0, 1] — a doc whose every shingle
    is unique scores weight 1; a doc duplicated k times scores ~1/k
    (each of its shingles appears in k docs), which is exactly the
    loss-mass equalization hard dedup achieves by deletion, minus the
    information loss. Returns ``(id, n_grams, commonness,
    soft_weight)``; docs shorter than ``n`` tokens carry their single
    truncated shingle (word_grams' convention), so every doc gets a
    weight.

    Scale shape: the inverted-index pattern — distinct (doc, gram)
    explode, ONE gram-keyed document-frequency aggregate (map-side
    combine collapses boilerplate shingles), join back gram-keyed,
    then a doc-keyed mean of logs. Two shuffles, both on content
    keys; no all-pairs anything — that is the entire point vs
    pairwise dedup. Geometric (not arithmetic) mean so a single
    ubiquitous shingle cannot dominate a long unique doc."""
    toks = word_tokens(text_col)
    grams = (
        df.select(
            F.col(id_col), F.explode(word_shingles(toks, n)).alias("_g")
        )
    )
    gdf = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (
        grams.join(gdf, "_g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.avg(F.log(F.col("_df").cast("double"))).alias("_mean_log_df"),
        )
    )
    total = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    from ..queries import attach_scalar

    out = attach_scalar(per_doc, total)
    commonness = F.exp(F.col("_mean_log_df")) / F.col("_n_docs")
    weight = F.least(
        F.lit(1.0), F.lit(1.0) / (F.col("_n_docs") * commonness)
    )
    return out.select(
        id_col,
        "n_grams",
        F.round(commonness, weight_decimals).alias("commonness"),
        F.round(weight, weight_decimals).alias("soft_weight"),
    )
