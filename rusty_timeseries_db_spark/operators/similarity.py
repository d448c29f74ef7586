"""Similarity search over an embedding column (north-star mandated).

Two tiers:
- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Scale envelope: queries × corpus dot products; fine when the *query*
  set is small (broadcast) even if the corpus is huge, because the
  corpus is scanned once, partition-parallel, with TakeOrdered per query.
- ``lsh_cosine_topk``: random-hyperplane (sign) LSH bucketing — the
  scale path. Hyperplanes are generated deterministically on the driver
  (seeded), shipped as literals; candidates come from an equi-join on
  bucket keys (multi-probe over H tables), then exact cosine rerank.

All vector math is JVM-side (functions/vectors.py).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..fsutil import write_json_manifest
from ..functions.vectors import cosine, dot, norm


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    salt_partitions: int | None = None,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    The query side is broadcast — the corpus never shuffles to score.
    Norms are precomputed ONCE per side before the cross product (a
    naive ``cosine(c, q)`` per pair re-evaluates the corpus norm per
    query and the query norm per corpus row — |Q|+|C| redundant HOF
    folds per pair); per pair only the dot product remains.

    ``salt_partitions``: with few queries and a huge corpus, a single
    ``row_number`` window serializes each query's reduction onto one
    reducer. Passing e.g. 64 switches to a two-phase top-k — a
    per-(query, salt-of-corpus-id) local cut feeding a global top-k
    over ≤ salt·k rows per query — identical results (every global
    top-k row survives its salt-local cut), one extra (tiny) shuffle.
    Default None: the single window wins while per-query candidate
    sets fit one reducer comfortably.
    Returns (query_id, vec_id, cos_sim, rank).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("_qid"),
            F.col(query_vec).alias("_qvec"),
            norm(F.col(query_vec)).alias("_qnorm"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias(corpus_id),
        F.col(corpus_vec).alias("_cvec"),
        norm(F.col(corpus_vec)).alias("_cnorm"),
    )
    scored = c.crossJoin(q).select(
        F.col("_qid").alias(query_id),
        F.col(corpus_id).alias(corpus_id),
        F.when(
            (F.col("_cnorm") > 0) & (F.col("_qnorm") > 0),
            dot(F.col("_cvec"), F.col("_qvec"))
            / (F.col("_cnorm") * F.col("_qnorm")),
        ).alias("cos_sim"),
    )
    order = [F.col("cos_sim").desc(), F.col(corpus_id).asc()]
    if salt_partitions:
        local = Window.partitionBy(
            query_id,
            F.pmod(F.xxhash64(F.col(corpus_id)), F.lit(salt_partitions)),
        ).orderBy(*order)
        scored = (
            scored.withColumn("_lrank", F.row_number().over(local))
            .filter(F.col("_lrank") <= k)
            .drop("_lrank")
        )
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_bucket_hash_col(vec_col, table: int, n_planes: int, seed: int = 42):
    """Sign-LSH bucket key with **hash-derived Rademacher hyperplanes**:
    plane component s(table, i, d) = ±1 from one bit of
    ``xxhash64(seed, table, i, d)``; bucket bit_i = 1[Σ_d v_d·s(·) > 0].

    Versus literal Gaussian planes this keeps the expression tree
    constant-size — tables×planes×dim literal arrays made Catalyst
    optimization and per-AQE-stage re-optimization the dominant cost
    (measured: seconds of driver time at 16×4×64) — while the sign-flip
    collision bound P[bit differs] ≈ θ/π still holds to CLT accuracy at
    dim ≥ ~32 (Rademacher projections; Achlioptas-style sparse/±1
    random projections are the standard database variant). Fully
    deterministic: same (seed, table, i, d) → same plane, no driver
    state shipped at all.
    """
    planes = F.sequence(F.lit(0), F.lit(n_planes - 1))
    dims = F.sequence(F.lit(0), F.size(vec_col) - 1)

    def dot_sign(i):
        return F.aggregate(
            F.zip_with(
                vec_col,
                dims,
                lambda v, d: F.when(
                    F.xxhash64(F.lit(seed), F.lit(table), i, d).bitwiseAND(
                        F.lit(1)
                    )
                    == 0,
                    v.cast("double"),
                ).otherwise(-v.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.aggregate(
        planes,
        F.lit(0),
        lambda acc, i: acc * 2 + F.when(dot_sign(i) > 0, 1).otherwise(0),
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing an LSH bucket
    with the query in ≥1 of ``n_tables`` tables; exact cosine rerank.

    Shuffle profile: bucket keys are computed map-side and the candidate
    join is an equi-join on (table, bucket) — no all-pairs work. The
    candidate join moves **id-only** rows: with multi-probe tables a
    corpus row can collide with the same query in every table, and
    carrying the two vector payloads through that ×n_tables-duplicated
    join (then deduping 1 KB rows) dominated the runtime. Pairs are
    deduped at 16 B, then vectors re-attached once from the pre-normed
    corpus and the broadcast query side, so the rerank computes one dot
    product per unique pair. Buckets come from hash-derived Rademacher
    planes (``lsh_bucket_hash_col``) — constant-size expression tree.
    """

    def bucket_rows(df: DataFrame, id_col: str, vec_col: str, id_alias: str) -> DataFrame:
        buckets = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    lsh_bucket_hash_col(
                        F.col(vec_col), t, n_planes, seed
                    ).alias("bucket"),
                )
                for t in range(n_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(id_alias), F.explode(buckets).alias("_b")
        ).select(id_alias, "_b.table", "_b.bucket")

    c_keyed = corpus.select(
        F.col(corpus_id).alias("_cid"),
        F.col(corpus_vec).alias("_cvec"),
        norm(F.col(corpus_vec)).alias("_cnorm"),
    )
    q_keyed = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(query_vec).alias("_qvec"),
        norm(F.col(query_vec)).alias("_qnorm"),
    )

    c = bucket_rows(corpus, corpus_id, corpus_vec, "_cid")
    q = F.broadcast(bucket_rows(queries, query_id, query_vec, "_qid"))
    cand = (
        c.join(q, ["table", "bucket"])
        .select("_qid", "_cid")
        .dropDuplicates(["_qid", "_cid"])
    )
    scored = (
        cand.join(c_keyed, "_cid")
        .join(F.broadcast(q_keyed), "_qid")
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.when(
                (F.col("_cnorm") > 0) & (F.col("_qnorm") > 0),
                dot(F.col("_cvec"), F.col("_qvec"))
                / (F.col("_cnorm") * F.col("_qnorm")),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: candidates from
    shared LSH buckets (equi-join, never all-pairs), exact cosine
    rerank, threshold filter. Returns (id_a, id_b, cos_sim), id_a<id_b.

    Recall is tunable via (n_planes, n_tables); the exact all-pairs
    baseline (q_embedding_neardup_exact) is the correctness oracle."""
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        norm(F.col(vec_col)).alias("_norm"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket_hash_col(F.col("_vec"), t, n_planes, seed).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )
    # id-only band rows: vector payloads never ride the ×n_tables
    # candidate shuffle (see lsh_cosine_topk); pairs dedup at 16 B and
    # vectors re-attach once from the persisted pre-normed table.
    banded = keyed.select("_id", F.explode(buckets).alias("_b")).select(
        "_id", "_b.table", "_b.bucket"
    )
    a = banded.select(F.col("_id").alias("id_a"), "table", "bucket")
    b = banded.select(F.col("_id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sides = cand.join(
        keyed.select(
            F.col("_id").alias("id_a"),
            F.col("_vec").alias("_va"),
            F.col("_norm").alias("_na"),
        ),
        "id_a",
    ).join(
        keyed.select(
            F.col("_id").alias("id_b"),
            F.col("_vec").alias("_vb"),
            F.col("_norm").alias("_nb"),
        ),
        "id_b",
    )
    return (
        sides.select(
            "id_a",
            "id_b",
            F.when(
                (F.col("_na") > 0) & (F.col("_nb") > 0),
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .withColumn("cos_sim", F.round("cos_sim", 6))
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer
    partitions the corpus into ``n_clusters`` cells; each query probes
    its ``n_probe`` nearest centroids and reranks exactly within them.

    Scale shape: the corpus is scanned once to assign cells (narrow
    after the fitted model broadcast); the candidate join is an
    equi-join on cell id touching ~n_probe/n_clusters of the corpus per
    query. Better suited than sign-LSH when similarity thresholds are
    moderate or data is clustered (see SCALE.md).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec")
    ).withColumn("_fv", array_to_vector(F.col("_cvec").cast("array<double>")))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="_fv", predictionCol="_cell")
    model = km.fit(c)
    assigned = model.transform(c).select("_cid", "_cvec", "_cell")

    centroids = [list(map(float, ctr)) for ctr in model.clusterCenters()]

    # per-query centroid distances → probe the n_probe nearest cells
    # (shared with the persisted IvfIndex query path)
    probed = _probe_cells(queries, query_id, query_vec, centroids, n_probe)

    cand = assigned.join(F.broadcast(probed), "_cell")
    scored = cand.select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        cosine(F.col("_cvec"), F.col("_qvec")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ------------------------------------------------------- persisted IVF

def _probe_cells(queries: DataFrame, query_id: str, query_vec: str,
                 centroids: list[list[float]], n_probe: int) -> DataFrame:
    """(_qid, _qvec, _cell) — each query exploded to its ``n_probe``
    nearest centroid cells (shared by ad-hoc and persisted IVF)."""

    def dist2(vec_col, ctr: list[float]):
        arr = F.array(*[F.lit(x) for x in ctr])
        return F.aggregate(
            F.zip_with(vec_col, arr, lambda a, b: (a.cast("double") - b) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
    )
    cells = F.array(
        *[
            F.struct(dist2(F.col("_qvec"), ctr).alias("d"), F.lit(i).alias("cell"))
            for i, ctr in enumerate(centroids)
        ]
    )
    return q.select(
        "_qid",
        "_qvec",
        F.explode(F.slice(F.array_sort(cells), 1, n_probe)).alias("_p"),
    ).select("_qid", "_qvec", F.col("_p.cell").alias("_cell"))


from .index_common import IndexLifecycleMixin


class IvfIndex(IndexLifecycleMixin):
    """Persisted IVF index: build ONCE (k-means fit + cell-assigned
    corpus written as parquet PARTITIONED BY cell, centroids in a JSON
    manifest beside it), then serve any number of query batches without
    refitting — ``ivf_cosine_topk`` refits k-means per call, which is
    the right shape for one-shot analytics but not for a serving index.

    Scale: the query path joins the broadcast probe list on ``_cell``,
    the PARTITION column — Spark's dynamic partition pruning skips the
    unprobed cell directories entirely, so a batch probing p of N cells
    reads ~p/N of the index bytes. Manifest I/O uses the shared
    Hadoop-FS helpers (fsutil.py) so the index can live on object
    storage.

    Deletion lifecycle (round 14 — the ``Bm25Index`` pattern):
    :meth:`remove` appends tombstones (query-time anti-join on the
    same pruned scan, EXACT post-delete results), :meth:`compact`
    makes the deletion physical with identical results, and
    :meth:`add`'s ``removed_ids`` policy (error|skip|readmit) governs
    re-publication of a removed id. Writer contract: ONE writer at a
    time per index — ENFORCED since round 15 (the ``Bm25Index``
    stance): the manifest commit is a compare-and-swap
    (``IndexLifecycleMixin._commit_manifest``), so an interleaved
    writer raises ``fsutil.ManifestVersionConflict`` instead of
    silently losing the other's accounting; the streaming sink
    serializes adds per micro-batch.
    """

    def __init__(self, spark, index_path: str):
        self.spark = spark
        self.index_path = index_path
        # deletion-lifecycle sidecars (round 14 — VERDICT r13
        # next-round #2, the Bm25Index pattern): SIBLINGS of the cell
        # tree, never inside it — the index_path IS the parquet root,
        # so a nested dir would be read as data files
        self.tombstones_path = index_path + ".tombstones"
        self.marker_path = index_path + ".compacting.json"

    # (_dir_exists / _tombstones / _check_not_compacting /
    # should_compact come from IndexLifecycleMixin — one
    # implementation for both persisted indexes, review round 14;
    # _ROWS_FIELD defaults to "n_rows", which is this class's key)

    def build(
        self,
        corpus: DataFrame,
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        n_clusters: int = 16,
        seed: int = 42,
        quantize_bits: int | None = None,
    ) -> "IvfIndex":
        """``quantize_bits`` (round 12 — IVF+SQ, the standard serving
        deployment; FAISS's ``IVF,SQ8``): store each vector as
        per-vector-scaled integer codes instead of floats — int8 cuts
        index bytes ~4x, which at 100 TB of embeddings is the
        difference between an index that fits hot storage and one
        that does not. The quantizer fit, cell assignment, probe
        routing, and partition pruning are IDENTICAL to the
        full-precision form; only the rerank inside probed cells
        scores against dequantized vectors (recall bounded by the
        scale/2-per-coordinate error — pytest pins >= 8/10 top-10
        overlap vs the full-precision index on testdata)."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # CAS token from BEFORE any work: a writer interleaving with
        # this build conflicts at the commit instead of being clobbered
        ver = self._read_manifest_cas()[0]
        c = corpus.select(
            F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec")
        ).withColumn(
            "_fv", array_to_vector(F.col("_cvec").cast("array<double>"))
        )
        km = KMeans(
            k=n_clusters, seed=seed, featuresCol="_fv", predictionCol="_cell"
        )
        model = km.fit(c)
        assigned = model.transform(c)
        if quantize_bits is not None:
            from ..functions.vectors import quantize_symmetric

            stored = assigned.select(
                "_cid",
                quantize_symmetric("_cvec", bits=quantize_bits).alias("_qz"),
                "_cell",
            ).select(
                "_cid",
                F.col("_qz.scale").alias("_qscale"),
                F.col("_qz.q").alias("_qcodes"),
                "_cell",
            )
        else:
            stored = assigned.select("_cid", "_cvec", "_cell")
        # n_rows rides the index write as an observe() metric (round 20
        # — guide §1.4, the Bm25Index lifecycle pattern): it counts
        # exactly the rows written, and skips the full re-read count of
        # the just-written cell tree
        from pyspark.sql import Observation

        obs = Observation("ivf_build_rows")
        (
            stored.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .partitionBy("_cell")
            .parquet(self.index_path)
        )
        n_rows = int(obs.get["n"])
        centroids = [list(map(float, ctr)) for ctr in model.clusterCenters()]
        from ..fsutil import delete_path

        delete_path(self.spark, self.tombstones_path)  # fresh build
        delete_path(self.spark, self.marker_path)
        # reclaim staging orphans from hard-crashed remove() calls
        delete_path(self.spark, self.index_path + ".staging")
        self._commit_manifest({
            "centroids": centroids,
            "n_clusters": n_clusters,
            "seed": seed,
            "corpus_id": corpus_id,
            "quantize_bits": quantize_bits,
            # seeded at build (round 14) so remove()'s accounting and
            # the drift ratio never need a lazy backfill count
            "n_rows": n_rows,
            "n_added": 0,
            "n_removed": 0,
        }, expected=ver)
        return self

    def _manifest(self) -> dict:
        man = self._read_manifest_cas()[1]
        if man is None:
            raise FileNotFoundError(
                f"no IVF manifest for {self.index_path} — build() first"
            )
        return man

    def _manifest_cas(self) -> tuple[int | None, dict]:
        """(CAS token, manifest) for mutators — same not-built error
        as :meth:`_manifest`."""
        ver, man = self._read_manifest_cas()
        if man is None:
            raise FileNotFoundError(
                f"no IVF manifest for {self.index_path} — build() first"
            )
        return ver, man

    def centroids_df(self) -> DataFrame:
        """The index's frozen centroids as a ``(cluster_id, centroid)``
        DataFrame — the shape :func:`..dedup.semantic_dedup_pairs`
        accepts via its ``centroids=`` parameter, so one trained
        quantizer serves BOTH similarity search and semantic dedup
        (SemDeDup's own recipe: dedup within the k-means cells the
        index already paid to train). k rows of dim doubles —
        broadcast-scale by construction."""
        man = self._manifest()
        return self.spark.createDataFrame(
            [(i, list(map(float, c))) for i, c in enumerate(man["centroids"])],
            "cluster_id bigint, centroid array<double>",
        )

    #: default drift threshold for should_rebuild / the query() warning
    #: — past 20% incrementally-added rows, probe-ordering quality has
    #: measurably drifted for typical corpora (the FAISS add-vs-train
    #: rule of thumb). Callers with recall tests tune per index by
    #: setting ``idx.max_added_frac`` (consulted by BOTH should_rebuild
    #: and query()'s warning, so a validated policy silences the hot
    #: path too) or per call via the max_added_frac arguments.
    DEFAULT_MAX_ADDED_FRAC = 0.2

    #: per-instance override of DEFAULT_MAX_ADDED_FRAC (None = default)
    max_added_frac: float | None = None

    def _drift_threshold(self, override: float | None = None) -> float:
        if override is not None:
            return override
        if self.max_added_frac is not None:
            return self.max_added_frac
        return self.DEFAULT_MAX_ADDED_FRAC

    def should_rebuild(self, max_added_frac: float | None = None) -> bool:
        """The recall-drift contract of :meth:`add`, as a method
        (VERDICT r9 next-round #5): True when incrementally-added rows
        are no longer small relative to the index — cells have grown
        away from their frozen centroids and ``build()`` should be
        re-run. Logs the observed ratio either way so operators can
        chart drift; an index with no adds (or a pre-add manifest)
        never needs a rebuild."""
        import logging

        man = self._manifest()
        frac = self._added_frac(man)
        limit = self._drift_threshold(max_added_frac)
        logging.getLogger(__name__).info(
            "IVF index %s: n_added/n_rows = %.4f (threshold %.4f)",
            self.index_path, frac, limit,
        )
        return frac > limit

    @staticmethod
    def _added_frac(man: dict) -> float:
        n_rows = int(man.get("n_rows", 0))
        n_added = int(man.get("n_added", 0))
        return (n_added / n_rows) if n_rows > 0 else 0.0

    def query(
        self,
        queries: DataFrame,
        k: int = 10,
        query_id: str = "query_id",
        query_vec: str = "embedding",
        n_probe: int = 4,
    ) -> DataFrame:
        self._check_not_compacting("serving queries")
        man = self._manifest()
        frac = self._added_frac(man)
        limit = self._drift_threshold()
        if frac > limit:
            import warnings

            warnings.warn(
                f"IVF index {self.index_path}: {frac:.1%} of rows were "
                "added after the quantizer was fit — probe-ordering "
                "recall has drifted past the configured threshold "
                f"({limit:.0%}); rebuild with build() (results stay "
                "exact within probed cells), or set idx.max_added_frac "
                "to a recall-validated bound",
                stacklevel=2,
            )
        corpus_id = man["corpus_id"]
        assigned = self.spark.read.parquet(self.index_path)
        tomb = self._tombstones()
        if tomb is not None:
            # logical deletes (remove()): drop tombstoned vectors from
            # the SAME cell-pruned scan — post-remove results are EXACT
            # for the live corpus (identical to post-compact, pinned in
            # tests); no extra cells are read
            assigned = assigned.join(tomb, "_cid", "left_anti")
        probed = _probe_cells(
            queries, query_id, query_vec, man["centroids"], n_probe
        )
        cand = assigned.join(F.broadcast(probed), "_cell")
        if man.get("quantize_bits") is not None:
            # cosine is SCALE-invariant: cos(s*q, v) == cos(q, v) for
            # s > 0, and s == 0 means all-zero codes (NULL either
            # way) — score the raw codes and skip the per-candidate
            # dequantize multiply entirely (review round 12; the
            # transform would otherwise run inside both the dot and
            # norm folds of every probed-cell candidate)
            corpus_vec_col = F.col("_qcodes")
        else:
            corpus_vec_col = F.col("_cvec")
        scored = cand.select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            cosine(corpus_vec_col, F.col("_qvec")).alias("cos_sim"),
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("cos_sim").desc(), F.col(corpus_id).asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    def add(
        self,
        corpus: DataFrame,
        corpus_id: str | None = None,
        corpus_vec: str = "embedding",
        removed_ids: str = "error",
    ) -> int:
        """Incremental add (VERDICT r8 next-round #4): assign the new
        vectors to the EXISTING cells — ``_probe_cells`` with
        n_probe=1, i.e. each vector goes to its nearest frozen
        centroid — and append them to the matching cell partitions.
        No k-means refit, no rewrite of existing cells: cost is one
        pass over the NEW rows plus appends into the touched cell
        directories. Returns rows added and bumps ``n_rows`` /
        ``n_added`` in the manifest.

        Recall-drift contract: cells GROW but centroids never move, so
        after heavy adds a cell's contents can stray from its centroid
        and probe-ordering quality degrades — recall at fixed n_probe
        drifts DOWN as n_added/n_rows grows (the standard IVF serving
        trade-off; FAISS's add-vs-train distinction). Rebuild
        (``build()``) when :meth:`should_rebuild` says so — it checks
        the manifest's n_added/n_rows ratio against the documented
        threshold, and :meth:`query` warns past it (round 10); queries
        are exact *within probed cells* regardless, so only which
        cells are probed — never the rerank — is affected.

        Appended vectors are cast to the stored ``_cvec`` element type
        (the dtype contract pinned at build time): mixing
        array<float> and array<double> files under one parquet root
        would otherwise poison the read-side schema merge.

        ``removed_ids`` (round 14 — same three-policy contract as
        ``Bm25Index.add``, see its class docstring): a batch carrying
        a previously-:meth:`remove`d id cannot simply be appended
        while its tombstone is live — the tombstone would hide the new
        vector, and clearing it would resurrect the old one beside the
        new (the same id scored twice in every probed-cell rerank).
        ``"error"`` (default) raises; ``"skip"`` drops those rows and
        appends the rest; ``"readmit"`` runs :meth:`compact` first
        (the deletion becomes physical) and appends the whole batch.
        """
        if removed_ids not in ("error", "skip", "readmit"):
            raise ValueError(
                f"removed_ids must be error|skip|readmit, got {removed_ids!r}"
            )
        self._check_not_compacting("add()")
        ver, man = self._manifest_cas()
        corpus_id = corpus_id or man["corpus_id"]
        stored = self.spark.read.parquet(self.index_path).schema
        tomb = self._tombstones()
        if tomb is not None:
            clash_ids = corpus.select(
                F.col(corpus_id).cast(stored["_cid"].dataType).alias("_cid")
            )
            n_clash = clash_ids.join(tomb, "_cid", "left_semi").count()
            if n_clash and removed_ids == "error":
                raise ValueError(
                    f"{n_clash} vector id(s) in this batch were "
                    "previously remove()d — run compact() before "
                    "re-adding removed ids (a tombstone would "
                    "otherwise hide the new vectors, and clearing it "
                    "would resurrect the old ones), or pass "
                    "removed_ids='skip'/'readmit'"
                )
            if n_clash and removed_ids == "skip":
                corpus = corpus.join(
                    tomb.select(
                        F.col("_cid").cast(
                            corpus.schema[corpus_id].dataType
                        ).alias(corpus_id)
                    ),
                    corpus_id,
                    "left_anti",
                )
            if n_clash and removed_ids == "readmit":
                self.compact()
                ver, man = self._manifest_cas()
        routed = _probe_cells(
            corpus, corpus_id, corpus_vec, man["centroids"], n_probe=1
        )
        if man.get("quantize_bits") is not None:
            from ..functions.vectors import quantize_symmetric

            assigned = routed.select(
                F.col("_qid").cast(stored["_cid"].dataType).alias("_cid"),
                quantize_symmetric(
                    "_qvec", bits=int(man["quantize_bits"])
                ).alias("_qz"),
                "_cell",
            ).select(
                "_cid",
                F.col("_qz.scale").alias("_qscale"),
                F.col("_qz.q").alias("_qcodes"),
                "_cell",
            )
        else:
            assigned = routed.select(
                # BOTH stored columns are cast to the build-time types —
                # a long-id add into a string-id index (or double vectors
                # into float) would otherwise poison the parquet
                # schema merge for every later read (code-review r9)
                F.col("_qid").cast(stored["_cid"].dataType).alias("_cid"),
                F.col("_qvec").cast(stored["_cvec"].dataType).alias("_cvec"),
                "_cell",
            )
        # ONE realization: the batch count rides the append itself as
        # an observe() metric (round 20 — guide §1.4). This is strictly
        # tighter than the previous persist+count+write: the write IS
        # the only computation of the assignment, so a nondeterministic
        # source cannot double-assign between a count and a write, and
        # the cache materialization + count job are gone. An empty
        # batch appends zero rows (no part files), which is a no-op for
        # every reader.
        from pyspark.sql import Observation

        obs = Observation("ivf_add_rows")
        (
            assigned.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .partitionBy("_cell")
            .parquet(self.index_path)
        )
        n = int(obs.get["n"])
        if "n_rows" not in man:
            # first add against a pre-add manifest: seed the base count
            # from the index itself (one metadata-cheap count job) so
            # the drift ratio n_added/n_rows is meaningful
            man["n_rows"] = (
                self.spark.read.parquet(self.index_path).count() - n
            )
        man["n_rows"] = int(man["n_rows"]) + n
        man["n_added"] = int(man.get("n_added", 0)) + n
        self._commit_manifest(man, expected=ver)
        return n

    # -- delete (round 14 — the Bm25Index lifecycle, ported) ---------
    def remove(self, vec_ids) -> int:
        """Delete vectors from the SERVING index without a rebuild —
        the right-to-erasure path the ANN store was missing (VERDICT
        r13 next-round #2; the BM25 side landed in r13): append the
        LIVE subset of ``vec_ids`` to a tombstone sidecar
        (``<index>.tombstones``, a SIBLING of the cell tree);
        :meth:`query` anti-joins it on the same cell-pruned scan, so
        post-remove results are EXACT for the live corpus — identical
        to what :meth:`compact` later makes physical (equality pinned
        in tests; unlike a fresh ``build()``, which would refit
        k-means and probe different cells). The manifest's ``n_rows``
        is RE-DERIVED from index-minus-tombstones (not decremented),
        so a crash between the tombstone append and the manifest
        write heals on the next call. Removing rows RAISES the
        ``n_added/n_rows`` drift ratio (the denominator shrinks) —
        conservative: rebuild advice fires earlier, never later.

        The id batch is STAGED to parquet before use (the Bm25Index
        discipline): a nondeterministic ``vec_ids`` plan cannot
        tombstone one realization and account another.

        ``vec_ids``: a list of ids or a single-column DataFrame.
        Idempotent — ids already removed (or never present) are
        ignored. Returns the number of vectors newly removed."""
        import uuid

        from ..fsutil import delete_path

        self._check_not_compacting("remove()")
        ver, man = self._manifest_cas()
        stored = self.spark.read.parquet(self.index_path)
        if not isinstance(vec_ids, DataFrame):
            ids = self.spark.createDataFrame(
                [(i,) for i in vec_ids],
                StructType([stored.schema["_cid"]]),
            )
        else:
            ids = vec_ids.select(
                F.col(vec_ids.columns[0])
                .cast(stored.schema["_cid"].dataType)
                .alias("_cid")
            )
        live = stored.select("_cid").join(ids.distinct(), "_cid", "left_semi")
        tomb = self._tombstones()
        if tomb is not None:
            live = live.join(tomb, "_cid", "left_anti")
        staging = f"{self.index_path}.staging/remove_{uuid.uuid4().hex}"
        try:
            # the newly-removed count rides the staging write (round 20
            # — guide §1.4): one job instead of write + count
            from pyspark.sql import Observation

            obs = Observation("ivf_remove_count")
            (
                live.observe(obs, F.count(F.lit(1)).alias("k"))
                .write.mode("overwrite")
                .parquet(staging)
            )
            k = int(obs.get["k"])
            if k > 0:
                self.spark.read.parquet(staging).write.mode(
                    "append"
                ).parquet(self.tombstones_path)
        finally:
            delete_path(self.spark, staging)
        # manifest DERIVED from authoritative state (index minus
        # tombstones): self-healing under interrupted earlier calls.
        # ONE index scan computes live AND tombstoned counts (round 14
        # — the anti-join + count pair scanned the cell tree twice)
        rows_all = self.spark.read.parquet(self.index_path).select("_cid")
        tomb_now = self._tombstones()
        if tomb_now is None:
            flagged = rows_all.withColumn("_t", F.lit(None).cast("int"))
        else:
            flagged = rows_all.join(
                tomb_now.select("_cid", F.lit(1).alias("_t")).distinct(),
                "_cid",
                "left",
            )
        n_live, n_removed = flagged.select(
            F.count(F.when(F.col("_t").isNull(), 1)).alias("n"),
            F.count("_t").alias("r"),
        ).first()
        self._commit_manifest({
            **man,
            "n_rows": int(n_live),
            "n_removed": int(n_removed),
        }, expected=ver)
        return int(k)

    def compact(self) -> int:
        """Apply the tombstones physically: rewrite the cell tree
        without the removed vectors and drop the tombstone sidecar.
        Query results are IDENTICAL before and after (the pinned
        equality) — this reclaims bytes and removes the per-query
        anti-join, it never changes scores or probe routing (the
        centroids are untouched). Returns the number of tombstones
        applied. Cost: one full index rewrite — run like any
        compaction job, when the tombstone fraction warrants.

        Crash safety: same protocol as ``Bm25Index.compact`` — a
        marker refuses query/add/remove mid-swap, the rewrite lands
        via ``fsutil.swap_dir_into_place`` (rename-aside: a complete
        copy of the index exists on disk at every instant), and
        re-entry converges from any interruption point
        (``recover_dir_swap`` + idempotent anti-join)."""
        from ..fsutil import (
            SWAP_NEW,
            delete_path,
            recover_dir_swap,
            swap_dir_into_place,
            write_json_manifest,
        )

        recover_dir_swap(self.spark, self.index_path)
        # maintenance pass: reclaim staging orphans from hard-crashed
        # remove() calls (mutators refuse while the marker exists)
        delete_path(self.spark, self.index_path + ".staging")
        tomb = self._tombstones()
        if tomb is None:
            if self._dir_exists(self.marker_path):
                # crashed AFTER dropping tombstones: swap complete —
                # finish the cleanup so the index serves again
                delete_path(self.spark, self.marker_path)
            ver0, man0 = self._manifest_cas()
            if int(man0.get("n_removed", 0)) != 0:
                # heal the bookkeeping too (review round 14): a crash
                # between the tombstone drop and the manifest reset
                # would otherwise pin should_compact() True forever
                man0["n_removed"] = 0
                self._commit_manifest(man0, expected=ver0)
            return 0
        n_tomb = tomb.count()
        ver, man = self._manifest_cas()
        live = self.spark.read.parquet(self.index_path).join(
            tomb, "_cid", "left_anti"
        )
        # guard BEFORE any destructive step: an all-removed index
        # would leave an empty partitioned dir that cannot be re-read
        if live.limit(1).count() == 0:
            raise ValueError(
                "compact() would leave zero vectors (every row is "
                "tombstoned) — an empty partitioned layout is "
                "unreadable; keep serving via tombstones or rebuild "
                "with build() on the live corpus"
            )
        write_json_manifest(self.spark, self.marker_path, {
            "n_tombstones": int(n_tomb),
        })
        # last cheap exit before the destructive swap (review round
        # 16, mirroring Bm25Index.compact): a writer that committed
        # during the live-count above raises HERE, index untouched
        self._verify_manifest_unmoved(ver)
        live.write.mode("overwrite").partitionBy("_cell").parquet(
            self.index_path + SWAP_NEW
        )
        swap_dir_into_place(self.spark, self.index_path)
        delete_path(self.spark, self.tombstones_path)
        self._commit_compact_manifest({
            **man,
            "n_removed": 0,  # tombstones are now physical deletions
        }, expected=ver)
        delete_path(self.spark, self.marker_path)
        return int(n_tomb)
