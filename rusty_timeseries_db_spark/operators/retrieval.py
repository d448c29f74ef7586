"""Lexical retrieval over a document corpus — BM25 scoring.

The retrieval face of the LLM-data toolbox (SURVEY §2.2 text-analysis
family): dedup finds what's identical, similarity search finds what's
semantically near, BM25 finds what's lexically RELEVANT to a query —
the candidate generator for RAG corpora, eval-set mining, and targeted
decontamination sweeps. No reference analog (main.rs is numeric
telemetry only).

Everything is declarative DataFrame ops on the Okapi BM25 formula
(Robertson & Zaragoza 2009), Lucene's +1 idf flavor so scores stay
non-negative:

    idf(t)    = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(d)  = Σ_t idf(t) · tf · (k1 + 1) / (tf + k1·(1 − b + b·dl/avgdl))

Scale shape (the 100 TB story):

- per-doc term frequencies explode ONLY query-matching tokens — the
  token array is HOF-filtered against the (tiny, literal) term set
  BEFORE the explode, so the fan-out is O(matches), not O(corpus
  tokens); non-matching docs contribute zero rows;
- ``N``/``avgdl`` are a 1-row aggregate riding a constant-key
  broadcast equi-join (attach-scalar shape), and the per-term
  document frequencies are a ≤|terms|-row aggregate joined back
  BROADCAST — the "model" (idf table) travels to the data;
- top-k is ``ORDER BY score LIMIT k`` → TakeOrderedAndProject
  (per-partition heaps + a k-row driver merge), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .dedup import word_tokens


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    score_decimals: int = 6,
) -> DataFrame:
    """Top-``k`` documents by Okapi BM25 against ``query_terms``
    (lowercased, matched whole-token). Returns ``(id, n_terms_hit,
    bm25)`` sorted by score descending, ties broken by id — a total
    order, so the selected SET is engine-reproducible and
    oracle-checkable. Scores round at ``score_decimals`` only after
    the final per-doc sum (the summand count is ≤ |terms|, so
    cross-engine summation-order drift stays under the rounding)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    terms_arr = F.array(*[F.lit(t) for t in terms])

    base = df.select(
        F.col(id_col),
        F.size(word_tokens(text_col)).cast("double").alias("_dl"),
        # shrink BEFORE exploding: only query-term occurrences fan out
        F.filter(
            word_tokens(text_col),
            lambda t: F.array_contains(terms_arr, t),
        ).alias("_hits"),
    )
    tf = (
        base.select(id_col, "_dl", F.explode("_hits").alias("_t"))
        .groupBy(id_col, "_dl", "_t")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    # corpus stats: one row, broadcast to the (already small) tf rows
    stats = df.select(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg(F.size(word_tokens(text_col))).alias("_avgdl"),
    )
    from ..queries import attach_scalar

    # per-term document frequency over the matched docs only (a term
    # absent from a doc contributes no tf row, exactly BM25's sum)
    dfreq = tf.groupBy("_t").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    scored = (
        attach_scalar(tf, stats)
        .join(F.broadcast(dfreq), "_t")
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * F.col("_tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("_tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("_dl") / F.col("_avgdl")
                )
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.round(F.sum("_s"), score_decimals).alias("bm25"),
        )
    )
    return (
        scored.orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "n_terms_hit", "bm25")
    )


# ---------------------------------------------------- persisted index

def _term_shard_col(term_col, n_shards: int):
    """Shard id of a term — md5-prefix mod, NOT xxhash64: the query
    path must compute the same shard for its literal terms DRIVER-side
    (plain ``hashlib.md5``, :func:`_term_shard_py`) to prune
    partitions without running a Spark job first, and xxhash64 has no
    stdlib Python twin. Delegates to the canonical
    :func:`..sampling.hash_bucket` (same arithmetic, salt="") so the
    engine has exactly ONE md5-bucket implementation."""
    from .sampling import hash_bucket

    return hash_bucket(term_col, n_shards)


def _term_shard_py(term: str, n_shards: int) -> int:
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_shards


from .index_common import IndexLifecycleMixin


class Bm25Index(IndexLifecycleMixin):
    """Persisted BM25 postings index (the :class:`..similarity.IvfIndex`
    precedent):
    :func:`bm25_topk` recomputes N/avgdl/df and re-tokenizes the whole
    corpus on EVERY call — the right shape for a one-shot analytic,
    corpus-sized work per query for a serving deployment. Build ONCE —

    - ``postings/``: one row per (term, doc) with the term frequency
      and the doc length, parquet PARTITIONED BY ``_shard`` (md5 of
      the term mod ``n_shards``);
    - ``terms/``: one row per (term, df-contribution), same sharding;
    - a JSON manifest beside the directory (shared Hadoop-FS helpers,
      so the index can live on object storage) holding N / total doc
      length / ``n_shards``

    — then every query is INDEX-sized work: the driver computes its
    literal terms' shards with plain ``hashlib.md5`` (same function
    the build wrote, see ``_term_shard_col``) and reads ONLY those
    shard directories (partition pruning), with ``term IN (...)``
    pushed into the parquet scan inside them; df/idf come from the
    pruned ``terms/`` rows; scoring + top-k are the exact
    :func:`bm25_topk` arithmetic, so results are EQUAL BY CONSTRUCTION
    to the ad-hoc operator (pinned in tests/test_retrieval.py and the
    q_bm25_index driver slot, whose oracle is the same DuckDB BM25
    SQL).

    :meth:`add` appends new docs' postings and per-term df DELTAS
    (the query path sums df rows per term, so a term's df may be
    spread over several rows) and bumps the manifest — O(new docs),
    no rewrite of existing shards, exact results after (BM25 has no
    quantizer, so unlike IVF there is no recall drift to watch).

    Writer contract: ONE writer at a time per index — now ENFORCED
    staging dirs are per-call
    (a concurrent build/add cannot interleave staged batches), and the
    manifest commit is a compare-and-swap
    (``IndexLifecycleMixin._commit_manifest``): a mutator whose
    manifest snapshot was overtaken by another writer raises
    ``fsutil.ManifestVersionConflict`` instead of silently losing the
    other's N/sum_dl bump (pinned by the concurrent-add test). The
    streaming sink (streaming/index.py) is the supported
    concurrent-ingest path — it serializes adds per micro-batch.

    Removed-id re-admission (the two doors, documented in ONE place):
    a doc id that was :meth:`remove`d cannot
    simply be re-added while its tombstone is live — the tombstone
    would hide the new postings, and clearing it would resurrect the
    old, still-physical postings alongside the new (a double-counted
    doc). What happens when a batch carries such an id is the
    ``removed_ids`` policy, accepted by BOTH entry paths
    (:meth:`add` here and the streaming sink's ``apply_bm25_batch``):

    - ``"error"`` (batch default): raise — the operator decides;
    - ``"skip"`` (streaming default): drop those rows, apply the
      rest — a stream cannot raise its way out (a raise would fail
      the same micro-batch on every restart, a permanent poison
      pill), and erasure semantics usually WANT a re-published
      removed doc kept out until re-admitted deliberately;
    - ``"readmit"``: make the deletion physical FIRST (:meth:`compact`
      — tombstones drop, old postings are gone), then add the whole
      batch. Re-admission is thereby compaction-gated: exact scores,
      no resurrection, at the documented cost of one index rewrite
      when a clash is actually present (no clash → no compaction).
    """

    #: manifest key of the live doc count (IndexLifecycleMixin)
    _ROWS_FIELD = "n_docs"
    _LABEL = "BM25"
    _PARTS = ("postings", "terms", "docs", "tombstones")

    def __init__(self, spark, index_path: str):
        self.spark = spark
        self.index_path = index_path.rstrip("/")

    def _gen0_path(self, part: str) -> str:
        return f"{self.index_path}/{part}"

    # -- build -------------------------------------------------------
    def _stage_docs(
        self, corpus: DataFrame, id_col: str, text_col: str
    ) -> tuple[DataFrame, str, int, float]:
        """Freeze the batch as ``(doc, token array)`` parquet under a
        PER-CALL dir ``<index>/_staging/<uuid>`` and read it back.
        Every downstream derivation — stats, postings, df deltas —
        then comes from ONE materialization, so a NONDETERMINISTIC
        source (a seedless ``sample()``, a re-listed stream directory)
        cannot write postings that disagree with the stats/df recorded
        beside them (the same reason IvfIndex.add
        materializes its cell assignment before appending). The dir is
        unique per call — a fixed path would let two concurrent
        writers silently interleave staged batches —
        and the CALLER deletes it after its last action over the
        staged rows.

        Lifecycle job cuts (guide §1.4): the batch stats (doc count, total
        token length) ride the
        staging write itself as an ``observe()`` metric instead of a
        separate ``_staged_stats`` pass — same rows by construction
        (the observation is computed on exactly the frame written).
        Returns ``(staged df, staging path, n, sum_dl)``;
        batch-sized, not corpus-sized."""
        import uuid

        from pyspark.sql import Observation

        staging = f"{self.index_path}/_staging/{uuid.uuid4().hex}"
        obs = Observation("bm25_stage_stats")
        (
            corpus.select(
                F.col(id_col).alias("_doc"),
                word_tokens(text_col).alias("_ws"),
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.size("_ws").cast("double")), F.lit(0.0)
                ).alias("s"),
            )
            .write.mode("overwrite")
            .parquet(staging)
        )
        got = obs.get
        return (
            self.spark.read.parquet(staging),
            staging,
            int(got["n"]),
            float(got["s"]),
        )

    @staticmethod
    def _parallel_writes(*thunks) -> None:
        """Run independent write jobs concurrently (guide §2.6): the
        postings / terms / docs writes
        all derive from the SAME frozen staging parquet and target
        disjoint directories, so submitting them from a small thread
        pool overlaps their per-job scheduling floors instead of
        paying them sequentially. Exceptions propagate (first one
        raised after all threads finish — no write is silently
        dropped); the caller's try/finally staging cleanup semantics
        are unchanged."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
            futures = [pool.submit(t) for t in thunks]
            errs = [
                f.exception() for f in futures if f.exception() is not None
            ]
        if errs:
            raise errs[0]


    @staticmethod
    def _postings_from_staged(staged: DataFrame, n_shards: int) -> DataFrame:
        return (
            staged.select(
                "_doc",
                F.size("_ws").cast("double").alias("dl"),
                F.explode("_ws").alias("term"),
            )
            .groupBy("term", "_doc", "dl")
            .agg(F.count(F.lit(1)).cast("double").alias("tf"))
            # per-doc cosine norm² for nnc TF-IDF scoring (query_tfidf): Σ
            # tf² over ALL the doc's terms, duplicated
            # per posting exactly like dl. Raw-tf (nnc) on purpose: it
            # is an EXACT INTEGER (engine-reproducible, no ln() ulp
            # drift) and df-independent, so incremental add() can
            # never stale it the way an idf-weighted (lnc/ltc) doc
            # norm would go stale when df moves.
            .withColumn(
                "tfn2",
                F.sum(F.col("tf") * F.col("tf")).over(
                    Window.partitionBy("_doc")
                ),
            )
            .select(
                "term",
                F.col("_doc").alias("doc"),
                "tf",
                "dl",
                "tfn2",
                _term_shard_col(F.col("term"), n_shards).alias("_shard"),
            )
        )

    @staticmethod
    def _staged_stats(staged: DataFrame) -> tuple[int, float]:
        n, sum_dl = staged.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.size("_ws").cast("double")), F.lit(0.0)
            ).alias("s"),
        ).first()
        return int(n), float(sum_dl)

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_shards: int = 32,
    ) -> "Bm25Index":
        from ..fsutil import delete_path

        # CAS token from BEFORE any work: a writer interleaving with
        # this build conflicts at the commit instead of being clobbered
        ver, old = self._read_manifest_cas()
        staged, staging, n, sum_dl = self._stage_docs(
            corpus, id_col, text_col
        )
        try:
            # corpus stats count EVERY doc (a token-less doc has no
            # posting but still dilutes avgdl); observed ON the staging
            # write (guide §1.4) and still checked BEFORE
            # the postings land (an all-empty partitioned write would
            # leave nothing to re-read for df)
            if n == 0 or sum_dl == 0.0:
                raise ValueError(
                    "Bm25Index.build needs a corpus with at least one "
                    "token (stream increments join via add()/the "
                    "streaming index sink)"
                )
            post = self._postings_from_staged(staged, n_shards)
            # df from the same staged-derived postings expression the
            # written files came from — `staged` is a materialized
            # parquet freeze, so this describes EXACTLY the rows just
            # written (the add() df-delta has always been derived this
            # way); skips a full re-read
            # (listing + footers + decode) of the postings dir
            terms = (
                post.groupBy("term")
                .agg(F.count(F.lit(1)).cast("double").alias("df"))
                .withColumn(
                    "_shard", _term_shard_col(F.col("term"), n_shards)
                )
            )
            # the three writes are independent derivations of the
            # frozen staging parquet into disjoint dirs — overlapped
            # (guide §2.6; the docs/ sidecar is the deletion story:
            # remove() needs each doc's length to
            # decrement sum_dl exactly, token-less docs included)
            def write(root):
                delete_path(self.spark, root("tombstones"))
                self._parallel_writes(
                    lambda: (
                        post.write.mode("overwrite")
                        .partitionBy("_shard")
                        .parquet(root("postings"))
                    ),
                    lambda: (
                        terms.write.mode("overwrite")
                        .partitionBy("_shard")
                        .parquet(root("terms"))
                    ),
                    lambda: (
                        staged.select(
                            F.col("_doc").alias("doc"),
                            F.size("_ws").cast("double").alias("dl"),
                        ).write.mode("overwrite").parquet(root("docs"))
                    ),
                )

            # a first build writes generation 0; a rebuild switches to
            # a new generation, so the old one serves until the commit
            self._switch_generation(ver, {
                "n_docs": n,
                "sum_dl": sum_dl,
                "n_shards": n_shards,
                "id_col": id_col,
                "n_added": 0,
                "n_removed": 0,
                # feature flag: remove() requires the per-doc sidecar
                # this build wrote — an index without it must rebuild
                # to delete
                "docs_sidecar": True,
                # feature flag: query_tfidf() requires the per-doc tfn2
                # norms in postings — an index without them must
                # rebuild to serve cosine scoring
                "tfn2": True,
            }, write, fresh=old is None)
        finally:
            delete_path(self.spark, staging)
        # reclaim staging orphans from hard-crashed earlier calls
        # (each call's try/finally cleans its OWN dir, but kill -9
        # between write and finally strands one)
        delete_path(self.spark, self.index_path + "/_staging")
        return self

    # -- serve -------------------------------------------------------
    def _pruned(self, terms: list[str], man: dict):
        """The shared serving scan (query / query_tfidf): shard-pruned
        postings + live per-term df for ``terms``. ≤|terms| of
        ``n_shards`` partitions are listed at all, ``term IN`` pushes
        into the parquet scans inside them; tombstoned docs (remove())
        are anti-joined out of the candidates AND their df
        contribution subtracted — both from the SAME pruned scan, so
        deletion costs no extra shards and scores stay EXACT for the
        live corpus (compact() later makes it physical without
        changing results)."""
        n_shards = int(man["n_shards"])
        shards = sorted({_term_shard_py(t, n_shards) for t in terms})
        post = (
            self.spark.read.parquet(self._path(man, "postings"))
            .filter(F.col("_shard").isin(shards) & F.col("term").isin(terms))
        )
        dfreq = (
            self.spark.read.parquet(self._path(man, "terms"))
            .filter(F.col("_shard").isin(shards) & F.col("term").isin(terms))
            # add() appends df DELTA rows — a term's df is the sum
            .groupBy("term")
            .agg(F.sum("df").alias("_df"))
        )
        tomb = self._tombstones(man)
        if tomb is not None:
            dead_df = (
                post.join(tomb, "doc", "left_semi")
                .groupBy("term")
                .agg(F.count(F.lit(1)).cast("double").alias("_df_dead"))
            )
            dfreq = (
                dfreq.join(dead_df, "term", "left")
                .select(
                    "term",
                    (
                        F.col("_df")
                        - F.coalesce(F.col("_df_dead"), F.lit(0.0))
                    ).alias("_df"),
                )
            )
            post = post.join(tomb, "doc", "left_anti")
        return post, dfreq

    def query_tfidf(
        self,
        query_terms: list[str],
        k: int = 50,
        score_decimals: int = 6,
    ) -> DataFrame:
        """TF-IDF COSINE top-``k`` over the same persisted index —
        SMART ``nnc.ltc`` (Salton & Buckley): the doc vector is raw
        term frequency with a cosine norm over ALL the doc's terms;
        the query vector is the (deduplicated) terms weighted by the
        Lucene idf ``ln(1 + (N - df + 0.5)/(df + 0.5))`` — the exact
        idf :meth:`query` uses, so the two scorers share df
        bookkeeping, tombstone handling, and shard pruning
        (``_pruned``).

        Returns ``(<id_col>, n_terms_hit, cosine)`` with cosine in
        [0, 1], 6-dp rounded, ties broken on the id.

        Why nnc on the doc side (and not lnc): the norm must be
        STORED per doc (recomputing it would read the whole postings
        set per query). Raw-tf norms are exact integers — engine-
        reproducible with no ``ln()`` last-ulp drift — and
        df-INDEPENDENT, so :meth:`add`'s incremental appends and
        :meth:`remove`'s df adjustments can never stale them; an
        idf-weighted doc norm would go stale on every df change.
        The stored ``tfn2`` rides in the postings rows like ``dl``
        (indexes without it must rebuild — manifest flag).

        Same serving cost model as :meth:`query`: work bounded by the
        probed shards' bytes. The query-side norm is a ≤|terms|-row
        aggregate over the broadcast idf table, attached via the
        1-row crossJoin (attach-scalar shape) — no extra scan.
        """
        if not query_terms:
            raise ValueError("query_terms must be non-empty")
        man = self._manifest()
        if not man.get("tfn2"):
            raise ValueError(
                "this index predates the per-doc tfn2 norms (round "
                "14) — query_tfidf needs them; rebuild with build()"
            )
        n_docs = float(man["n_docs"])
        terms = sorted({t.lower() for t in query_terms})
        post, dfreq = self._pruned(terms, man)
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("_df") + F.lit(0.5))
            / (F.col("_df") + F.lit(0.5))
        )
        # df can hit 0 after deletes — such a term matches no live doc
        # and must not poison the query norm
        weights = dfreq.filter(F.col("_df") > 0).select(
            "term", idf.alias("_wq")
        )
        qnorm = weights.agg(
            F.sqrt(F.sum(F.col("_wq") * F.col("_wq"))).alias("_qn")
        )
        scored = (
            post.join(F.broadcast(weights), "term")
            .crossJoin(F.broadcast(qnorm))
            .withColumn(
                "_s",
                F.col("tf")
                * F.col("_wq")
                / (F.sqrt(F.col("tfn2")) * F.col("_qn")),
            )
            .groupBy("doc")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
                F.round(F.sum("_s"), score_decimals).alias("cosine"),
            )
        )
        id_col = man.get("id_col", "doc_id")
        return (
            scored.orderBy(F.col("cosine").desc(), F.col("doc"))
            .limit(k)
            .select(F.col("doc").alias(id_col), "n_terms_hit", "cosine")
        )

    def query(
        self,
        query_terms: list[str],
        k: int = 50,
        k1: float = 1.2,
        b: float = 0.75,
        score_decimals: int = 6,
    ) -> DataFrame:
        """Top-``k`` docs for ``query_terms`` — same contract (and, by
        construction, same values) as :func:`bm25_topk`; returns
        ``(<id_col>, n_terms_hit, bm25)``. Work is bounded by the
        probed shards' bytes: ≤ |terms| of ``n_shards`` partitions are
        listed at all, and the ``term IN`` predicate pushes into the
        parquet scans inside them."""
        if not query_terms:
            raise ValueError("query_terms must be non-empty")
        man = self._manifest()
        n_docs = float(man["n_docs"])
        avgdl = man["sum_dl"] / n_docs if n_docs > 0 else 0.0
        terms = sorted({t.lower() for t in query_terms})
        post, dfreq = self._pruned(terms, man)
        scored = (
            post.join(F.broadcast(dfreq), "term")
            .withColumn(
                "_idf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(n_docs) - F.col("_df") + F.lit(0.5))
                    / (F.col("_df") + F.lit(0.5))
                ),
            )
            .withColumn(
                "_s",
                F.col("_idf")
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                ),
            )
            .groupBy("doc")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
                F.round(F.sum("_s"), score_decimals).alias("bm25"),
            )
        )
        id_col = man.get("id_col", "doc_id")
        return (
            scored.orderBy(F.col("bm25").desc(), F.col("doc"))
            .limit(k)
            .select(
                F.col("doc").alias(id_col), "n_terms_hit", "bm25"
            )
        )

    # -- maintain ----------------------------------------------------
    def add(
        self,
        corpus: DataFrame,
        id_col: str | None = None,
        text_col: str = "text",
        removed_ids: str = "error",
    ) -> int:
        """Append new docs — postings rows into their shard
        directories, per-term df DELTA rows into ``terms/``, manifest
        N/sum_dl bumped. Cost is one pass over the NEW rows only (the
        batch is staged once — see ``_stage_docs`` — so the appended
        postings, the df deltas and the stats bump all describe the
        SAME rows even for a nondeterministic source).
        Caller contract: doc ids must be new (re-adding a LIVE id
        would double-count it, as in any postings append).

        ``removed_ids`` — the policy when the batch carries a
        previously-:meth:`remove`d id (see the class docstring for the
        full rationale; the streaming sink accepts the same knob):
        ``"error"`` raises, ``"skip"`` drops those rows and applies
        the rest, ``"readmit"`` runs :meth:`compact` first (making the
        deletion physical so re-insertion is clean) and then adds the
        whole batch."""
        from ..fsutil import delete_path

        if removed_ids not in ("error", "skip", "readmit"):
            raise ValueError(
                f"removed_ids must be error|skip|readmit, got {removed_ids!r}"
            )
        ver, man = self._manifest_cas()
        id_col = id_col or man.get("id_col", "doc_id")
        n_shards = int(man["n_shards"])
        staged, staging, n, sum_dl = self._stage_docs(
            corpus, id_col, text_col
        )
        try:
            tomb = self._tombstones(man)
            if tomb is not None:
                n_clash = staged.select(F.col("_doc").alias("doc")).join(
                    tomb, "doc", "left_semi"
                ).count()
                if n_clash and removed_ids == "error":
                    raise ValueError(
                        f"{n_clash} doc id(s) in this batch were "
                        "previously remove()d — run compact() before "
                        "re-adding removed ids (a tombstone would "
                        "otherwise hide the new rows, and clearing it "
                        "would resurrect the old ones), or pass "
                        "removed_ids='skip'/'readmit'"
                    )
                if n_clash and removed_ids == "skip":
                    staged = staged.join(
                        tomb.select(F.col("doc").alias("_doc")),
                        "_doc",
                        "left_anti",
                    )
                    # the skip filter changed the applied row set, so
                    # the staging write's observed stats no longer
                    # describe it — recompute on the filtered frame
                    n, sum_dl = self._staged_stats(staged)
                if n_clash and removed_ids == "readmit":
                    # compaction-gated re-admission: tombstones become
                    # physical deletions, then the batch adds cleanly;
                    # the manifest re-read picks up compact()'s state.
                    # _sweep_staging=False: THIS call's staged batch
                    # lives under _staging/ and must survive the
                    # maintenance sweep
                    self.compact(_sweep_staging=False)
                    ver, man = self._manifest_cas()
            if n == 0:
                return 0
            post = self._postings_from_staged(staged, n_shards)
            delta = (
                post.groupBy("term")
                .agg(F.count(F.lit(1)).cast("double").alias("df"))
                .withColumn(
                    "_shard", _term_shard_col(F.col("term"), n_shards)
                )
            )
            # independent appends into disjoint dirs, overlapped
            # (guide §2.6 — same shape as build()); no
            # sidecar append on an index without one: a PARTIAL sidecar
            # would let remove() silently miss old docs
            writes = [
                lambda: (
                    post.write.mode("append")
                    .partitionBy("_shard")
                    .parquet(self._path(man, "postings"))
                ),
                lambda: (
                    delta.write.mode("append")
                    .partitionBy("_shard")
                    .parquet(self._path(man, "terms"))
                ),
            ]
            if man.get("docs_sidecar"):
                writes.append(
                    lambda: (
                        staged.select(
                            F.col("_doc").alias("doc"),
                            F.size("_ws").cast("double").alias("dl"),
                        ).write.mode("append").parquet(self._path(man, "docs"))
                    )
                )
            self._parallel_writes(*writes)
        finally:
            delete_path(self.spark, staging)
        self._commit_manifest({
            **man,
            "n_docs": int(man["n_docs"]) + n,
            "sum_dl": float(man["sum_dl"]) + sum_dl,
            "n_added": int(man.get("n_added", 0)) + n,
        }, expected=ver)
        return n

    # -- delete ------------------------------------------------------
    def remove(self, doc_ids) -> int:
        """Delete documents from the SERVING index without a rebuild
        (the GDPR/right-to-erasure story a corpus index
        needs): append the LIVE subset of ``doc_ids`` to a tombstone
        list; the manifest's N / total-doc-length are then RE-DERIVED
        from the docs-sidecar-minus-tombstones state (not
        decremented), so a crash between the tombstone append and the
        manifest write heals on the next remove() call — the
        documented at-least-once retry really is safe. No postings
        shard is rewritten; :meth:`query` subtracts tombstoned rows
        from both the candidate set AND the per-term df inside the
        shards it was already reading, so post-remove scores are
        EXACT for the live corpus (pinned against a fresh build of
        the live subset in tests). :meth:`compact` later makes the
        deletion physical.

        The id batch is STAGED to parquet before use (the
        ``_stage_docs`` discipline): a nondeterministic ``doc_ids``
        plan cannot tombstone one realization and account another.

        ``doc_ids``: a list of ids or a single-column DataFrame.
        Idempotent: ids already removed (or never present) are
        ignored. Returns the number of docs newly removed. Requires
        the ``docs/`` sidecar (raises on an index built by an
        older build() — rebuild to enable deletion; a partial sidecar
        would silently miss pre-upgrade docs)."""
        from ..fsutil import delete_path

        ver, man = self._manifest_cas()
        if not man.get("docs_sidecar"):
            raise ValueError(
                "this index predates the per-doc docs/ sidecar "
                "(round 13) — remove() needs it for exact N/avgdl "
                "accounting; rebuild with build() to enable deletion"
            )
        docs_path = self._path(man, "docs")
        if not isinstance(doc_ids, DataFrame):
            docs_schema = self.spark.read.parquet(docs_path).schema
            ids = self.spark.createDataFrame(
                [(i,) for i in doc_ids],
                StructType([docs_schema["doc"]]),
            )
        else:
            ids = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc"))
        live = self.spark.read.parquet(docs_path).join(
            ids.distinct(), "doc", "left_semi"
        )
        tomb = self._tombstones(man)
        if tomb is not None:
            live = live.join(tomb, "doc", "left_anti")
        # STAGE the resolved id set (per-call dir, same rationale as
        # _stage_docs), then do everything from the frozen copy — one
        # realization tombstones AND accounts
        import uuid

        from pyspark.sql import Observation

        staging = f"{self.index_path}/_staging/remove_{uuid.uuid4().hex}"
        # the newly-removed count rides the staging write (guide §1.4): it
        # counts exactly the frozen rows, one job
        # instead of write + count
        obs = Observation("bm25_remove_count")
        (
            live.select("doc")
            .observe(obs, F.count(F.lit(1)).alias("k"))
            .write.mode("overwrite")
            .parquet(staging)
        )
        try:
            k = int(obs.get["k"])
            if k > 0:
                self.spark.read.parquet(staging).write.mode(
                    "append"
                ).parquet(self._path(man, "tombstones"))
        finally:
            delete_path(self.spark, staging)
        # manifest DERIVED from authoritative state (docs minus
        # tombstones): self-healing under interrupted earlier calls.
        # ONE docs-sidecar scan computes live count, live length sum
        # AND the tombstoned count (the anti-join + count
        # pair scanned the sidecar twice)
        docs_all = self.spark.read.parquet(docs_path)
        tomb_now = self._tombstones(man)
        if tomb_now is None:
            flagged = docs_all.withColumn("_t", F.lit(None).cast("int"))
        else:
            flagged = docs_all.join(
                tomb_now.select("doc", F.lit(1).alias("_t")).distinct(),
                "doc",
                "left",
            )
        n_live, dl_live, n_removed = flagged.select(
            F.count(F.when(F.col("_t").isNull(), 1)).alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("_t").isNull(), F.col("dl"))), F.lit(0.0)
            ).alias("s"),
            F.count("_t").alias("r"),
        ).first()
        self._commit_manifest({
            **man,
            "n_docs": int(n_live),
            "sum_dl": float(dl_live),
            "n_removed": int(n_removed),
        }, expected=ver)
        return int(k)

    def compact(self, _sweep_staging: bool = True) -> int:
        """Apply the tombstones physically: rewrite ``postings/`` and
        ``docs/`` without the removed docs, recompute ``terms/`` from
        the rewritten postings (exact df, folding every add()-era
        delta row too), with no tombstones. Query results are
        IDENTICAL before and after (equality pinned in tests) — this
        reclaims bytes and removes the per-query tombstone join, it
        never changes scores. Returns the number of tombstones
        applied. Cost: one full index rewrite — run it like any
        compaction job, when the tombstone fraction warrants.

        Crash safety: the rewrite is a new generation committed by
        the manifest switch (``IndexLifecycleMixin``), so every step
        before the commit leaves the old generation served and every
        step after it leaves the new one served; re-running compact()
        converges from any interruption point and sweeps what a crash
        left behind."""
        from ..fsutil import delete_path

        # compact() is the maintenance pass: reclaim staging orphans
        # from hard-crashed add()/remove() calls. _sweep_staging=False
        # only when add()'s readmit path invokes compact() mid-call —
        # ITS OWN staged batch lives here and must survive.
        if _sweep_staging:
            delete_path(self.spark, self.index_path + "/_staging")
        ver, man = self._manifest_cas()
        tomb = self._tombstones(man)
        if tomb is None:
            self._sweep(int(man.get("generation", 0)))
            return 0
        n_tomb = tomb.count()
        n_shards = int(man["n_shards"])
        postings = self.spark.read.parquet(self._path(man, "postings"))
        # guard BEFORE writing: an all-removed index would leave an
        # empty partitioned postings dir that cannot be re-read (the
        # build()-documented hazard) — keep serving via tombstones
        # instead and tell the caller the honest fix
        if postings.join(tomb, "doc", "left_anti").limit(1).count() == 0:
            raise ValueError(
                "compact() would leave zero postings (every posting-"
                "bearing doc is tombstoned) — an empty partitioned "
                "layout is unreadable; keep serving via tombstones or "
                "rebuild with build() on the live corpus"
            )

        def write(root):
            postings.join(tomb, "doc", "left_anti").write.mode(
                "overwrite"
            ).partitionBy("_shard").parquet(root("postings"))
            # terms rebuilt from the REWRITTEN postings — one pass,
            # exact, and it also folds historical add() df-delta rows
            # into one row per term
            (
                self.spark.read.parquet(root("postings"))
                .groupBy("term")
                .agg(F.count(F.lit(1)).cast("double").alias("df"))
                .withColumn(
                    "_shard", _term_shard_col(F.col("term"), n_shards)
                )
                .write.mode("overwrite")
                .partitionBy("_shard")
                .parquet(root("terms"))
            )
            self.spark.read.parquet(self._path(man, "docs")).join(
                tomb, "doc", "left_anti"
            ).write.mode("overwrite").parquet(root("docs"))

        # tombstones are now physical deletions
        self._switch_generation(ver, {**man, "n_removed": 0}, write)
        return int(n_tomb)


# ------------------------------------------------- hybrid retrieval

def rrf_fuse(
    rankings: "dict[str, tuple[DataFrame, str]]",
    id_col: str = "doc_id",
    k: int = 50,
    rrf_k: int = 60,
    score_decimals: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    bounded candidate lists — the standard hybrid-retrieval combiner
    (BM25 ∪ dense-embedding top-k feeding a RAG pipeline): each list
    contributes ``1 / (rrf_k + rank)`` per candidate and the fused
    score is the sum, so agreement between retrievers dominates any
    single retriever's score scale (scores are never compared across
    lists — only RANKS are, which is the whole trick).

    ``rankings`` maps a list name to ``(df, score_col)``; each df is
    ranked by ``score_col`` DESC with ties broken by ``id_col`` ASC —
    a total order, so ranks (and therefore the fused output) are
    engine-reproducible. Returns ``(id_col, n_lists, rrf)`` sorted by
    fused score desc / id asc, limited to ``k``.

    Scale contract: inputs are TOP-K CANDIDATE LISTS (the bounded
    outputs of :func:`bm25_topk` / ``Bm25Index.query`` /
    ``similarity.cosine_topk``), so the union this operator ranks is
    ≤ |rankings|·k rows — broadcast-scale by construction. The
    per-list rank is a single-partition window, which is exactly
    right at that size and would be wrong on corpus-sized input; the
    expensive work (scoring the corpus) already happened inside the
    retrievers, each with its own distributed plan."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    ranked = None
    for name, (df, score_col) in rankings.items():
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        r = df.select(
            F.col(id_col),
            F.row_number().over(w).alias("_r"),
        )
        ranked = r if ranked is None else ranked.unionByName(r)
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
            F.round(
                F.sum(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("_r"))),
                score_decimals,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------- ranking-quality metrics

def ranking_metrics(
    results: DataFrame,
    labels: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Offline ranking evaluation — the metrics a retrieval deployment
    regresses on (closes the loop the bm25/tfidf/hybrid
    retrievers opened: generate → fuse → EVALUATE):

    - ``ndcg`` — NDCG@k with graded gains (2^rel - 1) and the standard
      log2(rank+1) discount, normalized by the ideal ordering of that
      query's OWN labels (ties in the ideal order break on the doc id,
      so both engines build the identical ideal list);
    - ``mrr`` — 1 / rank of the first relevant (rel > 0) hit in the
      top k; 0 when none;
    - ``recall_k`` — relevant docs retrieved in the top k / relevant
      docs in total;
    - ``n_rel`` — the recall denominator, for aggregation downstream.

    ``results`` is one row per (query, doc) with a 1-based ``rank_col``;
    ``labels`` one row per (query, doc) with integer ``rel_col`` >= 0
    (missing pairs read rel 0). One row out per query appearing in
    ``results`` OR in ``labels`` with rel > 0 — a query whose
    retriever returned NOTHING still emits its all-zero row (dropping it
    would overstate every downstream mean by
    skipping exactly the queries that scored worst).

    Determinism (the q_bigram_surprisal discipline): each position's
    gain/discount term is rounded at 9 dp and summed as EXACT decimal,
    so per-query DCG and IDCG are order-independent and cross-engine
    reproducible despite log2's engine-specific last ulp; every other
    number is an exact integer or a ratio of such sums, rounded 6 dp.

    Scale shape: everything is keyed on the query id — one results ⟕
    labels equi-join on (query, doc), one ranked window over the
    labels for the ideal ordering (bounded by each query's label
    count), and per-query aggregates. Evaluation sets are
    tiny-per-query by construction; nothing here touches the corpus.
    """
    if k < 1:
        raise ValueError("ranking_metrics: k must be >= 1")
    q = F.col(query_col)
    gain = lambda rel: (F.pow(F.lit(2.0), rel) - F.lit(1.0))  # noqa: E731
    disc = lambda rank: F.log2(rank.cast("double") + F.lit(1.0))  # noqa: E731
    quant = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731

    hits = (
        results.filter(F.col(rank_col) <= k)
        .join(
            labels.select(
                q.alias("_q"), F.col(id_col).alias("_d"),
                F.col(rel_col).alias("_rel"),
            ),
            on=[
                results[query_col] == F.col("_q"),
                results[id_col] == F.col("_d"),
            ],
            how="left",
        )
        .select(
            q,
            F.col(rank_col).alias("_rank"),
            F.coalesce(F.col("_rel"), F.lit(0)).alias("_rel"),
        )
    )
    per_q_dcg = hits.groupBy(query_col).agg(
        F.coalesce(
            F.sum(quant(gain(F.col("_rel")) / disc(F.col("_rank")))),
            F.lit(0).cast("decimal(38,9)"),
        ).alias("_dcg"),
        F.coalesce(
            F.min(F.when(F.col("_rel") > 0, F.col("_rank"))), F.lit(0)
        ).alias("_first_rel"),
        F.count(F.when(F.col("_rel") > 0, 1)).cast("long").alias("_n_hit"),
    )
    w_ideal = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), F.col(id_col)
    )
    ideal = (
        labels.filter(F.col(rel_col) > 0)
        .withColumn("_irank", F.row_number().over(w_ideal))
        .groupBy(query_col)
        .agg(
            F.sum(
                F.when(
                    F.col("_irank") <= k,
                    quant(gain(F.col(rel_col)) / disc(F.col("_irank"))),
                )
            ).alias("_idcg"),
            F.count(F.lit(1)).cast("long").alias("n_rel"),
        )
    )
    return (
        per_q_dcg.join(ideal, on=query_col, how="full_outer")
        .select(
            F.col(query_col),
            F.when(
                (
                    F.coalesce(
                        F.col("_idcg"), F.lit(0).cast("decimal(38,9)")
                    )
                    > 0
                )
                & F.col("_dcg").isNotNull(),
                F.round(
                    F.col("_dcg").cast("double")
                    / F.col("_idcg").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("ndcg"),
            F.when(
                F.coalesce(F.col("_first_rel"), F.lit(0)) > 0,
                F.round(F.lit(1.0) / F.col("_first_rel"), 6),
            ).otherwise(F.lit(0.0)).alias("mrr"),
            F.when(
                F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("_n_hit"), F.lit(0)).cast("double")
                    / F.col("n_rel").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("recall_k"),
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
        )
    )
