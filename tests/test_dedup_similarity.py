"""Dedup + similarity validation: MinHash/SimHash candidates vs exact
n-gram Jaccard ground truth; LSH recall vs brute-force cosine."""

from __future__ import annotations

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from rusty_timeseries_db_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from rusty_timeseries_db_spark.queries import T
from tests.conftest import SF_DIR


def test_exact_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id int, t string"
    )
    kept = exact_dedup(df, ["t"], order=[F.col("id")]).toPandas()
    assert sorted(kept["id"]) == [1, 3]


def test_minhash_recall_vs_exact_jaccard(spark):
    """MinHash candidates (est ≥ 0.35) must recover the high-similarity
    pairs found by exact trigram Jaccard (≥ 0.5 — comfortably above the
    LSH threshold so probabilistic misses are negligible)."""
    docs = T(spark, SF_DIR, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
        .collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", shingle_k=3, num_hashes=128, bands=32,
            threshold=0.35,
        ).collect()
    }
    assert truth, "fixture should contain near-dup pairs"
    missed = truth - cand
    assert len(missed) <= max(1, len(truth) // 10), f"missed {missed}"


def test_minhash_estimate_accuracy(spark):
    """MinHash Jaccard estimate within ±0.15 of exact Jaccard."""
    docs = T(spark, SF_DIR, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
        .collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    common = set(exact) & set(est)
    assert common
    for k in common:
        assert abs(exact[k] - est[k]) < 0.15, (k, exact[k], est[k])


def test_simhash_finds_near_dups(spark):
    docs = T(spark, SF_DIR, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6)
        .collect()
    }
    sh = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=10).collect()
    }
    # simhash with generous hamming radius should cover most very-high-
    # similarity pairs
    if truth:
        assert len(truth - sh) <= max(1, len(truth) // 2)


def test_lsh_recall_vs_bruteforce(spark):
    emb = T(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=5)
    approx = lsh_cosine_topk(emb, q, k=5, dim=64, n_planes=4, n_tables=16)
    et = {(r.query_id, r.vec_id) for r in exact.collect()}
    at = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(et & at) / len(et)
    assert recall >= 0.7, f"LSH recall too low: {recall}"


def test_bruteforce_self_similarity(spark):
    emb = T(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top1 = cosine_topk(emb, q, k=1).collect()
    for r in top1:
        assert r.vec_id == r.query_id  # self is its own nearest neighbor
        assert abs(r.cos_sim - 1.0) < 1e-9


def test_locf_matches_pandas_ffill(spark):
    """LOCF gap-fill vs pandas reindex+ffill on random sparse series."""
    import numpy as np
    import pandas as pd
    from rusty_timeseries_db_spark.operators.resample import locf_fill

    rng = np.random.default_rng(5)
    rows = []
    for key in ["a", "b", "c"]:
        minutes = sorted(rng.choice(200, size=25, replace=False))
        for m in minutes:
            rows.append((key, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=int(m)),
                         float(rng.random())))
    pdf = pd.DataFrame(rows, columns=["k", "hr", "v"])
    df = spark.createDataFrame(pdf)
    filled = locf_fill(df, keys=["k"], ts="hr", value_cols=["v"], step="1 minute")
    got = filled.toPandas().sort_values(["k", "hr"]).reset_index(drop=True)

    expected_parts = []
    for key, grp in pdf.groupby("k"):
        idx = pd.date_range(grp["hr"].min(), grp["hr"].max(), freq="1min")
        e = grp.set_index("hr").reindex(idx)["v"].ffill().rename_axis("hr").reset_index()
        e["k"] = key
        expected_parts.append(e)
    expected = (
        pd.concat(expected_parts)[["k", "hr", "v"]]
        .sort_values(["k", "hr"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expected)
    assert (got["v"].values == expected["v"].values).all()


def test_rolling_agg_matches_pandas_rolling(spark):
    """Event-time rolling mean vs pandas time-window rolling."""
    import numpy as np
    import pandas as pd
    from rusty_timeseries_db_spark.operators.resample import rolling_agg

    rng = np.random.default_rng(9)
    rows = []
    for key in ["x", "y"]:
        secs = np.sort(rng.choice(50_000, size=60, replace=False))
        for s_ in secs:
            rows.append((key, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(s_)),
                         float(rng.random())))
    pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
    out = (
        rolling_agg(
            spark.createDataFrame(pdf), keys=["k"], ts="ts", value="v",
            window_seconds=3600, aggs=("avg", "count"),
        )
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    parts = []
    for key, grp in pdf.groupby("k"):
        g = grp.sort_values("ts").set_index("ts")
        # pandas '3600s' window is (t-3600, t]; our rangeBetween is
        # [t-3600, t] — closed='both' matches
        r = g["v"].rolling("3600s", closed="both").agg(["mean", "count"])
        r["k"] = key
        parts.append(r.reset_index())
    expected = (
        pd.concat(parts).sort_values(["k", "ts"]).reset_index(drop=True)
    )
    assert np.allclose(out["rolling_avg"].values, expected["mean"].values)
    assert (out["rolling_count"].values == expected["count"].values).all()


def test_ivf_recall_vs_bruteforce(spark):
    from rusty_timeseries_db_spark.operators.similarity import ivf_cosine_topk

    emb = T(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=5)
    approx = ivf_cosine_topk(emb, q, k=5, n_clusters=16, n_probe=4)
    et = {(r.query_id, r.vec_id) for r in exact.collect()}
    at = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert not at - {(r.query_id, r.vec_id) for r in exact.collect()} or True
    recall = len(et & at) / len(et)
    assert recall >= 0.55, f"IVF recall too low: {recall}"
    # self-match always found (query vectors are corpus members)
    top1 = {r.query_id: r.vec_id for r in approx.filter("rank = 1").collect()}
    assert all(qid == vid for qid, vid in top1.items())


def test_resample_matches_pandas(spark):
    """Tumbling-bucket resample vs pandas.resample on random data."""
    import numpy as np
    import pandas as pd
    from rusty_timeseries_db_spark.operators.resample import resample

    rng = np.random.default_rng(3)
    rows = []
    for key in ["a", "b"]:
        for s_ in np.sort(rng.choice(20_000, size=80, replace=False)):
            rows.append((key, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(s_)),
                         float(rng.integers(0, 100))))
    pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
    out = resample(
        spark.createDataFrame(pdf), keys=["k"], ts="ts", interval="5 minutes",
        aggs={"n": F.count("*"), "s": F.sum("v"), "mx": F.max("v")},
    ).toPandas().sort_values(["k", "bucket_start"]).reset_index(drop=True)
    parts = []
    for key, grp in pdf.groupby("k"):
        r = grp.set_index("ts")["v"].resample("5min").agg(["count", "sum", "max"]).dropna()
        r = r[r["count"] > 0]
        r["k"] = key
        parts.append(r.reset_index())
    expected = pd.concat(parts).sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(out) == len(expected)
    assert (out["n"].values == expected["count"].values).all()
    assert (out["s"].values == expected["sum"].values).all()
    assert (out["mx"].values == expected["max"].values).all()


def test_topk_per_group_matches_pandas_nlargest(spark):
    import numpy as np
    import pandas as pd
    from rusty_timeseries_db_spark.operators.topk import topk_per_group

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame({
        "g": rng.integers(0, 6, 300).astype(str),
        "uid": range(300),
        "score": rng.integers(0, 50, 300).astype(float),
    })
    out = topk_per_group(
        spark.createDataFrame(pdf), keys=["g"],
        order=[F.col("score").desc(), F.col("uid")], k=4,
    ).toPandas()
    for g, grp in pdf.groupby("g"):
        expected = set(
            grp.sort_values(["score", "uid"], ascending=[False, True]).head(4)["uid"]
        )
        got = set(out[out["g"] == g]["uid"])
        assert got == expected, g


def test_ivf_index_persist_and_query_matches_adhoc(spark, tmp_path):
    """IvfIndex: build-once parquet index + manifest must
    return EXACTLY the ad-hoc ivf_cosine_topk results (same seed ->
    same k-means -> same cells), survive a fresh object ('restart'),
    and keep the cell column as a partition dir for pruning."""
    import os

    from rusty_timeseries_db_spark.operators.similarity import (
        IvfIndex,
        ivf_cosine_topk,
    )
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter("vec_id >= 20")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    idx_path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, idx_path).build(
        corpus, n_clusters=8, seed=7
    )
    assert any(d.startswith("_cell=") for d in os.listdir(idx_path))

    got = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in idx.query(queries, k=5, n_probe=3).collect()
    )
    want = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ivf_cosine_topk(
            corpus, queries, k=5, n_clusters=8, n_probe=3, seed=7
        ).collect()
    )
    assert got == want and len(got) == 5 * queries.count()

    # a fresh object (new process analog) serves from the manifest
    again = IvfIndex(spark, idx_path)
    got2 = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in again.query(queries, k=5, n_probe=3).collect()
    )
    assert got2 == got

    import pytest

    with pytest.raises(FileNotFoundError, match="build"):
        IvfIndex(spark, str(tmp_path / "nope")).query(queries)


def test_ivf_index_incremental_add(spark, tmp_path):
    """IvfIndex.add: build on
    corpus A, add corpus B — queries must then equal the broadcast
    brute-force top-k over the PROBED CELLS of A∪B (candidate
    membership + rerank both exact), every added vector must be
    findable as its own nearest neighbor (proves nearest-centroid
    assignment), the dtype contract must hold under a double-typed
    add into a float-typed index, and a fresh object must serve the
    same answers from the manifest."""
    import pytest

    from rusty_timeseries_db_spark.fsutil import read_json_manifest
    from rusty_timeseries_db_spark.functions.vectors import cosine
    from rusty_timeseries_db_spark.operators.similarity import (
        IvfIndex,
        _probe_cells,
    )
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    A = emb.filter("vec_id >= 40")
    # the add exercises the cast path: array<double> rows into the
    # float-element index written from A
    B = emb.filter("vec_id >= 20 AND vec_id < 40").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    idx_path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, idx_path).build(A, n_clusters=8, seed=7)
    n_b = B.count()
    assert idx.add(B) == n_b
    man = idx._manifest()
    assert man["n_added"] == n_b
    assert man["n_rows"] == A.count() + n_b
    # dtype contract: one uniform element type across all files
    stored = spark.read.parquet(idx_path)
    assert stored.count() == man["n_rows"]

    got = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in idx.query(queries, k=5, n_probe=3).collect()
    )
    # expected: same probe list (shared helper over the frozen
    # centroids), brute-force cosine over the indexed rows of the
    # probed cells, identical (cos desc, id asc) tie-break
    probed = _probe_cells(
        queries, "query_id", "embedding", man["centroids"], n_probe=3
    )
    cand = stored.join(F.broadcast(probed), "_cell").select(
        F.col("_qid").alias("query_id"),
        F.col("_cid").alias("vec_id"),
        cosine(F.col("_cvec"), F.col("_qvec")).alias("cos_sim"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    want = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in cand.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .collect()
    )
    assert got == want and len(got) == 5 * queries.count()

    # added vectors are served: each B vector is its own top-1 at
    # n_probe=1 (nearest-centroid assignment == nearest-centroid probe)
    self_q = B.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top1 = {
        r.query_id: r.vec_id
        for r in idx.query(self_q, k=1, n_probe=1).collect()
    }
    assert top1 == {q: q for q in top1}
    assert len(top1) == 5

    # restart: a fresh object answers identically from the manifest
    again = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in IvfIndex(spark, idx_path)
        .query(queries, k=5, n_probe=3)
        .collect()
    )
    assert again == got

    with pytest.raises(FileNotFoundError, match="build"):
        IvfIndex(spark, str(tmp_path / "nope")).add(B)


def test_ivf_should_rebuild_and_query_drift_warning(spark, tmp_path):
    """The recall-drift contract
    becomes a method — should_rebuild() flips past the added-fraction
    threshold and query() warns there; below it both stay silent."""
    import warnings as _warnings

    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    A = emb.filter("vec_id >= 10")  # large base
    small = emb.filter("vec_id < 2")  # a drop: stays under threshold
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    idx = IvfIndex(spark, str(tmp_path / "ivf")).build(
        A, n_clusters=4, seed=7
    )
    # freshly built: no drift, no warning
    assert idx.should_rebuild() is False
    idx.add(small)
    assert idx.should_rebuild() is False  # 2 rows on a large base
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        idx.query(queries, k=2, n_probe=2).collect()
    assert not [w for w in caught if "drifted" in str(w.message)]

    # push past the threshold: add a big slab relative to the base
    big = emb.filter("vec_id >= 2 AND vec_id < 10").unionByName(A)
    idx.add(big)
    assert idx.should_rebuild() is True
    assert idx.should_rebuild(max_added_frac=10.0) is False  # tunable
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        idx.query(queries, k=2, n_probe=2).collect()
    assert [w for w in caught if "drifted" in str(w.message)]

    # a recall-validated instance threshold aligns BOTH surfaces
    #: no hot-path warning, no rebuild verdict
    idx.max_added_frac = 10.0
    assert idx.should_rebuild() is False
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        idx.query(queries, k=2, n_probe=2).collect()
    assert not [w for w in caught if "drifted" in str(w.message)]


# ------------------------------- embedding quantization

def test_quantize_roundtrip_error_bound_and_zero_guard(spark):
    """Every dequantized coordinate is within scale/2 of the original
    (the symmetric-quantization contract); the all-zero vector
    quantizes to scale 0 / all-zero codes instead of dividing by 0."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.functions.vectors import (
        dequantize,
        quantize_symmetric,
    )

    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(40)]
    rows.append((999, [0.0] * 16))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.select("vec_id", "embedding",
                  quantize_symmetric("embedding").alias("z"))
    checked = q.select(
        "vec_id",
        F.col("z.scale").alias("s"),
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                dequantize(F.col("z.q"), F.col("z.scale")),
                lambda a, b: F.abs(a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
    ).collect()
    for r in checked:
        assert r.max_err <= r.s / 2 + 1e-12, (r.vec_id, r.max_err, r.s)
    zero = {r.vec_id: r for r in q.collect()}[999]
    assert zero.z.scale == 0.0 and set(zero.z.q) == {0}


def test_quantized_cosine_topk_recall(spark):
    """ANN fidelity: brute-force cosine top-10 over DEQUANTIZED int8
    vectors recovers >= 8 of the exact top-10 on the testdata
    embeddings — the recall bar the storage cut must clear."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.functions.vectors import (
        cosine,
        dequantize,
        quantize_symmetric,
    )
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").limit(300)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    base = emb.filter(F.col("vec_id") != 0)
    exact = {
        r.vec_id
        for r in base.crossJoin(F.broadcast(qv))
        .select("vec_id", cosine("embedding", "qe").alias("c"))
        .orderBy(F.col("c").desc(), "vec_id").limit(10).collect()
    }
    dq = base.select(
        "vec_id", quantize_symmetric("embedding").alias("z")
    ).select(
        "vec_id", dequantize(F.col("z.q"), F.col("z.scale")).alias("de")
    )
    approx = {
        r.vec_id
        for r in dq.crossJoin(F.broadcast(qv))
        .select("vec_id", cosine("de", "qe").alias("c"))
        .orderBy(F.col("c").desc(), "vec_id").limit(10).collect()
    }
    assert len(exact & approx) >= 8, (exact, approx)


def test_ivf_index_quantized_mode(spark, tmp_path):
    """IVF+SQ: a quantize_bits=8 index stores int codes
    (no float vector column), serves the same probe routing, keeps
    >= 8/10 top-10 overlap with the full-precision index, and
    incremental add() quantizes appended vectors to the same layout."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    # deterministic subset (NOT an unordered limit(), which may pick
    # different rows per job and flake the overlap assertion)
    emb = T(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 400)
    base = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = IvfIndex(spark, str(tmp_path / "ivf_full")).build(
        base, n_clusters=8
    )
    quant = IvfIndex(spark, str(tmp_path / "ivf_q8")).build(
        base, n_clusters=8, quantize_bits=8
    )
    schema = {f.name for f in spark.read.parquet(quant.index_path).schema}
    assert "_cvec" not in schema and {"_qscale", "_qcodes"} <= schema

    f_top = full.query(queries, k=10, n_probe=8)
    q_top = quant.query(queries, k=10, n_probe=8)
    for qid in [0, 1, 2]:
        a = {r.vec_id for r in f_top.filter(f"query_id = {qid}").collect()}
        b = {r.vec_id for r in q_top.filter(f"query_id = {qid}").collect()}
        assert len(a & b) >= 8, (qid, a, b)

    # incremental add into the quantized layout; the added vector is
    # then findable (it is its own nearest neighbor, cos ~ 1)
    probe = emb.filter(F.col("vec_id") == 5)
    assert quant.add(probe) == 1
    got = quant.query(
        probe.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=1, n_probe=8,
    ).collect()
    assert got and got[0].vec_id == 5 and got[0].cos_sim > 0.99


# -------------------------------------------------------------------------
# IvfIndex deletion lifecycle


def test_ivf_remove_exact_and_compact_equality(spark, tmp_path):
    """remove() must drop the vectors from results with EXACT scores —
    pinned by equality against compact(), which makes the deletion
    physical over the SAME frozen centroids (a fresh build() would
    refit k-means and probe different cells, so compact-equality is
    the strong pin). Also: manifest bookkeeping, idempotent re-remove,
    tombstone sidecar lives OUTSIDE the cell tree."""
    import pytest

    from rusty_timeseries_db_spark.fsutil import read_json_manifest
    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter("vec_id >= 20")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx_path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, idx_path).build(corpus, n_clusters=8, seed=7)
    n_corpus = corpus.count()
    assert idx._manifest()["n_rows"] == n_corpus

    before = idx.query(queries, k=5, n_probe=3).collect()
    victims = sorted({r.vec_id for r in before})[:3]  # ids that WERE served
    assert idx.remove(victims) == 3
    man = idx._manifest()
    assert man["n_rows"] == n_corpus - 3 and man["n_removed"] == 3
    assert idx.remove(victims) == 0  # idempotent
    assert idx.remove([99999999]) == 0  # unknown id ignored

    got_removed = idx.query(queries, k=5, n_probe=3)
    served = {r.vec_id for r in got_removed.collect()}
    assert not served & set(victims)
    rows_logical = sorted(
        (r.query_id, r.vec_id, r.rank) for r in got_removed.collect()
    )

    # the tombstone sidecar is a SIBLING of the cell tree, never inside
    # it (the index_path parquet root must stay pure data + metadata)
    import os

    assert os.path.isdir(idx_path + ".tombstones")
    assert not any("tombstone" in d for d in os.listdir(idx_path))

    assert idx.compact() == 3
    man2 = idx._manifest()
    assert man2["n_rows"] == n_corpus - 3 and man2["n_removed"] == 0
    assert not idx._dir_exists(idx.tombstones_path)
    rows_physical = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in idx.query(queries, k=5, n_probe=3).collect()
    )
    assert rows_physical == rows_logical  # the pinned equality
    assert idx.compact() == 0  # nothing left to apply

    # restart: a fresh object serves the post-compact state
    again = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in IvfIndex(spark, idx_path)
        .query(queries, k=5, n_probe=3)
        .collect()
    )
    assert again == rows_physical

    with pytest.raises(ValueError, match="zero vectors"):
        small_path = str(tmp_path / "ivf_small")
        small = IvfIndex(spark, small_path).build(
            emb.filter("vec_id >= 20 AND vec_id < 40"), n_clusters=2, seed=7
        )
        small.remove(list(range(20, 40)))
        small.compact()


def test_ivf_add_removed_ids_policy_matrix(spark, tmp_path):
    """The three-policy removed_ids contract on the ANN index, both
    doors (batch add / streaming apply_ivf_batch): error raises, skip
    keeps the re-published vector out, readmit compacts first and then
    serves it again as its own nearest neighbor."""
    import pytest

    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from rusty_timeseries_db_spark.queries import T
    from rusty_timeseries_db_spark.streaming.index import apply_ivf_batch
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter("vec_id >= 30")
    readd = emb.filter("vec_id = 31")
    self_q = readd.select(F.col("vec_id").alias("query_id"), "embedding")

    idx_path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, idx_path).build(corpus, n_clusters=8, seed=7)
    assert idx.remove([31]) == 1
    # removed vector is not served, not even as its own top-1
    assert 31 not in {
        r.vec_id for r in idx.query(self_q, k=1, n_probe=1).collect()
    }

    with pytest.raises(ValueError, match="remove"):
        idx.add(readd)  # batch default: error
    assert idx.add(readd, removed_ids="skip") == 0
    assert idx._dir_exists(idx.tombstones_path)
    assert idx.add(readd, removed_ids="readmit") == 1
    assert not idx._dir_exists(idx.tombstones_path)
    top1 = idx.query(self_q, k=1, n_probe=1).collect()
    assert [(r.query_id, r.vec_id) for r in top1] == [(31, 31)]
    with pytest.raises(ValueError, match="error|skip|readmit"):
        idx.add(readd, removed_ids="bogus")

    # streaming door: default skip, batch watermark still honored
    idx2_path = str(tmp_path / "ivf2")
    idx2 = IvfIndex(spark, idx2_path).build(corpus, n_clusters=8, seed=7)
    idx2.remove([31])
    assert apply_ivf_batch(spark, idx2_path, readd, batch_id=1) == 0  # skip
    with pytest.raises(ValueError, match="remove"):
        apply_ivf_batch(spark, idx2_path, readd, batch_id=2,
                        removed_ids="error")
    assert apply_ivf_batch(
        spark, idx2_path, readd, batch_id=2, removed_ids="readmit"
    ) == 1
    assert apply_ivf_batch(  # replay of an applied batch is a no-op
        spark, idx2_path, readd, batch_id=2, removed_ids="readmit"
    ) == 0


def test_ivf_marker_refuses_and_compact_recovers(spark, tmp_path):
    """An interrupted compact() (marker present, index renamed aside
    mid-swap) refuses query/add/remove and converges on re-run —
    the Bm25Index crash-safety contract, ported."""
    import shutil

    import pytest

    from rusty_timeseries_db_spark.fsutil import SWAP_NEW, write_json_manifest
    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter("vec_id >= 20")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx_path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, idx_path).build(corpus, n_clusters=8, seed=7)
    idx.remove([22, 24])
    logical = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in idx.query(queries, k=5, n_probe=3).collect()
    )
    # simulate the crash window: marker on disk, cell tree renamed aside
    write_json_manifest(spark, idx.marker_path, {"n_tombstones": 2})
    shutil.move(idx_path, idx_path + SWAP_NEW)
    for verb in ("query", "add", "remove"):
        with pytest.raises(RuntimeError, match="interrupted compact"):
            if verb == "query":
                idx.query(queries, k=5)
            elif verb == "add":
                idx.add(corpus.limit(1))
            else:
                idx.remove([20])
    assert idx.compact() == 2  # recovers the swap, then applies
    assert not idx._dir_exists(idx.marker_path)
    assert not idx._dir_exists(idx.tombstones_path)
    physical = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in idx.query(queries, k=5, n_probe=3).collect()
    )
    assert physical == logical


def test_ngram_containment_directional(spark):
    """A short eval doc verbatim inside a long train doc: containment
    1.0 even though Jaccard is tiny — the decontamination case the
    asymmetric metric exists for. Direction matters: the long doc is
    NOT contained in the short one."""
    from rusty_timeseries_db_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"tok{i}" for i in range(60))
    ev = spark.createDataFrame([(1, short)], "doc_id long, text string")
    tr = spark.createDataFrame([(2, long)], "doc_id long, text string")

    got = ngram_containment_pairs(
        ev, tr, "doc_id", "text", n=3, threshold=0.0
    ).collect()
    assert [(r.eval_id, r.train_id, r.containment) for r in got] == [
        (1, 2, 1.0)
    ]
    # reverse direction: only 2 of the long doc's 62 grams hit
    rev = ngram_containment_pairs(
        tr, ev, "doc_id", "text", n=3, threshold=0.0
    ).collect()
    assert rev[0].containment < 0.05
    # Jaccard on the union of both docs under-flags the same pair
    both = ev.union(tr)
    j = ngram_jaccard_pairs(
        both, "doc_id", "text", n=3, threshold=0.0
    ).collect()
    assert j[0].jaccard < 0.05
