"""Embedding clustering primitives — per-group centroids and
nearest-centroid assignment (one Lloyd/k-means step, and the building
blocks for IVF training, class prototypes, and dataset-pruning by
cluster). The reference has no vector surface; this extends the
similarity-search family (operators/similarity.py) with the
AGGREGATION side of vector math.

Scale shape:

- ``label_centroids`` is one shuffle on (group, dim) after a
  ``posexplode`` — the per-dimension partial sums combine map-side, so
  the exploded stream never concentrates. With ``deterministic=True``
  each (group, dim) cell materializes its component list sorted by id
  and folds it sequentially — bit-reproducible across engines and
  runs (the oracle-certifiable mode; used by q_kmeans_step), but the
  list is O(group size), so reserve it for bounded groups. The default
  ``deterministic=False`` uses plain ``avg`` — same value modulo
  float-addition order, no list materialization, the 100 TB path.
- ``assign_nearest`` broadcasts the k centroids (k rows of dim
  doubles — KB-scale) and scores every vector with a codegen'd
  ``zip_with``/``aggregate`` squared-L2 fold; the argmin is a
  ``min_by`` grouped AGGREGATE with a (distance, centroid id)
  total-order key, so the k-times-expanded scored stream collapses
  back to one row per vector map-side and the single exchange carries
  ~|vectors| combined rows (a row_number window would shuffle all
  k·N expanded rows — see the function docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    deterministic: bool = False,
) -> DataFrame:
    """Per-``label_col`` mean vector: (label, centroid array<double>,
    n_vecs). See module docstring for the deterministic/scale modes."""
    ex = df.select(
        label_col,
        id_col,
        F.posexplode(vec_col).alias("dim", "comp"),
    )
    if deterministic:
        s = F.aggregate(
            F.array_sort(F.collect_list(F.struct(id_col, "comp"))),
            F.lit(0.0),
            lambda acc, x: acc + x["comp"].cast("double"),
        )
    else:
        s = F.sum(F.col("comp").cast("double"))
    per_dim = ex.groupBy(label_col, "dim").agg(
        s.alias("s"), F.count(F.lit(1)).alias("n")
    )
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("dim", (F.col("s") / F.col("n")).alias("m"))
                )
            ),
            lambda x: x["m"],
        ).alias("centroid"),
        F.max("n").alias("n_vecs"),
    )


def assign_nearest(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_label_col: str = "label",
) -> DataFrame:
    """Assign every vector to its nearest centroid by squared L2 (ties
    broken by centroid label ascending — total order, engine-agnostic).
    ``centroids``: (label, centroid array<double>) — small by
    construction (k rows), hence the guarded broadcast cross join.
    Adds (assigned_label, dist2).

    The argmin is ``min_by`` over a grouped aggregate, NOT a
    row_number window: the k-times-expanded scored
    stream collapses back to one row per vector in the map-side
    partial aggregate, so the only exchange moves ~|df| combined rows
    — a window would shuffle all k·|df| expanded rows just to rank
    them. Same declarative-argmin pattern as the streaming OHLC bars
    (streaming/ingest.py windowed_ohlc)."""
    c = centroids.select(
        F.col(centroid_label_col).alias("_c_label"),
        F.col("centroid").alias("_cv"),
    )
    scored = df.crossJoin(F.broadcast(c)).withColumn(
        "dist2",
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.col("_cv"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    payload = F.struct(
        *[F.col(name) for name in df.columns],
        F.col("_c_label").alias("assigned_label"),
        F.col("dist2"),
    )
    order = F.struct(F.col("dist2"), F.col("_c_label"))
    return (
        scored.groupBy(id_col)
        .agg(F.min_by(payload, order).alias("_best"))
        .select("_best.*")
    )
