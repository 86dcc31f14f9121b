"""Distributed k-means over an embedding column.

MLlib's classic Lloyd's pattern re-expressed on the DataFrame/Arrow
stack (no reference analogue — the reference is a VI library; this is
part of the brief-mandated training-data-pipeline surface, SURVEY §2.11):

* centroids live on the driver (k x dim doubles — tiny at any corpus
  size) and are folded into each iteration's task closure;
* one mapInPandas pass per iteration assigns every vector to its nearest
  centroid and emits ONE partial-stats row per Arrow batch (per-cluster
  vector sums + counts + SSE), so the wide embedding column never
  shuffles;
* partials reduce IN-CLUSTER via ``RDD.treeAggregate`` (depth 2) — the
  driver receives exactly one (k x dim) matrix per iteration, never a
  row per batch (the same scale fix applied to SparkTrainer's gradient
  step, ``spark_exec.py``).

At 100 TB: per iteration one scan + one tree reduction, no shuffle of
the data itself; cost is iterations x scan, the textbook distributed
k-means profile.  Assignment for serving (``kmeans_assign``) is pure
Column math with centroid coefficients as plan-time literals — same
pattern as ``similarity.lsh_bucket`` — so it runs inside whole-stage
codegen with zero Python in the hot path when k is small.

Determinism: init picks the k vectors with the smallest ``xxhash64(id)``
(no dependence on partition layout or data order), and every update is a
sum of the same values — floating-point association order differs only
at the treeAggregate combine level, bounded by the usual ~1 ulp; the
pytest compares against a single-process numpy replica at 1e-8 rtol.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "kmeans_fit",
    "kmeans_assign",
    "quantize_units",
    "assign_nearest_units",
    "centroid_drift",
]


def _init_centroids(
    df: DataFrame, emb_col: str, id_col: str, k: int
) -> np.ndarray:
    """k seed vectors by smallest xxhash64(id): deterministic under any
    partitioning/order, and a global TakeOrdered(k) — no full sort."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(emb_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")))
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(rows)}")
    return np.array([r["_v"] for r in rows], dtype=np.float64)


def _acc_batch(x: np.ndarray, cent: np.ndarray, cn: np.ndarray,
               sums: np.ndarray, cnts: np.ndarray) -> float:
    """Fold one batch matrix into the per-partition Lloyd partials —
    shared by the distributed closure and the driver-local replay so
    both run the IDENTICAL float operations in the identical order."""
    d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cent.T) + cn[None, :]
    assign = d2.argmin(axis=1)
    sse = float(d2[np.arange(len(x)), assign].sum())
    for c in np.unique(assign):
        mask = assign == c
        sums[c] += x[mask].sum(axis=0)
        cnts[c] += int(mask.sum())
    return sse


def _iteration(
    df: DataFrame, emb_col: str, centroids: np.ndarray, depth: int = 2
) -> tuple[np.ndarray, np.ndarray, float]:
    """One Lloyd's step: returns (per-cluster sums, counts, total SSE)."""
    import pandas as pd

    k, dim = centroids.shape
    cent = centroids  # captured in the closure, shipped once per task

    def partials(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cn = (cent * cent).sum(axis=1)
        sums = np.zeros((k, dim))
        cnts = np.zeros(k, dtype=np.int64)
        sse = 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            sse += _acc_batch(x, cent, cn, sums, cnts)
        yield pd.DataFrame(
            {
                "sums": [sums.ravel().tolist()],
                "cnts": [cnts.tolist()],
                "sse": [sse],
            }
        )

    part_df = df.select(F.col(emb_col).cast("array<double>").alias("_v")).mapInPandas(
        partials, "sums array<double>, cnts array<long>, sse double"
    )

    if depth == 1:
        # depth-1 regime (driver SFs: a handful of partitions): collect
        # the one-row-per-partition partials and fold on the driver in
        # PARTITION ORDER — the same r12 fix as SparkTrainer._job's
        # depth-1 path (treeAggregate at depth 1 shipped the rows
        # through a second Python-worker RDD layer plus a javaToPython
        # plan conversion, pure per-iteration overhead; its final
        # `reduce` also merges in task-COMPLETION order, whereas the
        # collect fold is deterministic). Float sums regroup within the
        # usual ~1 ulp treeAggregate association wobble the docstring
        # already grants; the driver-local replay below replicates THIS
        # order bit-for-bit.
        sums = np.zeros(k * dim)
        cnts = np.zeros(k, dtype=np.int64)
        sse = 0.0
        for row in part_df.collect():
            sums += np.asarray(row["sums"])
            cnts += np.asarray(row["cnts"], dtype=np.int64)
            sse += row["sse"]
        return sums.reshape(k, dim), cnts, sse

    zero = (np.zeros(k * dim), np.zeros(k, dtype=np.int64), 0.0)

    def seq(acc, row):
        return (
            acc[0] + np.asarray(row["sums"]),
            acc[1] + np.asarray(row["cnts"], dtype=np.int64),
            acc[2] + row["sse"],
        )

    def comb(a, b):
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

    sums, cnts, sse = part_df.rdd.treeAggregate(zero, seq, comb, depth=depth)
    return sums.reshape(k, dim), cnts, sse


def _iteration_local(batches, centroids: np.ndarray):
    """Driver-local replica of `_iteration` over the fetched
    [(pid, bi, n x dim float64 matrix), ...] (see `kmeans_fit`):
    per-partition partials accumulated in batch order via the SAME
    `_acc_batch`, then folded across partitions in partition order —
    identical to the depth-1 collect fold, so every float matches the
    distributed iteration bit-for-bit (pytest-pinned)."""
    k, dim = centroids.shape
    cn = (centroids * centroids).sum(axis=1)
    tot_sums = np.zeros(k * dim)
    tot_cnts = np.zeros(k, dtype=np.int64)
    tot_sse = 0.0
    cur_pid = None
    sums = cnts = None
    sse = 0.0

    def fold():
        nonlocal tot_sse
        # replicate the collect fold's float path exactly: the partial
        # crossed Arrow as a flat float64 list, added onto the totals
        tot_sums.__iadd__(sums.ravel())
        tot_cnts.__iadd__(cnts)
        tot_sse += sse

    for pid, _bi, x in batches:
        if pid != cur_pid:
            if cur_pid is not None:
                fold()
            sums = np.zeros((k, dim))
            cnts = np.zeros(k, dtype=np.int64)
            sse = 0.0
            cur_pid = pid
        sse += _acc_batch(x, centroids, cn, sums, cnts)
    if cur_pid is not None:
        fold()
    return tot_sums.reshape(k, dim), tot_cnts, tot_sse


def kmeans_fit(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    k: int = 8,
    max_iter: int = 5,
    tol: float = 1e-6,
    dim: int | None = None,
    slices: int | None = None,
) -> tuple[np.ndarray, list[float]]:
    """Fit k-means on ``df[emb_col]``; returns (centroids k x dim, SSE per
    iteration).  Empty clusters keep their previous centroid.  Stops early
    when the relative SSE improvement falls below ``tol``.

    ``slices`` COALESCES the fit input (narrow — no shuffle, and a no-op
    when it cannot reduce the partition count): every Lloyd iteration is
    one Arrow task per partition, so at small n the session's default
    parallelism is pure python-worker startup overhead (the r8
    `kmeans_embeddings` measurement: 3.0 -> 1.3s at 4 slices on 256
    rows, byte-identical planted output; cold-worker fit on the real
    2k-row table: 4.3 -> 1.7s, warm-worker neutral).  Size it ~n/5000
    with a small floor — at corpus scale the coalesce no-ops and the
    plan is untouched (a repartition here would re-shuffle the full
    embedding column once PER ITERATION — the lazy plan re-executes).
    Centroid values may move by the usual ~1 ulp treeAggregate
    association wobble, exactly as any partitioning change would."""
    from henbun_spark.local_replay import fetch_batches
    from henbun_spark.operators._parallel import _plan_partitions
    from henbun_spark.spark_exec import LOCAL_ROWS_CAP, _tree_depth

    centroids = _init_centroids(df, emb_col, id_col, k)
    data = df.select(F.col(emb_col).cast("array<double>").alias(emb_col))
    if slices is not None:
        data = data.coalesce(slices)
    history: list[float] = []
    # adaptive combine depth (r12, same rule as spark_exec._tree_depth):
    # below the cutover the depth-2 intermediate stage is pure per-
    # iteration scheduling overhead; at cluster scale (partitions >>
    # cutover) depth 2 keeps the driver at one k x dim matrix per
    # iteration, unchanged
    depth = _tree_depth(_plan_partitions(data))
    # driver-local Lloyd replay (the SparkTrainer replay, same
    # LOCAL_ROWS_CAP and byte budget): ONE bounded job fetches the exact
    # per-(partition, Arrow-batch) float64 matrices the distributed
    # partials closure builds, and every iteration replays the same
    # `_acc_batch` math and partition-order fold on the driver, so a
    # Lloyd step stops costing a Spark job. Each task sends at most its
    # 1/P share of the rows and bytes, else the fit stays distributed
    # (a skewed frame under both totals included); past
    # TREE_DEPTH_CUTOVER partitions no fetch runs and iterations x one
    # scan + tree reduction is the 100 TB design. The cap is read here,
    # at call time, so setting it to 0 forces the distributed loop.
    local = fetch_batches(
        data.select(F.col(emb_col).cast("array<double>").alias("_v")),
        lambda pdf: np.stack(pdf["_v"].to_numpy()).astype(np.float64),
        LOCAL_ROWS_CAP,
    )
    for _ in range(max_iter):
        if local is not None:
            sums, cnts, sse = _iteration_local(local, centroids)
        else:
            sums, cnts, sse = _iteration(data, emb_col, centroids, depth=depth)
        nonempty = cnts > 0
        centroids = np.where(
            nonempty[:, None], sums / np.maximum(cnts, 1)[:, None], centroids
        )
        if history and history[-1] - sse <= tol * max(history[-1], 1e-12):
            history.append(sse)
            break
        history.append(sse)
    return centroids, history


#: k x dim ceiling for the pure-Column assignment path. Above it the
#: inlined per-centroid fold expressions stop being a codegen win and
#: become an INTERPRETED higher-order-function tree evaluated k times
#: per row — measured ~1 ms/row at k=666, dim=64 (the sf10 probe wedged
#: a full hour in one assignment projection) vs milliseconds for the
#: whole batch as one numpy matmul. Driver-SF queries all sit below the
#: ceiling (k=8-ish), so oracle-checked plans keep the Column path.
ASSIGN_COLUMN_PATH_MAX = 4096


def kmeans_assign(
    df: DataFrame,
    emb_col: str,
    centroids: np.ndarray,
    out: str = "cluster",
) -> DataFrame:
    """Nearest-centroid (squared-euclidean) assignment.

    Small k x dim (<= ASSIGN_COLUMN_PATH_MAX): pure Column math —
    centroid coefficients are plan-time literals, evaluated inside
    whole-stage codegen; ties break to the lowest cluster index (the
    array_sort on (dist, idx) structs is lexicographic).

    Large k x dim: one Arrow-batched pandas UDF computing the full
    distance matrix with vectorized numpy — rows stay batched, but the
    dot/norm accumulate dimension-by-dimension in the SAME sequential
    left-fold order as the Column path (a BLAS matmul or numpy pairwise
    sum would differ in the last ulp and could flip argmin on near-tied
    centroids; the per-dim loop costs ~2x matmul, still orders of
    magnitude under the interpreted-Column wedge this path replaces, and
    makes the two paths' agreement exact rather than tie-ambiguous).
    `np.argmin` keeps the same lowest-index tie-break as the array_sort.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.shape[0] * cents.shape[1] > ASSIGN_COLUMN_PATH_MAX:
        # lazy module-global import: pandas only becomes a dependency of
        # this module when the large-k path actually runs, and the
        # module-global binding lets pandas_udf resolve the stringified
        # (future-annotations) `pd.Series` type hints.
        global pd
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # per-centroid c2 via np.sum on each row slice — the identical
        # call the Column path makes (`float((c * c).sum())`)
        c2 = np.array([float((c * c).sum()) for c in cents])
        ct = cents.T.copy()

        @pandas_udf("int")
        def _nearest(batch: pd.Series) -> pd.Series:
            if not len(batch):
                return pd.Series([], dtype="int32")
            x = np.stack(batch.to_numpy()).astype(np.float64)
            n, dim = x.shape
            dot = np.zeros((n, ct.shape[1]))
            n2 = np.zeros(n)
            for j in range(dim):  # ((0 + v0) + v1) + ... — fold order
                xj = x[:, j]
                dot += xj[:, None] * ct[j]
                n2 += xj * xj
            d2 = n2[:, None] - 2.0 * dot + c2
            return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

        return df.withColumn(
            out, _nearest(F.col(emb_col).cast("array<double>"))
        )
    vec = F.col(emb_col).cast("array<double>")
    norm2 = F.aggregate(vec, F.lit(0.0), lambda a, v: a + v * v)
    scored = []
    for i, c in enumerate(np.asarray(centroids, dtype=np.float64)):
        arr = F.array(*[F.lit(float(x)) for x in c])
        dot = F.aggregate(
            F.zip_with(vec, arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        d2 = norm2 - 2.0 * dot + float((c * c).sum())
        scored.append(
            F.struct(d2.alias("dist"), F.lit(i).alias("idx"))
        )
    best = F.array_sort(F.array(*scored))[0]["idx"]
    return df.withColumn(out, best)


def quantize_units(
    df: DataFrame, emb_col: str, out: str = "u", grid: int = 1024
) -> DataFrame:
    """``array<float>`` -> ``array<long>`` integer grid units via
    ``x -> floor(x * grid)``.  With ``grid`` a power of two the
    float->double widening and the multiply are both EXACT IEEE ops, so
    the quantization is bit-identical on any engine/platform — the
    repo's standard trick for making vector arithmetic hash-checkable:
    once coordinates are BIGINT units, every distance/sum downstream is
    integer math with no association-order wobble.  Map-only, stays in
    codegen (one ``transform`` over the array)."""
    if grid <= 0 or grid & (grid - 1):
        raise ValueError(f"grid must be a positive power of two, got {grid}")
    return df.withColumn(
        out,
        F.transform(
            F.col(emb_col).cast("array<double>"),
            lambda x: F.floor(x * F.lit(float(grid))).cast("long"),
        ),
    )


def assign_nearest_units(
    df: DataFrame,
    units_col: str,
    centroids_units: list[list[int]],
    out: str = "cluster",
) -> DataFrame:
    """Integer-exact twin of ``kmeans_assign`` for quantized vectors:
    nearest centroid by squared L2 over BIGINT grid units, centroids as
    plan-time literals (the mini-batch-k-means / IVF-routing shape — k
    is small, so k x dim literals cost nothing and the whole assignment
    is one map-side expression, no shuffle, no Python).  All distances
    are exact BIGINTs, so the argmin — lexicographic ``array_sort`` on
    (dist, idx) structs, ties to the lowest cluster index — is fully
    deterministic and safe to hash-check across engines."""
    if not centroids_units:
        raise ValueError("centroids_units must be non-empty")
    if len({len(c) for c in centroids_units}) != 1:
        raise ValueError(
            "centroids_units must share one dimension "
            f"(got lengths {sorted({len(c) for c in centroids_units})})"
        )
    dim = len(centroids_units[0])
    scored = []
    for i, c in enumerate(centroids_units):
        arr = F.array(*[F.lit(int(v)).cast("long") for v in c])
        d2 = F.aggregate(
            F.zip_with(
                F.col(units_col), arr, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored.append(F.struct(d2.alias("dist"), F.lit(i).alias("idx")))
    best = F.array_sort(F.array(*scored))[0]["idx"]
    # a vector whose width differs from the centroids would zip_with
    # into NULL distances and silently win the argmin as cluster 0 —
    # fail loudly instead (NullType coerces into the when() branch)
    checked = F.when(F.size(F.col(units_col)) == dim, best).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "assign_nearest_units: vector dimension mismatch — "
                    f"centroids are {dim}-dim, row has "
                ),
                F.size(F.col(units_col)).cast("string"),
            )
        )
    )
    return df.withColumn(out, checked)


def centroid_drift(
    old: DataFrame,
    new: DataFrame,
    emb_col: str = "embedding",
    label_col: str = "label",
    grid: int = 1024,
) -> DataFrame:
    """Per-label embedding CENTROID DRIFT between two snapshots — the
    embedding-pipeline counterpart of the tabular profile-drift report:
    after re-ingesting or re-encoding a corpus, "did each class's
    centroid move, and how far" catches a silently swapped encoder
    checkpoint or a skewed re-crawl that per-column stats cannot see.

    Exactness: coordinates quantize to BIGINT grid units
    (`quantize_units`, exact IEEE ops), and the mean difference is
    count-scaled so no float mean ever exists —
    ||su_new * n_old - su_old * n_new||^2, with the unit sums and
    counts cast to decimal(38,0) BEFORE the products (a su*n product
    overflows BIGINT around n ~ 1.5e8 at unit scale; in decimal the
    bound holds while n^2 * grid * max|x| < 10^19 per coordinate).
    The reported drift divides back by n_old * n_new * grid, so it is
    in ORIGINAL embedding distance units:
    drift = ||mu_new - mu_old||_2 over the quantized grid.

    Plan shape: per side, ONE scan — posexplode + a (label, dim) agg
    carrying both the unit sum and the member count (map-side
    combinable, state = |labels| x dim); the two state tables join
    keyed on (label, dim) and reduce to |labels| rows. The embeddings
    themselves never join or shuffle as vectors. NULL/empty embeddings
    are absent observations (dropped up front, counted nowhere).
    Assumes fixed-dimension vectors (per-dim member counts double as
    the label's member count).

    Output: (label, n_old, n_new, drift) — inner-joined on label
    (a label present on only one side is a membership change, visible
    in `profile_drift`/count reports, not a drift distance).
    """

    def side(df, suffix):
        df = df.where(
            F.col(emb_col).isNotNull() & (F.size(F.col(emb_col)) > 0)
        )
        u = quantize_units(df, emb_col, out="u", grid=grid)
        return (
            u.select(label_col, F.posexplode("u").alias("dim", "unit"))
            .groupBy(label_col, "dim")
            .agg(
                F.sum("unit").cast("decimal(38,0)").alias(f"su_{suffix}"),
                F.count(F.lit(1)).alias(f"n_{suffix}"),
            )
        )

    j = side(old, "old").join(side(new, "new"), [label_col, "dim"])
    term = F.col("su_new") * F.col("n_old").cast("decimal(38,0)") - F.col(
        "su_old"
    ) * F.col("n_new").cast("decimal(38,0)")
    dist2 = j.groupBy(label_col, "n_old", "n_new").agg(
        F.sum(term * term).alias("dist2")
    )
    return dist2.select(
        label_col,
        "n_old",
        "n_new",
        F.round(
            F.sqrt(F.col("dist2").cast("double"))
            / (
                F.col("n_old").cast("double")
                * F.col("n_new")
                * F.lit(float(grid))
            ),
            6,
        ).alias("drift"),
    )
