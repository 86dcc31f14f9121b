"""Budgeted corpus selection: keep the best rows (by a score) until a
cumulative weight budget is exhausted — "take the highest-quality
documents until the token budget is spent", the final step of assembling
a training mix.

The naive formulation is a running sum over a GLOBAL ordering, which in
Spark means a window with no partition key — every row moves to ONE
reducer (the canonical scale failure). The running sum comes from
`relational.keyed_prefix_sum`: sampled equi-depth score bins ->
map-side per-bin weight totals -> IN-PLAN exclusive bin offsets ->
within-bin running sum. One data shuffle, no driver round-trip, and —
unlike the earlier two-pass range-partition form — nothing that
executes the same shuffle in two jobs (whose independently re-sampled
range boundaries had to agree for the offsets to line up).

Rows on the budget boundary: a row is kept iff its whole weight fits
(cum <= budget), matching the SQL oracle's cumulative-sum filter.
Ordering ties are broken by the id column so results are deterministic.

No reference analogue; part of the brief-mandated training-data-pipeline
surface (SURVEY §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "take_budget",
    "dsir_weights",
    "dsir_select",
    "kcenter_select",
    "centroid_outlier_ranks",
]


def take_budget(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    budget: int,
    id_col: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Rows with the highest `score_col` whose cumulative `weight_col`
    (in (score desc, id asc) order) stays within `budget`. Weights must
    be non-negative integers (token counts) so the running sum is exact.

    BREAKING (r6): a fractional weight column now raises ValueError (it
    previously went through a float window sum whose result depended on
    row grouping) — pre-cast integral-valued floats, e.g.
    ``df.withColumn(w, F.col(w).cast("long"))``, after checking they
    are whole numbers.

    Output: the selected rows of `df` plus `cum_weight` (the running
    total INCLUDING the row)."""
    from henbun_spark.operators import relational

    out = relational.keyed_prefix_sum(
        df,
        [],
        [F.desc(score_col), id_col],
        weight_col,
        out_name="cum_weight",
        inclusive=True,
        n_bins=n_partitions,
    )
    return out.where(F.col("cum_weight") <= budget)


def _q6(x):
    """Floor-quantize to 6 decimals — identical IEEE op sequence in
    Spark and DuckDB (ROUND disagrees across engines on ties)."""
    return F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target,
    n_buckets: int = 4096,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Data Selection for LMs via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): score every raw-pool
    document by how target-like its hashed n-gram distribution is,
    ``w(d) = sum_ngrams log p_target(b) - log q_raw(b)`` under two
    bag-of-hashed-ngrams models with add-one smoothing.

    Distribution fit and scoring in ONE pass over the exploded n-grams
    (unigrams + bigrams, whitespace tokens): per-bucket target/raw
    counts come from the same groupBy (`is_target` rides the explode),
    the <= `n_buckets`-row log-ratio table broadcasts back onto the
    n-gram stream, and the per-doc aggregate sums floor-quantized
    decimals — order-independent, so the weight is bit-reproducible at
    any parallelism (and DuckDB-mirrorable: md5 bucketing, quantized
    ln ratios, decimal sums, the repo's standard portability recipes).
    The totals constant ``log((Tr + B) / (Tt + B))`` enters once per
    n-gram via an exact ``n * K`` decimal product, never a per-row
    float fold.

    At 100 TB: two shuffles total (bucket counts — map-side combinable;
    per-doc sum), everything else map-only; no vocabulary state, no
    driver round-trip, model size fixed at `n_buckets` regardless of
    corpus size. Docs with no tokens have no n-grams and drop out
    (DSIR cannot score them).

    `is_target` is a boolean Column marking the target-domain sample.
    Returns (id_col, n_ngrams, weight) — weight DOUBLE, higher = more
    target-like.
    """
    toks = df.select(
        F.col(id_col),
        is_target.alias("__is_t"),
        F.filter(
            F.split(F.col(text_col), " "), lambda t: t != F.lit("")
        ).alias("__toks"),
    )
    grams = toks.select(
        id_col,
        "__is_t",
        F.explode(
            F.concat(
                F.col("__toks"),
                F.expr(
                    "transform(slice(__toks, 1, greatest(size(__toks) - 1, 0)),"
                    " (t, i) -> concat(t, ' ', __toks[i + 1]))"
                ),
            )
        ).alias("__g"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col("__g"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    hits = grams.select(id_col, "__is_t", bucket.alias("__b"))
    cnt = hits.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("__ct"),
    )
    # the totals constant rides the tiny model table (every row carries
    # the same __k; the per-doc agg takes max) so the scoring pass needs
    # ONE broadcast join — the corpus explode subtree appears exactly
    # twice in the plan (fit pass, score pass), DSIR's inherent 2-pass
    # shape, instead of a third time under a separate totals branch.
    # The two branches below cnt end at the same aggregate exchange, so
    # ReuseExchange dedupes them.
    k = cnt.agg(
        _q6(
            F.log(F.sum("__cr") + F.lit(n_buckets))
            - F.log(F.sum("__ct") + F.lit(n_buckets))
        )
        .cast("decimal(38,6)")
        .alias("__k")
    )
    lwk = cnt.select(
        "__b",
        _q6(F.log(F.col("__ct") + 1) - F.log(F.col("__cr") + 1))
        .cast("decimal(38,6)")
        .alias("__lw"),
    ).crossJoin(F.broadcast(k))
    return (
        hits.join(F.broadcast(lwk), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum("__lw").alias("__s"),
            F.max("__k").alias("__k"),
        )
        .select(
            id_col,
            "n_ngrams",
            (F.col("__s") + F.col("n_ngrams") * F.col("__k"))
            .cast("double")
            .alias("weight"),
        )
    )


def dsir_select(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target,
    k: int,
    n_buckets: int = 4096,
) -> DataFrame:
    """Top-`k` most target-like raw-pool documents by DSIR importance
    weight, deterministic tie-break on the id (the resampling step as
    its reproducible top-k variant — Gumbel-noise resampling is the
    same plan with a seeded `-ln(-ln(u))` perturbation on the weight).
    `TakeOrderedAndProject`: no global sort materializes at any scale.
    """
    w = dsir_weights(df, text_col, id_col, is_target, n_buckets=n_buckets)
    return w.orderBy(F.col("weight").desc(), F.col(id_col).asc()).limit(k)


def source_kl_matrix(
    df: DataFrame,
    text_col: str,
    source_col: str,
    n_buckets: int = 4096,
    salt: str = "srcsim",
) -> DataFrame:
    """Pairwise KL divergence between the sources' hashed-unigram
    distributions — the domain-similarity matrix behind mixing /
    upsampling decisions ("is this new crawl redundant with source X,
    or genuinely new mass?"). Same fixed-size hashed bag-of-ngrams
    modeling as `dsir_weights` (md5 bucketing, add-one smoothing).

    KL(a||b) = sum_buckets p_a * (ln p_a - ln p_b) with smoothed
    p_s(b) = (c_sb + 1) / (T_s + B). Portability shape: the division by
    (T_a + B) factors OUT of the sum, so the summed term is the exact
    decimal product (c_ab + 1) * (L_a - L_b) with L_s the 1e-6
    floor-quantized log-probability — integer x decimal products and a
    decimal sum are order-independent, making the matrix
    bit-reproducible at any parallelism and DuckDB-mirrorable. The
    single double division and final quantize happen once per pair.

    Scale: one map-side-combinable (source, bucket) count (shuffle
    bounded by |sources| x B, never corpus-sized), a dense
    |sources| x B grid via a broadcast range join, and a bucket-keyed
    self-join producing |sources|^2 x B intermediate rows — fine for
    realistic source counts (thousands); the corpus itself is read
    once. Returns (src_a, src_b, kl) for all ordered pairs a != b,
    kl quantized to 1e-6.
    """
    toks = df.select(
        F.col(source_col).alias("__src"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        ).alias("__g"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col("__g"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    cnt = toks.select("__src", bucket.alias("__b")).groupBy(
        "__src", "__b"
    ).agg(F.count(F.lit(1)).alias("__c"))
    tot = cnt.groupBy("__src").agg(F.sum("__c").alias("__t"))
    # dense |sources| x B grid via a MAP-SIDE sequence explode on the
    # tiny totals table — no join (a crossJoin against a range would
    # plan as a BroadcastNestedLoopJoin the audit flags)
    grid = (
        tot.withColumn(
            "__bi", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
        )
        .withColumn("__b", F.col("__bi").cast("long"))
        .drop("__bi")
        .join(cnt, ["__src", "__b"], "left")
        .select(
            "__src",
            "__b",
            "__t",
            F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
        )
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    lp = grid.select(
        "__src",
        "__b",
        "__t",
        (F.col("__c") + 1).alias("__c1"),
        q6(F.log(F.col("__c") + 1) - F.log(F.col("__t") + F.lit(n_buckets)))
        .cast("decimal(38,6)")
        .alias("__lp"),
    )
    a = lp.select(
        F.col("__src").alias("src_a"),
        F.col("__b").alias("__ba"),
        F.col("__t").alias("__ta"),
        F.col("__c1").alias("__ca"),
        F.col("__lp").alias("__la"),
    )
    b = lp.select(
        F.col("__src").alias("src_b"),
        F.col("__b").alias("__bb"),
        F.col("__lp").alias("__lb"),
    )
    return (
        a.join(b, (a["__ba"] == b["__bb"]) & (a["src_a"] != b["src_b"]))
        .groupBy("src_a", "src_b", "__ta")
        .agg(F.sum(F.col("__ca") * (F.col("__la") - F.col("__lb"))).alias("__s"))
        .select(
            "src_a",
            "src_b",
            q6(
                F.col("__s").cast("double")
                / (F.col("__ta") + F.lit(n_buckets))
            ).alias("kl"),
        )
    )


def kcenter_select(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Greedy k-center (farthest-point / Gonzalez) selection over an
    embedding column — the standard diverse-coreset sampler for
    training-data assembly ("pick k maximally spread examples"), with
    the classic 2-approximation guarantee on the coverage radius.

    Deterministic: the seed is the row with the MINIMUM id; each round
    picks the point with the MAXIMUM distance to the selected set, ties
    broken by the lowest id. Distances are squared euclidean (monotone
    in euclidean, so the selection and the certificate are identical).

    Scale shape (100 TB stance): each of the k rounds is ONE
    whole-stage-codegen scan — the selected centers are plan-time
    LITERALS (like `clustering.kmeans_assign`), the per-row min-distance
    is pure Column math, and the round's argmax is a
    TakeOrderedAndProject(1) (no global sort, no shuffle of the data).
    The scan recomputes the min over ALL i selected centers in round i,
    so total work is O(k^2/2) distance evals per row — the stateless
    in-plan trade (nothing persisted, nothing partition-dependent);
    for k in the hundreds-plus, checkpoint the running min-distance
    column instead (documented, not needed for coreset-scale k).

    Returns (rank, id, min_dist2): selection order (1-based), the
    selected id, and the squared distance to the previously selected
    set at pick time (rank 1 gets NULL — it has no predecessor set).
    Greedy certificate: after k picks, every remaining point lies
    within sqrt(last pick's min_dist2) of some selected center — each
    round picked the farthest point, so no unpicked point can be
    farther (pytest-enforced on random data); that radius is at most
    2x the optimal k-center radius (Gonzalez 1985).
    """
    vec = F.col(emb_col).cast("array<double>")
    seeds = (
        df.select(F.col(id_col).alias("_id"), vec.alias("_v"))
        .orderBy(F.asc("_id"))
        .limit(1)
        .collect()
    )
    if not seeds:
        raise ValueError("kcenter_select: empty input")
    seed = seeds[0]
    selected = [(int(seed["_id"]), [float(x) for x in seed["_v"]])]
    base = df.select(F.col(id_col).alias("_id"), vec.alias("_v"))

    def dist2_to(center):
        arr = F.array(*[F.lit(float(c)) for c in center])
        return F.aggregate(
            F.zip_with(F.col("_v"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    out_rows = [(1, selected[0][0], None)]
    for rank in range(2, k + 1):
        mind = dist2_to(selected[0][1])
        for _sid, c in selected[1:]:
            mind = F.least(mind, dist2_to(c))
        pick = (
            base.where(~F.col("_id").isin([s for s, _ in selected]))
            .select("_id", "_v", mind.alias("_d"))
            .orderBy(F.col("_d").desc(), F.col("_id").asc())
            .limit(1)
            .collect()
        )
        if not pick:
            break
        r = pick[0]
        selected.append((int(r["_id"]), [float(x) for x in r["_v"]]))
        out_rows.append((rank, int(r["_id"]), float(r["_d"])))
    spark = df.sparkSession
    return spark.createDataFrame(
        out_rows, f"rank INT, {id_col} BIGINT, min_dist2 DOUBLE"
    )


def centroid_outlier_ranks(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    group_col: str,
    top_k: int = 3,
    grid: int = 1024,
    dim: int | None = None,
) -> DataFrame:
    """Label-conditional centroid-distance outlier ranking — the
    label-noise / semantic-outlier filter of a training-data pipeline:
    examples far from their own class centroid are mislabeled or
    off-distribution, and pruning them is the standard prototype-based
    cleaning step (cf. SemDeDup/SSL-prototype data pruning).  Returns the
    ``top_k`` farthest examples per group as
    (group, id, dist_units, rank).

    Hash-exact by construction: coordinates are quantized to BIGINT grid
    units (``clustering.quantize_units`` — floor(x*2^10), exact IEEE
    ops), and the distance to the group centroid is the COUNT-SCALED
    integer form  D_i = sum_d (n*u_id - S_d)^2  = n^2 * ||u_i - mean||^2
    — pure BIGINT arithmetic on (count, per-dim sum) partials, so no
    float mean ever exists and summation order cannot move a bit.
    Overflow bound: |n*u - S| <= 2*n*max|u|, so D <= 4*dim*(n*max|u|)^2;
    solving 4*dim*(n*max|u|)^2 <= 2^63 at dim=64 gives
    n <= ~1.9e8 / max|u| rows PER GROUP — ~1.8e5 rows/group at the
    default unit-norm grid (max|u| ~= 1024).  Beyond that drop to the
    double-precision ``kmeans_assign`` distance (approximate, same plan
    shape).  ``dim`` skips the one-row dimension probe (which otherwise
    executes the upstream plan once more) when the caller knows the
    embedding width — same convention as ``kmeans_fit``.

    Plan shape at 100 TB: one map-side quantize, one map-side-combinable
    (group x dim) sum aggregate (groups x dim rows — tiny), a BROADCAST
    join of those stats back onto the data, a map-side distance, and a
    TWO-PHASE top-k: a group being a LABEL means its cardinality is
    tiny, so a single rank window partitioned by group would funnel the
    whole corpus through |groups| reducers — instead phase 1 ranks
    within (group, input-partition) — full parallelism, the global
    top-k per group is always a subset of the per-partition top-k's —
    and phase 2 ranks only the <= partitions*k survivors per group.
    The result is independent of the physical partitioning (pytest
    asserts repartition-invariance)."""
    from henbun_spark.operators import clustering

    w = clustering.quantize_units(df, emb_col, out="_u", grid=grid)
    if dim is None:
        probe = w.select(F.col("_u")).first()  # one row, dim only
        if probe is None:
            raise ValueError("centroid_outlier_ranks: input has no rows")
        dim = len(probe["_u"])
    stats = (
        w.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.element_at("_u", i + 1)).alias(f"_s{i}")
                for i in range(dim)
            ],
        )
        .select(
            group_col,
            "_n",
            F.array(*[f"_s{i}" for i in range(dim)]).alias("_s"),
        )
    )
    n = F.col("_n")
    dist = F.aggregate(
        F.zip_with("_u", "_s", lambda a, b: (n * a - b) * (n * a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    scored = w.join(F.broadcast(stats), group_col).select(
        group_col,
        id_col,
        dist.alias("dist_units"),
        F.spark_partition_id().alias("_pid"),  # pre-shuffle partition
    )
    order = [F.col("dist_units").desc(), F.col(id_col)]
    local = F.row_number().over(
        Window.partitionBy(group_col, "_pid").orderBy(*order)
    )
    cand = scored.withColumn("_r1", local).where(F.col("_r1") <= top_k)
    rnk = F.row_number().over(Window.partitionBy(group_col).orderBy(*order))
    return (
        cand.select(group_col, id_col, "dist_units")
        .withColumn("rank", rnk.cast("long"))
        .where(F.col("rank") <= top_k)
    )
