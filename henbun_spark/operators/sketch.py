"""Mergeable frequency sketches as DataFrame operators.

The reference has no sketch surface (its data plane is dense numpy feeds,
`/root/reference/Henbun/param.py:676-739`); these are part of the
training-data-pipeline operator set: approximate frequency statistics whose
*state* is a small mergeable table instead of a full groupBy over a 100 TB
key space.

Count-min sketch (Cormode & Muthukrishnan 2005): a depth x width counter
matrix; every key increments one counter per row (bucket = hash_d(key) mod
width), and the frequency estimate is the MIN over the depth counters —
always >= the true count, with overestimate bounded by (e/width) * N at
confidence 1 - exp(-depth).

Scale design:
* Building the sketch is ONE explode(depth) + ONE map-side-combinable
  groupBy((d, bucket)) — the shuffle moves at most depth*width counter
  partials per map task regardless of input size. No distinct, no
  wide state.
* Sketches MERGE by counter addition (`cms_merge`), so per-day /
  per-source sketches roll up without touching raw data — the property
  that makes a sketch worth having at 100 TB.
* Hashing is md5-nibble arithmetic (same idiom as
  `text.hashed_features`), bit-portable across engines, so a DuckDB
  oracle can rebuild the identical counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _bucket(col, d: int, width: int, salt: str):
    """Deterministic bucket for hash row ``d``: first 6 md5 nibbles of
    ``salt|d|value`` mod width (engine-portable integer arithmetic)."""
    h = F.md5(
        F.concat(
            F.lit(salt), F.lit("|"), F.lit(str(d)), F.lit("|"),
            F.coalesce(col.cast("string"), F.lit("\x00")),
        )
    )
    return (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % width).cast("int")


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Build a count-min sketch over ``df[key_col]``.

    Returns the counter table ``(d int, bucket int, cnt bigint)`` with at
    most depth*width rows. The explode multiplies rows by ``depth`` before
    the groupBy, but partial aggregation collapses each map task to <=
    depth*width partials, so shuffle volume is O(tasks * depth * width),
    independent of input row count.
    """
    key = F.col(key_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"), _bucket(key, d, width, salt).alias("bucket")
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with identical (depth, width, salt) by counter
    addition — union + one re-aggregation over <= depth*width keys."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: re-hash each key
    to its depth buckets, join the counter table (depth*width rows —
    always broadcastable), take MIN(cnt).

    Missing counters count as 0 (key hashed to a bucket no row touched),
    so keys absent from the build data estimate 0, not null.
    """
    key = F.col(key_col)
    probes = keys.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(key, d, width, salt).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select("key", F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["d", "bucket"], "left").select(
        "key", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("key").agg(F.min("cnt").alias("est"))


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) — deterministic md5 variant
# ---------------------------------------------------------------------------

_HLL_NIBBLES = 14  # 56 bits of rank material after the register nibbles


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    key_col: str,
    b: int = 8,
    salt: str = "hll",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """HLL register table for ``df[key_col]``: register index from the
    first ``b/4`` md5 nibbles (m = 2^b registers, b multiple of 4), rank =
    1 + count of leading zero BITS in the next 56 bits (capped at 57 when
    all-zero).

    Everything is string/integer arithmetic on the md5 hex digest —
    bit-identical across engines, so a SQL oracle can rebuild the exact
    registers. The groupBy(register).max(rank) combines map-side; state
    is <= m rows however large the input.
    """
    if b % 4 != 0:
        raise ValueError("b must be a multiple of 4 (nibble-aligned)")
    reg_nibbles = b // 4
    h = F.md5(
        F.concat(F.lit(salt), F.lit("|"), F.coalesce(F.col(key_col).cast("string"), F.lit("\x00")))
    )
    reg = F.conv(F.substring(h, 1, reg_nibbles), 16, 10).cast("int")
    tail = F.substring(h, reg_nibbles + 1, _HLL_NIBBLES)
    # position (1-indexed) of the first non-zero hex char; 0 if all zeros
    stripped = F.regexp_extract(tail, "^(0*)", 1)
    p = F.when(F.length(stripped) == _HLL_NIBBLES, F.lit(0)).otherwise(
        F.length(stripped) + 1
    )
    nib = F.conv(F.substring(tail, F.when(p > 0, p).otherwise(1), F.lit(1)), 16, 10).cast(
        "int"
    )
    # leading zero bits inside the first non-zero nibble (value 1..15)
    nib_lz = (
        F.when(nib >= 8, 0).when(nib >= 4, 1).when(nib >= 2, 2).otherwise(3)
    )
    rank = F.when(p == 0, F.lit(4 * _HLL_NIBBLES + 1)).otherwise(
        (p - 1) * 4 + nib_lz + 1
    )
    # optional GROUP BY: one sketch per group, <= m rows each — the
    # realistic 100 TB usage ("distinct users per segment") where the
    # exact countDistinct would expand every (group, user) pair
    gcols = [F.col(c) for c in (group_cols or [])]
    return (
        df.select(*gcols, reg.alias("register"), rank.alias("rank"))
        .groupBy(*[c for c in (group_cols or [])], "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_merge(*registers: DataFrame) -> DataFrame:
    """Merge HLL register tables (same b/salt) by per-register MAX."""
    if not registers:
        raise ValueError("need at least one register table")
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    return out.groupBy("register").agg(F.max("max_rank").alias("max_rank"))


def hll_estimate(
    registers: DataFrame, b: int = 8, group_cols: list[str] | None = None
) -> DataFrame:
    """Cardinality estimate from a register table, deterministic across
    engines: the harmonic-mean denominator sums 2^(57-rank) as exact
    BIGINTs (dyadic rationals scaled to integers — no float fold order),
    then one double division/multiplication at the end. Includes the
    standard linear-counting small-range correction.

    Returns (group_cols..., n_registers_hit, hll_est double) — one row
    per group (one row total without ``group_cols``).
    """
    m = 2 ** b
    alpha = _hll_alpha(m)
    scale = 2 ** (4 * _HLL_NIBBLES + 1)  # 2^57
    aggs = [
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {4 * _HLL_NIBBLES + 1} - CAST(max_rank AS INT))"
            )
        ).alias("denom_hit"),
    ]
    if group_cols:
        agg = registers.groupBy(*group_cols).agg(*aggs)
    else:
        agg = registers.agg(*aggs)
    # Registers never touched contribute 2^-0 = 1 each to the harmonic
    # sum. Add that part AFTER converting the hit-sum to double: keeping
    # it in BIGINT would overflow ((m - n_hit) * 2^57 > 2^63 whenever
    # ~64+ registers are empty). The BIGINT -> double conversion of the
    # same exact integer rounds identically in every IEEE engine, so
    # determinism survives.
    denom = (
        F.col("denom_hit").cast("double") / F.lit(float(scale))
        + (F.lit(m) - F.col("n_hit")).cast("double")
    )
    raw = F.lit(alpha * m * m) / denom
    zeros = F.lit(m) - F.col("n_hit")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), linear).otherwise(raw)
    return agg.select(
        *[F.col(c) for c in (group_cols or [])],
        F.col("n_hit").alias("n_registers_hit"),
        F.round(est, 6).alias("hll_est"),
    )


# ---------------------------------------------------------------------------
# Bloom filter (runtime-filter pattern)
# ---------------------------------------------------------------------------

_BLOOM_WORD_BITS = 32  # 32-bit words inside BIGINTs: 1 << bit stays positive
                       # and shift semantics match across engines


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 4,
    salt: str = "bloom",
) -> DataFrame:
    """Build a Bloom filter over ``df[key_col]`` as a bitmap TABLE
    (word_idx int, bits bigint) — at most ceil(m_bits/32) rows regardless
    of input size.

    This is the runtime-filter pattern behind every modern engine's
    large-join optimization: build a tiny bitmap from the selective
    side, broadcast it, and drop probe rows BEFORE the shuffle join.
    Build cost: one explode(k) + one map-side-combinable bit_or groupBy.
    Hashes are md5-nibble arithmetic, so an SQL oracle reproduces the
    bitmap bit-for-bit.
    """
    key = F.col(key_col)
    # materialize each hash position once (word and bit both derive from
    # it) so the md5 evaluates k times per row, not 2k
    sel = df.select(
        *[_bucket(key, i, m_bits, salt).alias(f"p{i}") for i in range(k)]
    )
    stacked = sel.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col(f"p{i}") / _BLOOM_WORD_BITS).cast("int").alias("word_idx"),
                        F.expr(
                            f"shiftleft(CAST(1 AS BIGINT), CAST(p{i} % {_BLOOM_WORD_BITS} AS INT))"
                        ).alias("bit"),
                    )
                    for i in range(k)
                ]
            )
        ).alias("e")
    )
    return (
        stacked.select(F.col("e.word_idx").alias("word_idx"), F.col("e.bit").alias("bit"))
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_filter_probe(
    probe: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 4,
    salt: str = "bloom",
) -> DataFrame:
    """Keep probe rows whose key MIGHT be in the Bloom filter (all k
    bits set) — no false negatives, false-positive rate ~ (1-e^{-kn/m})^k.

    The bitmap table (<= ceil(m_bits/32) rows) broadcasts; each probe row
    joins its k words and passes iff every bit is present. The passing
    subset then feeds the real (shuffle) join — at 100 TB the bloom
    drops the non-matching majority before any exchange. A missing word
    reads as 0 (``coalesce``), and when ``m_bits % 32 != 0`` the partial
    top word is joined like any other.
    """
    key = F.col(key_col)
    out = probe.select(
        "*", *[_bucket(key, i, m_bits, salt).alias(f"__p{i}") for i in range(k)]
    )
    for i in range(k):
        b = bloom.select(
            F.col("word_idx").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}")
        )
        out = out.join(
            F.broadcast(b),
            (F.col(f"__p{i}") / _BLOOM_WORD_BITS).cast("int") == F.col(f"__w{i}"),
            "left",
        ).where(
            F.expr(
                f"coalesce(__b{i}, CAST(0 AS BIGINT)) & "
                f"shiftleft(CAST(1 AS BIGINT), CAST(__p{i} % {_BLOOM_WORD_BITS} AS INT)) != 0"
            )
        )
    drop = [c for c in out.columns if c.startswith("__")]
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch
# ---------------------------------------------------------------------------

def histogram_build(
    df: DataFrame, col: str, lo: float, hi: float, n_bins: int = 256
) -> DataFrame:
    """Mergeable quantile sketch: an equi-width histogram over a DECLARED
    [lo, hi) domain — (bin int, cnt bigint), <= n_bins rows. Values
    outside the domain clamp into the edge bins. Merge = counter
    addition (same shape as `cms_merge`).

    Against KLL/t-digest this trades adaptivity for DETERMINISM: the
    bitmap is pure integer math, so estimates are bit-reproducible
    across engines and the quantile error is bounded by one bin width
    (known in advance from the declared domain)."""
    w = (hi - lo) / n_bins
    b = F.floor((F.col(col) - F.lit(lo)) / F.lit(w)).cast("int")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
    return df.select(b.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def histogram_quantile(
    hist: DataFrame, qs: list[float], lo: float, hi: float, n_bins: int = 256
) -> DataFrame:
    """Quantile estimates from the histogram: for each q, locate the bin
    where the cumulative count crosses ceil(q*N) and linearly
    interpolate inside it. One window over <= n_bins rows (a broadcast-
    scale table — the heavy lifting happened in the build's map-side
    combine).

    Returns one row per q: (q double, est double)."""
    from pyspark.sql import Window

    w = (hi - lo) / n_bins
    win = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(win)).withColumn(
        "total", F.sum("cnt").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
    )
    outs = []
    for q in qs:
        target = F.ceil(F.lit(float(q)) * F.col("total"))
        hit = (
            cum.where(F.col("cum") >= target)
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(float(q)).alias("q"),
                F.round(
                    F.lit(lo)
                    + (F.col("bin") + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt"))
                    * F.lit(w),
                    6,
                ).alias("est"),
            )
        )
        outs.append(hit)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (Misra & Gries 1982) — candidates + exact verify
# ---------------------------------------------------------------------------


def mg_fold(d: dict, items, k: int) -> dict:
    """Fold weighted (key, count) items into a Misra-Gries summary of at
    most ``k - 1`` counters, in place: a new key either takes a free
    slot or triggers a decrement round subtracting the current minimum
    from ALL counters (dropping zeros). Every decrement round removes
    >= k units of mass, so total undercount per key <= mass/k. Folding
    one summary's counters into another IS the MG merge, so the same
    routine serves partition scans and cross-batch streaming state."""
    for key, c in items:
        d[key] = d.get(key, 0) + int(c)
        while len(d) > k - 1:
            # mutate IN PLACE — callers hold a reference to d across folds
            m = min(d.values())
            for kk in [kk for kk, v in d.items() if v <= m]:
                del d[kk]
            for kk in d:
                d[kk] -= m
    return d


def _keyed_schema(df: DataFrame, gcols: list, ddl: str) -> T.StructType:
    """Output schema of a keyed sketch stage: ``df``'s ``gcols`` fields
    (types kept) followed by the ``ddl`` columns."""
    return T.StructType(
        [df.schema[c] for c in gcols] + T.DataType.fromDDL(ddl).fields
    )


def mg_summary(
    df: DataFrame, key_col: str, k: int = 128, group_cols=()
) -> DataFrame:
    """Per-(partition, group) Misra-Gries summaries with residual
    weights, unioned: (*group_cols, key string, wt bigint), <= (k-1)
    rows per (scan task, group); no ``group_cols`` is one group.

    A key with partition-group frequency > n_pg / k survives that
    summary, so by pigeonhole any key with group frequency > N_g / k
    appears in the union — the no-false-negative candidate property,
    per group. The residual weights are what make summaries MERGEABLE
    (fold one summary's counters into another via `mg_fold`), which the
    streaming maintenance path relies on. One mapInPandas pass,
    O(groups_in_task * k) state per task, no shuffle. Rows whose key or
    group is NULL never become candidates.
    """
    import pandas as pd

    gcols = list(group_cols)

    def mg(batches):
        ds: dict = {}
        for pdf in batches:
            parts = pdf.groupby(gcols, sort=False) if gcols else [((), pdf)]
            for g, part in parts:
                mg_fold(ds.setdefault(g, {}), part["key"].value_counts().items(), k)
        rows = [(*g, key, w) for g, d in ds.items() for key, w in d.items()]
        out = pd.DataFrame(rows, columns=[*gcols, "key", "wt"])
        out["key"] = out["key"].astype("string")
        yield out

    keys = df.select(*gcols, F.col(key_col).cast("string").alias("key"))
    return keys.mapInPandas(mg, _keyed_schema(df, gcols, "key string, wt bigint"))


def mg_candidates(
    df: DataFrame, key_col: str, k: int = 128, group_cols=()
) -> DataFrame:
    """Distinct union of the per-(partition, group) MG summaries — the
    candidate superset of every key with group frequency > N_g/k."""
    return mg_summary(df, key_col, k, group_cols).select(
        *group_cols, "key"
    ).distinct()


def heavy_hitters(
    df: DataFrame, key_col: str, k: int = 128, group_cols=()
) -> DataFrame:
    """Exact counts of every key with frequency strictly > N/k — per
    ``group_cols`` group, > N_g/k ("trending items per segment") — found
    WITHOUT a full groupBy over the key space.

    Pass 1 (`mg_candidates`): bounded-state scan -> candidate table
    (<= tasks * (k-1) rows per group, broadcastable by construction).
    Pass 2: one scan counting ONLY candidate keys (non-candidates
    collapse into a single NULL key per group), so shuffle volume is
    O(tasks * k) partials per group — independent of the true key
    cardinality, which is what a 100 TB group-by-user_id cannot say.
    The MG guarantee makes pass 2's candidate set a superset of the
    answer; the exact counts then drop false positives, so the output
    is exactly the true heavy hitters with exact counts.

    Output: (*group_cols, key string, n bigint), n * k > N (or N_g).
    """
    return heavy_hitters_verify(
        df, key_col, mg_candidates(df, key_col, k, group_cols), k, group_cols
    )


def heavy_hitters_verify(
    df: DataFrame, key_col: str, candidates: DataFrame, k: int, group_cols=()
) -> DataFrame:
    """Exact-verification pass shared by the batch and streaming heavy-
    hitter paths: count ONLY candidate (group, key) pairs (non-
    candidates collapse into one NULL key per group, so shuffle
    partials are O(tasks * k)), derive each group's total from the same
    aggregation, keep keys with n * k > total. ``candidates`` must carry
    the ``group_cols`` and a string `key` column, hold each pair once,
    and be a superset of the true heavy hitters (the MG guarantee)."""
    gcols = list(group_cols)
    cands = candidates.select(*gcols, "key").withColumn("is_c", F.lit(True))
    rows = df.select(*gcols, F.col(key_col).cast("string").alias("key"))
    flagged = rows.join(F.broadcast(cands), [*gcols, "key"], "left")
    counts = flagged.groupBy(
        *gcols, F.when(F.col("is_c"), F.col("key")).alias("key")
    ).agg(F.count(F.lit(1)).alias("n"))
    total = F.broadcast(counts.groupBy(*gcols).agg(F.sum("n").alias("n_total")))
    hits = counts.where(F.col("key").isNotNull())
    hits = hits.join(total, gcols) if gcols else hits.crossJoin(total)
    return hits.where(F.col("n") * k > F.col("n_total")).select(*gcols, "key", "n")


# ---------------------------------------------------------------------------
# t-digest (Dunning & Ertl 2019) — deterministic bucket-keyed variant
# ---------------------------------------------------------------------------


def _tdigest_compress(means, weights, delta: int):
    """Greedy merging-digest pass over (mean, weight) pairs sorted by
    mean, using the k1 scale function k(q) = (delta/2pi) asin(2q-1):
    consecutive pairs merge while the combined centroid spans <= 1
    k-unit. k1's slope explodes at q -> 0/1, so tail centroids hold few
    points (tail-accurate where equi-width histograms are not) while
    the total k-range delta/2 caps the centroid count at ~delta."""
    import math

    import numpy as np

    order = np.argsort(means, kind="mergesort")
    means, weights = np.asarray(means)[order], np.asarray(weights)[order]
    total = float(weights.sum())

    def k(q):
        return delta / (2.0 * math.pi) * math.asin(
            max(-1.0, min(1.0, 2.0 * q - 1.0))
        )

    out_m, out_w = [], []
    cur_m, cur_w, w_before = float(means[0]), float(weights[0]), 0.0
    for m, w in zip(means[1:], weights[1:]):
        q0 = w_before / total
        q2 = (w_before + cur_w + float(w)) / total
        if k(q2) - k(q0) <= 1.0:
            cur_m = (cur_m * cur_w + float(m) * float(w)) / (cur_w + float(w))
            cur_w += float(w)
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_before += cur_w
            cur_m, cur_w = float(m), float(w)
    out_m.append(cur_m)
    out_w.append(cur_w)
    return out_m, out_w


def _keyed_groups(df: DataFrame, gcols: list):
    """``df`` grouped on ``gcols`` — or, with none, as ONE group on a
    constant `__g` column that the grouped functions never emit."""
    if gcols:
        return df.groupBy(*gcols)
    return df.withColumn("__g", F.lit(0)).groupBy("__g")


def tdigest_build(
    df: DataFrame,
    value_col: str,
    delta: int = 100,
    n_buckets: int = 16,
    group_cols=(),
) -> DataFrame:
    """Distributed t-digest per ``group_cols`` group (no group columns:
    one digest): rows hash into ``n_buckets`` DETERMINISTIC buckets
    (md5 of the value's string form — layout-independent, so the digest
    is reproducible across engines, partitionings, and retries, unlike
    per-physical-partition digests); each (group, bucket) cell builds
    its own digest with `applyInPandas` (sorted one-pass greedy k1
    merge, ~delta centroids); `tdigest_merge` folds the bucket digests
    into one per group. State is |groups| x n_buckets x ~2*delta
    centroid rows — never raw data — so a per-type p99 over 100 TB
    moves megabytes.

    vs the equi-width `histogram_build`: no [lo, hi] range needs to be
    known up front, and centroid widths shrink toward the tails, so
    extreme quantiles stay accurate on skewed data where fixed-width
    bins collapse into one bucket.

    Output: (*group_cols, bucket int, centroid_mean double,
    centroid_weight double).
    """
    import pandas as pd

    gcols = list(group_cols)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(value_col).cast("string")), 1, 6), 16, 10
        ).cast("long")
        % n_buckets
    ).cast("int")
    vals = df.select(
        *gcols, bucket.alias("bucket"), F.col(value_col).cast("double").alias("v")
    )

    def digest(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["v"].to_numpy(dtype=float)
        m, w = _tdigest_compress(v, [1.0] * len(v), delta)
        return pd.DataFrame(
            {
                **{c: pdf[c].iloc[0] for c in gcols},
                "bucket": pdf["bucket"].iloc[0],
                "centroid_mean": m,
                "centroid_weight": w,
            }
        )

    return vals.groupBy(*gcols, "bucket").applyInPandas(
        digest,
        _keyed_schema(
            df, gcols, "bucket int, centroid_mean double, centroid_weight double"
        ),
    )


def tdigest_merge(*digests: DataFrame, delta: int = 100, group_cols=()) -> DataFrame:
    """Merge digests (bucketed or already-merged) into ONE digest of
    ~delta centroids per ``group_cols`` group: union the centroid tables
    (each bounded) and re-compress each group in one bounded
    `applyInPandas` call over centroid rows only. Centroid merging is
    the t-digest's mergeability contract — per-day digests roll up
    without touching raw data. Output: (*group_cols, centroid_mean,
    centroid_weight)."""
    import pandas as pd

    gcols = list(group_cols)
    out = digests[0]
    for d in digests[1:]:
        out = out.unionByName(d)

    def compress(pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = _tdigest_compress(
            pdf["centroid_mean"].to_numpy(),
            pdf["centroid_weight"].to_numpy(),
            delta,
        )
        return pd.DataFrame(
            {
                **{c: pdf[c].iloc[0] for c in gcols},
                "centroid_mean": m,
                "centroid_weight": w,
            }
        )

    return _keyed_groups(out, gcols).applyInPandas(
        compress,
        _keyed_schema(out, gcols, "centroid_mean double, centroid_weight double"),
    )


def tdigest_quantile(digest: DataFrame, qs: list[float], group_cols=()) -> DataFrame:
    """Quantile estimates from merged digests, one row per (group, q):
    linear interpolation between centroid means at the target
    cumulative weight (each centroid's mass centered at its midpoint).
    Runs per group inside `applyInPandas` — no driver collect, since the
    group count may be large even though each digest is tiny; centroids
    sort STABLY by mean, so equal means keep their digest order.

    Output: (*group_cols, q double, est double)."""
    import numpy as np
    import pandas as pd

    gcols = list(group_cols)
    qlist = [float(q) for q in qs]

    def est(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("centroid_mean", kind="stable")
        means = pdf["centroid_mean"].to_numpy()
        weights = pdf["centroid_weight"].to_numpy()
        acc = np.cumsum(weights)
        total = float(acc[-1])
        # midpoint positions: (mass before the centroid) + w/2
        cum = np.concatenate(([0.0], acc[:-1])) + weights / 2.0
        key = [pdf[c].iloc[0] for c in gcols]
        out = []
        for q in qlist:
            target = q * total
            if target <= cum[0]:
                e = means[0]
            elif target >= cum[-1]:
                e = means[-1]
            else:
                i = int(np.searchsorted(cum, target, side="left"))
                frac = (target - cum[i - 1]) / (cum[i] - cum[i - 1])
                e = means[i - 1] + frac * (means[i] - means[i - 1])
            out.append((*key, q, float(e)))
        return pd.DataFrame(out, columns=[*gcols, "q", "est"])

    return _keyed_groups(digest, gcols).applyInPandas(
        est, _keyed_schema(digest, gcols, "q double, est double")
    )


def cms_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Equi-join CARDINALITY ESTIMATE from two count-min sketches built
    with identical (depth, width, salt): the classic CM inner-product
    estimator (Cormode-Muthukrishnan 2005, AMS before it) —
    |A join B| <= min_d sum_b cms_A[d][b] * cms_B[d][b], an upper bound
    that tightens as width grows.

    This is the join-planning primitive: at 100 TB you estimate the
    output of a fact-to-fact join from two depth*width counter tables
    (KBs, built map-side in one pass each) BEFORE committing to a
    shuffle strategy — the sketches are the only thing that ever moves.
    Pure integer arithmetic (counter products summed per hash row, MIN
    across rows), so the estimate is deterministic and engine-exact.

    Returns one row: (est BIGINT).
    """
    a = sketch_a.select("d", "bucket", F.col("cnt").alias("cnt_a"))
    b = sketch_b.select("d", "bucket", F.col("cnt").alias("cnt_b"))
    # The per-bucket product of two ~1e12-row-side sketches exceeds
    # 2^63 (Spark wraps silently in non-ANSI mode) — accumulate in
    # decimal(38,0) and only narrow the final MIN back to long.
    per_row = (
        a.join(b, ["d", "bucket"])
        .groupBy("d")
        .agg(
            F.sum(
                F.col("cnt_a").cast("decimal(38,0)") * F.col("cnt_b")
            ).alias("ip")
        )
    )
    # a hash row with NO shared buckets has inner product 0 — the
    # tightest bound there is. The inner join drops such rows, so
    # re-anchor on the full 0..depth-1 axis (from the parameter, NOT
    # from sketch_a's rows — an empty input sketch has no rows at all
    # and must still estimate 0, not NULL) and fill the holes with 0
    # before taking the MIN.
    d_axis = sketch_a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("d")
    )
    filled = d_axis.join(per_row, "d", "left").select(
        F.coalesce(F.col("ip"), F.lit(0).cast("decimal(38,0)")).alias("ip")
    )
    # Saturate at Long.MaxValue before narrowing: a bound past 2^63-1
    # means "bigger than any representable join" — a planner wants the
    # sentinel max, not NULL (and never a silently wrapped negative).
    long_max = F.lit(int(2**63 - 1)).cast("decimal(38,0)")
    return filled.agg(
        F.least(F.min("ip"), long_max).cast("long").alias("est")
    )


def hll_overlap(
    regs_a: DataFrame, regs_b: DataFrame, b: int = 8
) -> DataFrame:
    """Audience-overlap estimation from two HLL register tables built
    with identical (b, salt): |A union B| comes free from the register
    MAX-merge (the HLL property that makes per-segment sketches
    composable), and |A intersect B| follows by inclusion-exclusion —
    est(A) + est(B) - est(A u B). The classic segment-overlap question
    ("how many users did both X and Y") answered from two <= 2^b-row
    sketches, never by joining raw identity sets.

    Inclusion-exclusion error grows as the true intersection shrinks
    relative to the union (both operand errors land on the difference) —
    the standard caveat; callers wanting relative-error guarantees on
    tiny overlaps need MinHash signatures instead. All register
    arithmetic is the deterministic md5 recipe, and the three estimates
    are rounded before the subtraction, so the result is engine-exact.

    Returns one row:
    (est_a, est_b, est_union, est_intersection — doubles, rounded).
    """
    est_a = hll_estimate(regs_a, b=b).select(
        F.col("hll_est").alias("est_a")
    )
    est_b = hll_estimate(regs_b, b=b).select(
        F.col("hll_est").alias("est_b")
    )
    est_u = hll_estimate(hll_merge(regs_a, regs_b), b=b).select(
        F.col("hll_est").alias("est_union")
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 6
            ).alias("est_intersection"),
        )
    )
