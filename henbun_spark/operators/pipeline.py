"""Corpus-assembly operators: source mixing, sequence packing, benchmark
contamination — the steps between "cleaned documents" and "training
batches" in an LLM data pipeline (SURVEY §2.11; no reference analogue).

Design rules shared by every operator here:

* determinism beats RNG — sampling/ordering decisions key off
  ``md5(salt|id)`` (see ``sampling._hash_bucket``), so results are
  identical under repartitioning, retries, speculative execution, and
  across engines (the DuckDB oracles mirror the same nibble arithmetic);
* no driver-side loops — mixing is a pure-Column filter (zero shuffle),
  packing is the md5-bucketed prefix sum (`relational.
  md5_bucketed_prefix_sum`: per-(shard, hash-prefix bucket) windows plus
  an in-plan offsets table, never one window per shard), contamination
  is an inverted-index semi-join (shuffle keyed on the n-gram, never a
  cross join of corpus x benchmark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from henbun_spark.operators.dedup import char_shingles
from henbun_spark.operators.sampling import _hash_bucket

__all__ = [
    "mix_sources",
    "mix_temperature",
    "upsample_epochs",
    "pack_sequences",
    "materialize_packed_sequences",
    "contamination_overlap",
]


def mix_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    rates_pct: dict[str, int],
    salt: str = "mix",
    default_pct: int = 0,
) -> DataFrame:
    """Weighted re-mix of a multi-source corpus: keep ``rates_pct[source]``
    percent of each source's rows, chosen deterministically by id hash.

    A 100 TB-safe sampler: pure Column filter — no shuffle, no RNG state,
    pushdown-friendly — and *stable*: growing a source keeps previously
    selected ids selected (new ids are admitted at the same rate), which
    is what incremental corpus rebuilds need.  Rates are integer percent
    (the hash bucket is mod 100) so the cut is exact, not approximate.
    """
    keep = F.lit(default_pct)
    for src, pct in sorted(rates_pct.items()):
        keep = F.when(F.col(source_col) == src, F.lit(int(pct))).otherwise(keep)
    return df.where(_hash_bucket(F.col(id_col), salt) < keep)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    part_col: str,
    salt: str = "pack",
) -> DataFrame:
    """Next-fit sequence packing by stream offset: documents are laid out
    in a deterministic md5 order within each ``part_col`` shard, and each
    document's bin is the training-sequence index where its first token
    lands (``floor(start_offset / budget)``) — the streaming formulation
    of packing, where documents may straddle bin boundaries exactly as a
    token stream fed to a fixed-length batcher would.

    The running offset is the md5-bucketed distributed prefix sum
    (`relational.md5_bucketed_prefix_sum`) rather than a `sum() OVER
    (PARTITION BY shard ...)` window: shard columns are low-cardinality
    (sources, dates), so the keyed window would sort ~1/|shards| of the
    corpus in ONE task at 100 TB, while the hash-prefix buckets are
    order-aligned contiguous slices — per-(shard, bucket) windows plus
    an in-plan tiny bucket-offset table, no driver round-trip, same
    single data shuffle. Integer token counts make the offsets bitwise
    identical to the window's. Adds ``start_offset`` and ``bin``.

    BREAKING (since the distributed-prefix-sum rewrite): ``token_col``
    must be an INTEGER type — a fractional column now raises
    ValueError instead of being silently cast to long (fractional
    running sums are not exact under regrouping, so they would break
    the bitwise-offset guarantee). Pre-cast integral-valued floats:
    ``df.withColumn(tok, F.col(tok).cast("long"))``.
    """
    from henbun_spark.operators import relational

    h = F.md5(
        F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string"))
    )
    packed = relational.md5_bucketed_prefix_sum(
        df.withColumn("__h", h),
        part_col,
        "__h",
        id_col,
        token_col,
        out_name="start_offset",
    ).drop("__h")
    return packed.withColumn(
        "bin", F.floor(F.col("start_offset") / F.lit(int(budget)))
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 12,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark-contamination scan: corpus documents sharing at least
    ``min_overlap`` distinct character ``n``-grams with ANY benchmark
    document.

    The benchmark side collapses to its DISTINCT n-gram set (typically
    thousands of grams — benchmark suites are small next to the corpus),
    and the corpus's inverted index semi-joins against it keyed on the
    gram: shuffle traffic is O(matching grams), never corpus x benchmark.
    Long grams (default 12 chars) make coincidental overlap rare, the
    standard n-gram-overlap decontamination heuristic.

    Returns (id, n_overlap) for flagged documents — feed to an anti-join
    to drop them.
    """
    bench_grams = (
        char_shingles(benchmark, text_col, id_col, n=n)
        .select("shingle")
        .distinct()
    )
    corpus_grams = char_shingles(corpus, text_col, id_col, n=n)
    return (
        corpus_grams.join(bench_grams, "shingle", "left_semi")
        .groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .where(F.col("n_overlap") >= int(min_overlap))
    )


def _hash_ppm(col, salt: str):
    """Parts-per-million hash bucket: first 6 md5 nibbles of ``salt|id``
    mod 1e6 — the fine-grained sibling of ``sampling._hash_bucket`` for
    keep-rates that are not integer percents."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), col.cast("string")))
    return (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 1000000).cast(
        "int"
    )


def mix_temperature(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weight_col: str,
    target_frac: float = 0.5,
    salt: str = "mixT",
) -> DataFrame:
    """Temperature-based source re-balancing (T = 0.5): sample sources
    proportionally to sqrt of their size instead of their size, so small
    sources are up-weighted relative to large ones — the multinomial
    mixing rule used for multilingual/multi-domain training corpora,
    with the temperature fixed at 1/2 because sqrt is IEEE-exact in
    every engine (an arbitrary pow(n, T) differs in the last ulp across
    libms and would make keep decisions non-portable).

    Two-phase, zero wide state: (1) one map-side-combinable groupBy
    computes per-source weight mass n_s (sum of ``weight_col``, e.g.
    token counts); p_s = sqrt(n_s)/W gives each source's share of the
    target budget M = target_frac * N, hence a per-source keep rate
    r_s = min(1, M*p_s/n_s), quantized to ppm; (2) the keep decision is
    a deterministic per-row hash compare against r_s broadcast back onto
    the corpus — a stable sampler (growing a source keeps prior picks).
    sqrt values are rounded to 9 dp and summed as decimals so W is
    order-independent; everything downstream is fixed-order double
    arithmetic, reproducible bit-for-bit by an oracle.

    Returns the kept rows plus (src_mass, keep_ppm) audit columns.
    """
    per_src = df.groupBy(source_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("src_mass")
    )
    wsqrt = F.round(F.sqrt(F.col("src_mass").cast("double")), 9).cast(
        "decimal(38,9)"
    )
    rates = (
        per_src.withColumn("wsq", wsqrt)
        .crossJoin(
            F.broadcast(
                per_src.agg(
                    F.sum(wsqrt).alias("wsq_total"),
                    F.sum(F.col("src_mass")).alias("mass_total"),
                )
            )
        )
        .select(
            source_col,
            "src_mass",
            F.least(
                F.lit(1.0),
                F.lit(float(target_frac))
                * F.col("mass_total").cast("double")
                * (F.col("wsq").cast("double") / F.col("wsq_total").cast("double"))
                / F.col("src_mass").cast("double"),
            ).alias("rate"),
        )
        .select(
            source_col,
            "src_mass",
            F.round(F.col("rate") * 1e6).cast("int").alias("keep_ppm"),
        )
    )
    return df.join(F.broadcast(rates), source_col).where(
        _hash_ppm(F.col(id_col), salt) < F.col("keep_ppm")
    )


def upsample_epochs(
    df: DataFrame,
    source_col: str,
    id_col: str,
    rates: dict,
    default_rate: float = 1.0,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic multi-EPOCH source mixing — the other half of
    corpus re-balancing that `mix_temperature` (keep-rates <= 1) cannot
    express: high-quality small sources run MORE than one epoch (wiki
    x3.4, books x2) while the big crawl runs a fraction of one. Each
    row's copy count is

        n = floor(rate) + 1[hash_ppm(salt|id) < frac(rate) * 1e6]

    so a source with rate 3.4 emits every row 3 times plus a
    deterministic 40% of rows a 4th time — exactly rate x mass in
    expectation, reproducible across runs/engines/partitionings (md5
    decides, never RNG), stable under corpus growth (a new row never
    changes an old row's copies). Rates are quantized to ppm. Copies
    are materialized by `explode(sequence(0, n-1))` with an ``epoch``
    index column (0 = first pass) so downstream shuffles/packing can
    keep epochs apart; unlisted sources take ``default_rate``.

    Scale shape: one broadcast rates join + one map-side explode — no
    shuffle at all; output size is rate-weighted input size, the
    irreducible cost of materializing epochs. (If downstream is a
    streaming trainer, prefer feeding epochs as separate passes;
    materialization is for shard-writing pipelines.)
    """
    spark = df.sparkSession
    stype = df.schema[source_col].dataType

    def split(r: float):
        ppm = int(round(float(r) * 1e6))
        if ppm < 0:
            raise ValueError(f"negative rate {r}")
        return ppm // 1000000, ppm % 1000000

    rows = [(s, *split(r)) for s, r in rates.items()]
    rdf = F.broadcast(
        spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField(source_col, stype),
                    T.StructField("__base", T.IntegerType()),
                    T.StructField("__frac", T.IntegerType()),
                ]
            ),
        )
    )
    dbase, dfrac = split(default_rate)
    n = F.coalesce(F.col("__base"), F.lit(dbase)) + F.when(
        _hash_ppm(F.col(id_col), salt)
        < F.coalesce(F.col("__frac"), F.lit(dfrac)),
        1,
    ).otherwise(0)
    return (
        df.join(rdf, source_col, "left")
        .withColumn("__n", n)
        .where(F.col("__n") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1))
        )
        .drop("__base", "__frac", "__n")
    )


def materialize_packed_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_col: str,
    budget: int,
    part_col: str,
    salt: str = "pack",
    sep: str = "\x1e",
) -> DataFrame:
    """Turn `pack_sequences`' bin assignments into the actual training
    sequences: per (shard, bin), concatenate member documents in stream
    order (start_offset, id) with a separator token — the final
    shard-writing step of corpus assembly.

    One additional shuffle keyed on (shard, bin) — a HIGH-cardinality
    composite (bins ~ total_tokens / budget), so groups are ~budget
    tokens each and the per-group sort/concat state is bounded by the
    sequence length by construction. Output:
    (part_col, bin, n_docs, seq_tokens, seq_text).
    """
    packed = pack_sequences(df, id_col, token_col, budget, part_col, salt)
    member = F.struct(
        F.col("start_offset"), F.col(id_col).alias("__id"), F.col(text_col)
    )
    agg = packed.groupBy(part_col, "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col).cast("long")).alias("seq_tokens"),
        # null_replacement keeps the n_docs-1 separator invariant when a
        # member doc's text is NULL (array_join would silently drop it)
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(member)),
                lambda m: m[text_col],
            ),
            sep,
            "",
        ).alias("seq_text"),
    )
    return agg
