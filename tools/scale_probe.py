"""Scaling-curve probe: time selected contract queries at every testdata
SF and report the growth exponent — the empirical check behind the 100 TB
claims (a plan that survives scale shows time growing ~linearly in input
size; a quadratic candidate-generation or driver-collect bottleneck shows
up as an exponent near 2 between sf0.01 and sf0.1).

Each query runs twice per SF and keeps the better time (absorbs JVM/
codegen warmup). Exponent = log(t_hi/t_lo) / log(10) between adjacent
SFs (testdata SFs are decades apart).

Usage: python tools/scale_probe.py [query ...]   (default: heavy set)
       python tools/scale_probe.py --big [--factors=2,4] [query ...]
         (default: keyed-primitive consumers) — also probes synthetic
         sf0.2 / sf0.4 (and sf1 with --factors=2,4,10) built by
         replicating the driver's sf0.1 parquet with id-shifted copies
         (PERFORMANCE ONLY — correctness stays on the driver testdata),
         and prints the driver-collect cell count per SF, which must
         stay flat (≈ n_partitions + n_keys) while rows double.

CAVEAT — never --big-probe NEAR-DUP queries: the id-shifted replicas
make every document a TRUE near-duplicate of its 2/4/10 copies, so the
candidate-pair OUTPUT itself grows quadratically in the copy factor by
construction (measured: split_leakage_report 4.4 -> 421s at factor 10
on replicas, vs a sub-linear +0.43 exponent per 10x on the REAL
sf0.001/0.01/0.1 ladder). Replica probing measures duplicate-count
growth, not engine scaling; use the default real-SF probe for any
dedup/similarity query.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from henbun_spark import sources

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

DEFAULT = [
    "q1_pricing_summary",
    "q3_top_orders",
    "dedup_minhash_lsh",
    "dedup_jaccard",
    "dedup_components",
    "simhash_near_pairs",
    "emb_near_dup_lsh",
    "chunk_dedup_docs",
    "lm_score_docs",
    "gapfill_hourly_locf",
    "gapfill_hourly_interp",
    "bpe_train_encode",
    "sessionize_events",
    "heavy_hitters_users",
    "boilerplate_chunks_docs",
    "assemble_training_corpus",
    # round-5 scale-path queries (keyed ranks / percentiles / prefix sums)
    "equidepth_histogram",
    "rank_gauss_value",
    "percentile_quantity",
    "anomaly_mad_events",
    "winsorize_value_by_type",
    "weighted_percentile_price",
    "cap_docs_per_source",
    "upsample_epochs_sources",
    "pack_materialize_docs",
    "sample_per_group",
]


#: --big mode: the keyed-primitive consumers whose 100 TB story rests on
#: the bounded driver collect / order-aligned cells staying flat.
BIG_DEFAULT = [
    "percentile_quantity",       # keyed_percentiles_exact (lineitem)
    "weighted_percentile_price", # keyed_percentiles_exact(weight_col=)
    "equidepth_histogram",       # keyed_prefix_sum keyed rank (events)
    "anomaly_mad_events",        # two percentile passes
    "pack_materialize_docs",     # md5_bucketed_prefix_sum (documents)
    "cap_docs_per_source",       # distributed rank quota
    # r7 additions (VERDICT item 8): the r6 fast paths at larger SFs
    "robust_scale_value",        # keyed_median_mad one-job histogram
    "budget_select_docs",        # keyed_prefix_sum (take_budget)
    "row_ids_documents",         # keyed_prefix_sum global rank mode
    "source_kl_matrix",          # factored-KL decimal bucket sums
]

#: tables the BIG_DEFAULT queries read; replicated into the synthetic SFs
#: (orders shifts by the SAME constant as lineitem so the orderkey join
#: stays 1:1 across copies; embeddings copies are exact-duplicate
#: vectors under new ids — fine for perf, another reason replicas are
#: never a correctness input)
BIG_TABLES = ["events", "lineitem", "documents", "orders", "embeddings"]


def force(df):
    df.write.format("noop").mode("overwrite").save()


def build_big_sf(spark, factor: int, out_root: str = "/tmp/henbun_scale"):
    """Materialize a synthetic sf0.1*factor directory by unioning
    id-shifted copies of the driver's sf0.1 tables (key-distribution-
    preserving: group keys like event_type/source/returnflag keep their
    cardinality, id columns shift so dedup/rank semantics stay sane).
    Performance probing only — never a correctness input."""
    from pyspark.sql import functions as F

    out_dir = os.path.join(out_root, f"sf{0.1 * factor:g}")
    if all(
        os.path.exists(os.path.join(out_dir, f"{t}.parquet"))
        for t in BIG_TABLES
    ):
        return out_dir
    shifts = {
        "events": ("event_id", 10_000_000),
        "lineitem": ("l_orderkey", 10_000_000),
        "documents": ("doc_id", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "embeddings": ("vec_id", 10_000_000),
    }
    for t in BIG_TABLES:
        base = sources.load_table(spark, "/root/testdata/sf0.1", t)
        idc, step = shifts[t]
        parts = [
            base.withColumn(idc, F.col(idc) + F.lit(i * step))
            for i in range(factor)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    return out_dir


def probe(spark, qs, names, sf_dirs, show_cells=False):
    from henbun_spark.operators import relational

    hdr = " ".join(f"{os.path.basename(s):>9s}" for s in sf_dirs)
    tail = "  cells/SF" if show_cells else "  exp(last step)"
    print(f"{'query':28s} {hdr}{tail}")
    for name in names:
        times, cells = [], []
        for sf_dir in sf_dirs:
            best = float("inf")
            # reset so a query with NO driver cells collect (the binned
            # in-plan routes) reports 0, not the previous query's count
            relational.LAST_SCAFFOLD_CELLS = 0
            for _ in range(2):
                t0 = time.time()
                force(qs[name](spark, sf_dir))
                best = min(best, time.time() - t0)
                relational.release_scaffold_caches()
            times.append(best)
            cells.append(relational.LAST_SCAFFOLD_CELLS)
        row = f"{name:28s} " + " ".join(f"{t:9.2f}" for t in times)
        if show_cells:
            row += "  " + "/".join(str(c) for c in cells)
        else:
            ratio = (
                math.log(times[-1] / times[-2]) / math.log(10)
                if times[-2] > 0
                else float("nan")
            )
            row += f"  {ratio:+.2f}"
        print(row)


def main():
    args = sys.argv[1:]
    big = "--big" in args
    args = [a for a in args if a != "--big"]
    factors = (2, 4)
    partitions = None
    for a in list(args):
        if a.startswith("--factors="):
            factors = tuple(int(x) for x in a.split("=", 1)[1].split(","))
            args.remove(a)
        elif a.startswith("--partitions="):
            # clamp-edge probing: a big-cluster shuffle width (e.g. 8192)
            # drives the binned primitives' n_bins request past
            # MAX_VALUE_BINS, exercising the 4096-bin clamp + the
            # accuracy=max(100, 2*n_bins) percentile_approx scaling
            partitions = int(a.split("=", 1)[1])
            args.remove(a)
    spark = sources.get_spark(
        "henbun-scale-probe",
        **({"shuffle_partitions": partitions} if partitions else {}),
    )
    qs = entry_mod.queries()
    if big:
        names = args or BIG_DEFAULT
        dirs = ["/root/testdata/sf0.1"]
        for factor in factors:
            print(f"# building synthetic sf{0.1 * factor:g} ...")
            dirs.append(build_big_sf(spark, factor))
        # doubling SFs: linear scaling shows time ratio ~2 per step and
        # a FLAT cells column (driver collect independent of rows)
        probe(spark, qs, names, dirs, show_cells=True)
    else:
        names = args or DEFAULT
        probe(spark, qs, names, SFS)


if __name__ == "__main__":
    main()
