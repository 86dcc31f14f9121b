"""Structured Streaming: availableNow drains over file sources built from
the events table; batch-equivalence checks for windowed aggregation.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from henbun_spark import sources, streaming


@pytest.fixture(scope="module")
def event_files(spark, sf_dir, tmp_path_factory):
    """Events split across multiple parquet files (multiple micro-batches)."""
    base = str(tmp_path_factory.mktemp("evstream"))
    ev = sources.load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(base + "/in")
    schema = ev.schema
    return base, schema, ev


def test_windowed_counts_stream_equals_batch(spark, event_files, tmp_path):
    base, schema, ev = event_files
    stream = streaming.read_stream_parquet(spark, base + "/in", schema)
    agg = streaming.windowed_counts(stream, window="1 hour", watermark="2 hours")
    # complete-ish comparison: drain with availableNow in update->append via
    # parquet sink requires append mode; watermark makes windows final
    streaming.run_available_now(
        agg, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .select(
            F.col("window.start").alias("ws"), "event_type", "n", "sum_value"
        )
        .orderBy("ws", "event_type")
        .toPandas()
    )
    exp = (
        ev.groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value")
        .orderBy("ws", "event_type")
        .toPandas()
    )
    # append mode emits only windows closed by the watermark; every emitted
    # window must match the batch result exactly
    merged = got.merge(exp, on=["ws", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(got) and len(got) > 0
    np.testing.assert_array_equal(merged["n_s"].to_numpy(), merged["n_b"].to_numpy())
    np.testing.assert_allclose(
        merged["sum_value_s"].to_numpy(), merged["sum_value_b"].to_numpy(), rtol=1e-9
    )


def test_sessionize_stream_runs(spark, event_files, tmp_path):
    base, schema, ev = event_files
    stream = streaming.read_stream_parquet(spark, base + "/in", schema)
    sess = streaming.sessionize_stream(stream, gap_minutes=30)
    streaming.run_available_now(sess, str(tmp_path / "ckpt2"), str(tmp_path / "out2"))
    out = spark.read.parquet(str(tmp_path / "out2"))
    pdf = out.toPandas()
    # closed sessions only (state for still-open sessions never timed out
    # in availableNow mode) — every emitted session must be well-formed
    if len(pdf):
        assert (pdf["session_end"] >= pdf["session_start"]).all()
        assert (pdf["n_events"] >= 1).all()


def test_streaming_trainer_foreachbatch(spark, event_files, tmp_path):
    import henbun_spark as hb
    from henbun_spark import autodiff as ad
    from henbun_spark.spark_exec import ColumnData, SparkTrainer
    from henbun_spark.streaming import StreamingTrainer

    base, schema, ev = event_files

    class MeanModel(hb.Model):
        def setUp(self):
            self.v = ColumnData("value")
            self.mu = hb.Variable([1])

        def local_objective(self):
            return ad.sum(hb.densities.gaussian(self.v, self.mu * 100.0, 100.0**2))

    m = MeanModel()
    df_batch = ev.select("value")
    # plain GD: for this quadratic objective a step on a batch of n_b rows
    # contracts the error by (1 - lr*n_b); lr = 0.5/n_total guarantees
    # contraction for every micro-batch size (Adam's momentum can be
    # mid-overshoot at the exact step the drain ends)
    n_total = ev.count()
    tr = SparkTrainer(
        m, df_batch,
        optimizer=hb.model.GradientDescent(learning_rate=0.5 / n_total),
        cache=False,
    )
    st = StreamingTrainer(tr, steps_per_batch=6)
    stream = streaming.read_stream_parquet(spark, base + "/in", schema).select("value")
    q = st.attach(stream, str(tmp_path / "ckpt3"))
    q.awaitTermination()
    assert st.batches_seen >= 1
    assert tr.step_count >= 6
    true_mean = ev.agg(F.avg("value")).collect()[0][0]
    # foreachBatch steps contract the error toward the data mean
    assert abs(m.mu.value[0] * 100.0 - true_mean) < 0.5 * abs(true_mean)


def test_dedup_stream_bounded_state(spark, event_files, tmp_path):
    """Streaming exact dedup: duplicated input stream -> each event_id
    survives exactly once (state bounded by the watermark horizon)."""
    base, schema, ev = event_files
    dup_dir = str(tmp_path / "dup_in")
    # write the same events twice -> every key arrives duplicated
    ev.unionAll(ev).repartition(4).write.mode("overwrite").parquet(dup_dir)
    stream = streaming.read_stream_parquet(spark, dup_dir, schema)
    deduped = streaming.dedup_stream(
        stream, keys=["event_id"], ts_col="ts", watermark="10 days"
    )
    streaming.run_available_now(
        deduped, str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    )
    got = spark.read.parquet(str(tmp_path / "out2"))
    n_in = ev.count()
    assert got.count() == n_in
    assert got.select("event_id").distinct().count() == n_in


def test_interval_join_streams_equals_batch(spark, event_files, tmp_path):
    """Stream-stream interval join (clicks matched to purchases from the
    preceding 10 minutes, same user) drained with availableNow == the
    equivalent batch range join."""
    base, schema, ev = event_files
    clicks = streaming.read_stream_parquet(spark, base + "/in", schema).where(
        F.col("event_type") == "click"
    ).select("user_id", "ts", F.col("event_id").alias("click_id"))
    purchases = streaming.read_stream_parquet(spark, base + "/in", schema).where(
        F.col("event_type") == "purchase"
    ).select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    joined = streaming.interval_join_streams(
        clicks.withColumnRenamed("user_id", "l_user"),
        purchases.withColumnRenamed("p_user_id", "l_user"),
        on="l_user", left_ts="ts", right_ts="p_ts",
        upper="interval 10 minutes", watermark="2 hours",
    ).select("click_id", "purchase_id")
    streaming.run_available_now(
        joined, str(tmp_path / "ckpt_ij"), str(tmp_path / "out_ij")
    )
    got = (
        spark.read.parquet(str(tmp_path / "out_ij"))
        .orderBy("click_id", "purchase_id")
        .toPandas()
    )

    bc = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    bp = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    exp = (
        bc.join(
            bp,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.expr("ts - interval 10 minutes"))
            & (F.col("p_ts") <= F.col("ts")),
        )
        .select("click_id", "purchase_id")
        .orderBy("click_id", "purchase_id")
        .toPandas()
    )
    assert len(got) == len(exp) and len(got) > 0
    np.testing.assert_array_equal(
        got["click_id"].to_numpy(), exp["click_id"].to_numpy()
    )
    np.testing.assert_array_equal(
        got["purchase_id"].to_numpy(), exp["purchase_id"].to_numpy()
    )


def test_ewma_stream_equals_batch(spark, event_files, tmp_path):
    from henbun_spark.operators import relational

    base, schema, ev = event_files
    stream = streaming.read_stream_parquet(spark, base + "/in", schema)
    out = streaming.ewma_stream(stream, alpha=0.3)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_stream_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_df = spark.sql(
        "SELECT user_id, n_obs, ewma FROM ewma_stream_test"
    )
    # update mode: keep the last emitted row per user (final state)
    got = {
        r["user_id"]: r
        for r in got_df.collect()
    }
    exp = {
        r["user_id"]: r
        for r in relational.ewma_last(ev, "ts", "user_id", "value", 0.3).collect()
    }
    assert set(got) == set(exp)
    for uid, er in exp.items():
        assert got[uid]["n_obs"] == er["n_obs"], uid
        assert abs(got[uid]["ewma"] - er["ewma"]) < 1e-9, uid


def test_streaming_asof_exact_under_out_of_order_batches(spark, tmp_path):
    """Rows arrive across TWO micro-batches deliberately out of event
    order (batch 1 holds the LATER half); the watermark-ordered buffer
    must still reproduce the batch as-of join exactly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from henbun_spark import streaming
    from henbun_spark.operators import relational

    base = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    for u in (1, 2):
        for m in range(0, 600, 7):  # probes (left) every 7 min
            rows.append((u, (base + pd.Timedelta(minutes=m)).to_pydatetime(), 1, eid, 0.0)); eid += 1
        for m in range(3, 600, 50):  # right rows every 50 min
            rows.append((u, (base + pd.Timedelta(minutes=m)).to_pydatetime(), 0, eid, float(m))); eid += 1
    df = spark.createDataFrame(
        rows, "user_id: long, ts: timestamp, is_left: int, event_id: long, value: double"
    )
    # sentinel pushes the final watermark past every real row
    # sentinel must outrun the 12h watermark delay by more than the
    # stream's 10h span so the FINAL watermark seals every real row
    sent = [( -1, (base + pd.Timedelta(hours=23)).to_pydatetime(), 0, -1, 0.0)]
    sdf = spark.createDataFrame(
        sent, "user_id: long, ts: timestamp, is_left: int, event_id: long, value: double"
    )
    in_dir = str(tmp_path / "in")
    # batch 1 = LATE half (ts >= 5h), batch 2 = early half + sentinel
    df.where(F.col("ts") >= base + pd.Timedelta(hours=5)).coalesce(1).write.parquet(
        in_dir + "/f1"
    )
    df.where(F.col("ts") < base + pd.Timedelta(hours=5)).unionByName(sdf).coalesce(
        1
    ).write.parquet(in_dir + "/f2")
    # register both files under one dir in arrival order
    import shutil

    merged = str(tmp_path / "stream_in")
    os_files = []
    import os as _os

    _os.makedirs(merged)
    for i, sub in enumerate(["f1", "f2"]):
        for j, f in enumerate(sorted(_os.listdir(in_dir + "/" + sub))):
            if f.endswith(".parquet"):
                shutil.copy(f"{in_dir}/{sub}/{f}", f"{merged}/part-{i}{j}.parquet")
                os_files.append(f)
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(merged)
    out = streaming.asof_join_stream(stream, watermark="12 hours")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: r["last_value"]
        for r in spark.read.parquet(out_dir).collect()
    }
    left = df.where(F.col("is_left") == 1).select("user_id", "ts", "event_id")
    right = df.where(F.col("is_left") == 0).select(
        "user_id", "ts", F.col("value").alias("last_value")
    )
    exp = {
        r["event_id"]: r["last_value"]
        for r in relational.asof_join(
            left, right, on="ts", by="user_id", right_cols=["last_value"]
        ).collect()
    }
    assert got == exp
    assert len(got) == left.count()


@pytest.mark.parametrize("key_type", ["double", "string"])
def test_streaming_asof_rejects_non_integral_key(spark, tmp_path, key_type):
    """A non-integral key column raises TypeError when the join is
    built, before any query starts: the state keeps keys as int64, so a
    float key would be truncated into colliding keys and a string key
    would fail inside the first batch."""
    stream = spark.readStream.schema(
        f"user_id {key_type}, ts timestamp, is_left int, event_id long, value double"
    ).parquet(str(tmp_path))
    active = len(spark.streams.active)
    with pytest.raises(TypeError, match=f"'user_id'.*{key_type}"):
        streaming.asof_join_stream(stream, watermark="12 hours")
    assert len(spark.streams.active) == active


def test_mg_stream_maintenance_covers_hot_keys(spark, tmp_path):
    """MG state folded across micro-batches still covers every key above
    N/k of the WHOLE stream, with the hot key's rows scattered across
    batches (the per-batch share alone would not always qualify)."""
    import numpy as np
    import pandas as pd

    from henbun_spark import streaming
    from henbun_spark.operators import sketch

    rng = np.random.default_rng(11)
    keys = np.concatenate([rng.integers(0, 1000, 6000), np.full(500, 424242)])
    rng.shuffle(keys)
    pdf = pd.DataFrame({"k": keys})
    df = spark.createDataFrame(pdf)
    in_dir = str(tmp_path / "in")
    df.repartition(5).write.mode("overwrite").parquet(in_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.mg_stream_maintenance(
        stream, "k", str(tmp_path / "state"), str(tmp_path / "ckpt"), k=50
    )
    q.awaitTermination()
    state = streaming.load_state(spark, str(tmp_path / "state"))
    assert state.count() <= 49
    got = sketch.heavy_hitters_verify(df, "k", state, k=50).toPandas()
    vc = pd.Series(keys).value_counts()
    truth = vc[vc * 50 > len(keys)]
    assert set(got["key"]) == {str(k) for k in truth.index}
    assert "424242" in set(got["key"])


def test_pca_stream_maintenance_split_independent(spark, tmp_path):
    """Drained streaming PCA sufficient statistics are identical across
    different micro-batch splits (1-file vs 5-file drains of the same
    dyadic data — vector addition of exactly-representable values is
    order-free bit-for-bit), equal the one-shot batch stats, and the
    eigendecomposition from the state matches the batch fit exactly."""
    import numpy as np

    from pyspark.sql import functions as F

    from henbun_spark import streaming
    from henbun_spark.operators import decomposition

    df = spark.range(48).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double") - 3.0,
            ((F.col("id") * 3) % 5).cast("double") / 4.0,
            ((F.col("id") * 5) % 9).cast("double") - 4.0,
        ).alias("emb"),
    )
    states = []
    for nfiles in (1, 5):
        in_dir = str(tmp_path / f"in{nfiles}")
        df.repartition(nfiles).write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.pca_stream_maintenance(
            stream, "emb", str(tmp_path / f"state{nfiles}"),
            str(tmp_path / f"ckpt{nfiles}"),
        )
        q.awaitTermination()
        r = streaming.load_state(spark, str(tmp_path / f"state{nfiles}")).collect()[0]
        states.append((r["n"], list(r["s"]), list(r["g"])))
    assert states[0] == states[1], "micro-batch split changed the state"
    n, s, g = decomposition.suff_stats(df, "emb")
    assert states[0] == (n, list(s), list(g))
    got = decomposition.eig_from_stats(
        states[0][0], np.array(states[0][1]), np.array(states[0][2]), 2
    )
    exp = decomposition.pca_fit(df, "emb", k=2)
    for a, b in zip(got, exp):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))


def test_kmeans_stats_stream_split_independent(spark, tmp_path):
    """Streamed mini-batch-k-means sufficient stats (BIGINT counts +
    integer-unit coordinate sums per nearest-seed cluster) are identical
    across micro-batch splits (1-file vs 5-file drains) and equal the
    one-shot batch assignment+groupBy — integer folding is associative,
    and assignment depends only on the plan-time literal seeds, never on
    which batch a row arrived in.  Also pins the guards: empty and
    ragged centroid lists are refused."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from henbun_spark import streaming
    from henbun_spark.operators import clustering

    df = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            ((F.col("id") % 7).cast("double") - 3.0) / 8.0,
            (((F.col("id") * 3) % 5).cast("double") - 2.0) / 4.0,
            (((F.col("id") * 5) % 9).cast("double") - 4.0) / 16.0,
        ).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="non-empty"):
        clustering.assign_nearest_units(df, "u", [])
    with _pytest.raises(ValueError, match="one dimension"):
        clustering.assign_nearest_units(df, "u", [[1, 2], [1, 2, 3]])
    cents = [
        list(r["u"])
        for r in clustering.quantize_units(
            df.where(F.col("vec_id") < 3), "embedding"
        )
        .orderBy("vec_id")
        .select("u")
        .collect()
    ]

    def partials(d):
        w = clustering.quantize_units(d, "embedding")
        a = clustering.assign_nearest_units(w, "u", cents)
        return a.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.aggregate(
                    "u", F.lit(0).cast("long"), lambda acc, x: acc + x
                )
            ).alias("sum_units"),
        )

    drained = []
    for nfiles in (1, 5):
        in_dir = str(tmp_path / f"kin{nfiles}")
        df.repartition(nfiles).write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.mv_stream_maintenance(
            stream,
            partials,
            ["cluster"],
            str(tmp_path / f"kstate{nfiles}"),
            str(tmp_path / f"kckpt{nfiles}"),
        )
        q.awaitTermination()
        rows = sorted(
            (r["cluster"], r["n_vecs"], r["sum_units"])
            for r in streaming.load_state(
                spark, str(tmp_path / f"kstate{nfiles}")
            ).collect()
        )
        drained.append(rows)
    assert drained[0] == drained[1], "micro-batch split changed the state"
    batch = sorted(
        (r["cluster"], r["n_vecs"], r["sum_units"])
        for r in partials(df).collect()
    )
    assert drained[0] == batch


def test_mv_stream_maintenance_exact_merge(spark, tmp_path):
    """Drained streaming MV == batch aggregation (count + decimal sum
    merge is exact across arbitrary micro-batch splits)."""
    import pandas as pd

    from henbun_spark import streaming

    rows = pd.DataFrame(
        {
            "k": ["a", "b", "a", "b", "a", "c"] * 50,
            "v": [1.25, 2.5, 3.75, 0.5, 1.0, 9.0] * 50,
        }
    )
    df = spark.createDataFrame(rows)
    in_dir = str(tmp_path / "in")
    df.repartition(6).write.mode("overwrite").parquet(in_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
        )

    q = streaming.mv_stream_maintenance(
        stream, partials, ["k"], str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_state(spark, str(tmp_path / "state")).collect()
    }
    exp = {r["k"]: (r["n"], float(r["s"])) for r in partials(df).collect()}
    assert got == exp


def test_mv_stream_maintenance_partitioned_exact_and_scoped(spark, tmp_path):
    """Partition-scoped streaming MV == batch aggregation, with state
    hive-partitioned on the key and only touched partitions rewritten
    (key-disjoint batches leave the other key's files untouched)."""
    import os

    import pandas as pd

    from henbun_spark import streaming

    rows = pd.DataFrame(
        {
            "k": ["a"] * 60 + ["b"] * 60,
            "v": [1.5] * 60 + [2.25] * 60,
        }
    )
    df = spark.createDataFrame(rows)
    in_dir = str(tmp_path / "in")
    # two key-disjoint files -> batch 1 touches only one key's partition
    df.where(F.col("k") == "a").coalesce(1).write.parquet(in_dir)
    df.where(F.col("k") == "b").coalesce(1).write.mode("append").parquet(in_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
        )

    state = str(tmp_path / "state")
    q = streaming.mv_stream_maintenance_partitioned(
        stream, partials, ["k"], "k", state, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_partitioned_state(spark, state).collect()
    }
    exp = {r["k"]: (r["n"], float(r["s"])) for r in partials(df).collect()}
    assert got == exp
    assert sorted(
        d for d in os.listdir(state) if d.startswith("k=")
    ) == ["k=a", "k=b"]


def test_mv_partitioned_migrates_prestamp_state(spark, tmp_path):
    """A state dir written before the __last_batch stamp column existed
    (pre-upgrade layout) must merge on the first post-upgrade batch —
    missing stamps are treated as -1 (pre-history), not an
    AnalysisException."""
    import pandas as pd

    from henbun_spark import streaming

    # old-layout state: hive-partitioned agg rows WITHOUT __last_batch
    old = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "n": [10, 20], "s": [5.0, 7.0]})
    )
    state = str(tmp_path / "state")
    old.write.partitionBy("k").parquet(state)

    new_rows = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "c"], "v": [1.0, 2.0, 3.0]})
    )
    in_dir = str(tmp_path / "in")
    new_rows.coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(new_rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    q = streaming.mv_stream_maintenance_partitioned(
        stream, partials, ["k"], "k", state, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_partitioned_state(spark, state).collect()
    }
    # touched partitions merged with the old rows; untouched kept as-is
    assert got == {"a": (12, 8.0), "b": (20, 7.0), "c": (1, 3.0)}


def test_mv_partitioned_mixed_stamp_state(spark, tmp_path):
    """MIXED state schemas (r6): after a partial upgrade the dir holds
    pre-stamp files for some partitions and stamped files for others —
    the read must merge schemas, keep REAL stamps intact (a stamped
    partition replaying its batch id is skipped, not double-merged),
    and treat missing stamps as -1 (merge normally)."""
    import pandas as pd

    from henbun_spark import streaming

    state = str(tmp_path / "state")
    # pre-upgrade partition: k=b, no __last_batch column
    spark.createDataFrame(
        pd.DataFrame({"k": ["b"], "n": [20], "s": [7.0]})
    ).write.partitionBy("k").parquet(state)
    # post-upgrade partition: k=a, stamped with batch 0
    spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "n": [10], "s": [5.0], "__last_batch": [0]})
    ).write.mode("append").partitionBy("k").parquet(state)

    new_rows = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    )
    in_dir = str(tmp_path / "in")
    new_rows.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(new_rows.schema).parquet(in_dir)

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    q = streaming.mv_stream_maintenance_partitioned(
        stream, partials, ["k"], "k", state, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_partitioned_state(spark, state).collect()
    }
    # k=a carries stamp 0 == incoming batch 0 -> treated as an already-
    # committed replay and SKIPPED (the stamp survived the mixed read);
    # k=b has no stamp -> -1 -> merged
    assert got == {"a": (10, 5.0), "b": (21, 9.0)}


def test_interval_left_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream interval join: matched rows flow like the
    inner join; an unmatched left row emits with null right columns once
    a later (sentinel) event pushes the watermark past its match
    horizon."""
    import datetime

    import pandas as pd

    from henbun_spark import streaming

    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    left = pd.DataFrame(
        {"k": [1, 2, 9], "lts": [ts(10), ts(20), ts(10000)], "lid": [100, 200, -1]}
    )
    right = pd.DataFrame(
        {"k": [1, 9], "rts": [ts(8), ts(10000)], "rid": [500, -1]}
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(left).coalesce(1).write.parquet(ldir)
    spark.createDataFrame(right).coalesce(1).write.parquet(rdir)
    ls = spark.readStream.schema("k long, lts timestamp, lid long").parquet(ldir)
    rs = spark.readStream.schema("k long, rts timestamp, rid long").parquet(rdir)
    joined = streaming.interval_join_streams(
        ls, rs, on="k", left_ts="lts", right_ts="rts",
        lower="interval 0 seconds", upper="interval 10 minutes",
        watermark="5 minutes", how="leftOuter",
    )
    out_dir = str(tmp_path / "out")
    q = (
        joined.select("l.k", "lid", "rid")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["lid"], r["rid"])
        for r in spark.read.parquet(out_dir).where(F.col("lid") >= 0).collect()
    }
    assert got == {(100, 500), (200, None)}


def test_streaming_ivf_index_matches_batch(spark, tmp_path):
    """The stream-built cell-partitioned IVF index serves IDENTICAL
    top-k results to the batch ivf_topk under the same quantizer —
    append-only ingestion loses nothing and cell pruning finds the same
    candidates."""
    from henbun_spark import sources
    from henbun_spark.operators import similarity

    emb = sources.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    centroids = similarity.train_coarse_quantizer(
        emb, "embedding", "vec_id", n_cells=8, train_sample=2000, seed=42
    )
    in_dir = str(tmp_path / "in")
    emb.repartition(3).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = similarity.ivf_index_write_stream(
        stream, centroids, str(tmp_path / "index"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    queries = emb.where(F.col("vec_id") < 5)
    served = similarity.ivf_index_search(
        spark, str(tmp_path / "index"), centroids, queries, k=3, nprobe=2
    )
    batch = similarity.ivf_topk(
        emb, queries, k=3, n_cells=8, nprobe=2, train_sample=2000, seed=42
    )
    s = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in served.collect()}
    b = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_tdigest_stream_maintenance_rank_error(spark, tmp_path):
    """The incrementally maintained digest's quantile estimates must hit
    the t-digest rank-error bound over the whole stream: for each q, the
    fraction of values <= est stays within 2.5% of q."""
    from henbun_spark import sources, streaming
    from henbun_spark.operators import sketch
    from pyspark.sql import functions as F

    ev = sources.load_table(spark, "/root/testdata/sf0.01", "events").select(
        "value", "ts"
    )
    in_dir = str(tmp_path / "in")
    ev.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.tdigest_stream_maintenance(
        stream, "value", str(tmp_path / "state"), str(tmp_path / "ckpt"),
        delta=100,
    )
    q.awaitTermination()
    dig = streaming.load_state(spark, str(tmp_path / "state"))
    assert dig.count() <= 220  # bounded state: ~2*delta worst case
    n = ev.count()
    for row in sketch.tdigest_quantile(dig, [0.01, 0.25, 0.5, 0.75, 0.99]).collect():
        frac = ev.where(F.col("value") <= row["est"]).count() / n
        assert abs(frac - row["q"]) <= 0.025, (row["q"], row["est"], frac)


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Stop/restart recovery — the operational property that makes the
    streaming paths production-grade: a windowed aggregation drained
    over the first half of the data, STOPPED, then restarted on the SAME
    checkpoint after more files arrive must (a) not reprocess or drop
    anything (exactly-once offsets) and (b) end with output equal to the
    batch aggregate over everything."""
    from henbun_spark import sources, streaming
    from pyspark.sql import functions as F

    ev = sources.load_table(spark, "/root/testdata/sf0.01", "events")
    parts = ev.randomSplit([0.5, 0.5], seed=7)
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )

    def drain():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        agg = streaming.windowed_counts(
            stream, window="1 hour", watermark="100 days"  # eviction-free
        ).select(
            F.col("window.start").alias("ws"), "event_type", "n", "sum_value"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    parts[0].repartition(2).write.mode("append").parquet(in_dir)
    drain()  # run 1: first half; watermark never advances past data
    parts[1].repartition(2).write.mode("append").parquet(in_dir)
    drain()  # run 2: SAME checkpoint picks up only the new files

    # append-mode windows only emit once finalized; push the watermark
    # past everything with a sentinel third run
    sent = ev.limit(1).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 200 DAYS")
    )
    sent.write.mode("append").parquet(in_dir)
    drain()

    got = (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("s"))
        .collect()
    )
    exp = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    # the sentinel's own far-future window never finalizes (the watermark
    # stops 100 days short of it), so the drained output is exactly the
    # batch aggregate over the real data — nothing lost, nothing doubled
    assert len(got) == len(exp)
    for r in got:
        e = exp[r["event_type"]]
        assert r["n"] == e["n"]
        assert abs(r["s"] - e["s"]) < 1e-6


def test_mv_maintenance_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: the legitimate crash-replay
    (batch_id == committed) is skipped idempotently, while a batch id
    BELOW the committed id can only come from a reset/recreated
    checkpoint — that now fails LOUDLY instead of silently dropping all
    new data (round-5 review fix), and the committed state stays
    intact."""
    import pandas as pd
    import pytest as _pytest

    from henbun_spark import streaming

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 40 + ["b"] * 20, "v": [1.5] * 60})
    )
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    df.repartition(3).write.parquet(in_dir)

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
        )

    def drain(ckpt):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.mv_stream_maintenance(
            stream, partials, ["k"], state, str(tmp_path / ckpt)
        )
        q.awaitTermination()

    drain("ckpt1")
    first = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_state(spark, state).collect()
    }
    assert first == {"a": (40, 60.0), "b": (20, 30.0)}
    # crash-replay of the last committed batch: skipped, state unchanged
    _, committed = streaming._read_state(spark, state)
    assert streaming._should_skip_batch(committed, committed, state) is True
    # fresh checkpoint against committed state: batch ids restart at 0 —
    # must raise (silently skipping would drop all new data forever)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="checkpoint was.*reset"):
        drain("ckpt2")
    second = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_state(spark, state).collect()
    }
    assert first == second  # state untouched by the rejected run


def test_mv_partitioned_replay_is_idempotent(spark, tmp_path):
    """Per-partition __last_batch stamps: replaying the same batches
    against the hive-partitioned MV state skips every already-stamped
    partition instead of double-counting it."""
    import pandas as pd

    from henbun_spark import streaming

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 30 + ["b"] * 30, "v": [2.0] * 60})
    )
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    df.where(F.col("k") == "a").coalesce(1).write.parquet(in_dir)
    df.where(F.col("k") == "b").coalesce(1).write.mode("append").parquet(in_dir)

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
        )

    def drain(ckpt):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.mv_stream_maintenance_partitioned(
            stream, partials, ["k"], "k", state, str(tmp_path / ckpt)
        )
        q.awaitTermination()

    drain("ckpt1")
    first = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_partitioned_state(spark, state).collect()
    }
    drain("ckpt2")
    second = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_partitioned_state(spark, state).collect()
    }
    assert first == second == {"a": (30, 60.0), "b": (30, 60.0)}


def test_state_commit_survives_and_gcs_versions(spark, tmp_path):
    """_commit_state: atomic pointer flip, readable old-or-new at every
    point, superseded snapshot dirs garbage-collected."""
    import os

    import pandas as pd

    from henbun_spark import streaming

    state = str(tmp_path / "state")
    os.makedirs(state)
    d1 = spark.createDataFrame(pd.DataFrame({"x": [1, 2]}))
    streaming._commit_state(d1, state, 0)
    assert sorted(r["x"] for r in streaming.load_state(spark, state).collect()) == [1, 2]
    d2 = spark.createDataFrame(pd.DataFrame({"x": [7]}))
    streaming._commit_state(d2, state, 3)
    assert [r["x"] for r in streaming.load_state(spark, state).collect()] == [7]
    vdirs = [n for n in os.listdir(state) if n.startswith("v")]
    assert vdirs == ["v" + "3".zfill(20)]
    _, committed = streaming._read_state(spark, state)
    assert committed == 3


def test_versioned_fold_batch_function_guards_every_commit(spark, tmp_path):
    """The function `_versioned_fold` returns, called as foreachBatch
    calls it: a replay of the committed batch never reaches `fold` and
    leaves `_CURRENT` byte-for-byte as it was, a lower batch id (reset
    checkpoint) raises, and a fold returning None commits nothing."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    pointer = os.path.join(state, "_CURRENT")
    seen = []
    out = {"df": None}

    def fold(prev, bdf):
        seen.append(None if prev is None else sorted(r["x"] for r in prev.collect()))
        return out["df"]

    fn = streaming._versioned_fold(state, fold)
    bdf = spark.createDataFrame(pd.DataFrame({"x": [1, 2]}))
    out["df"] = bdf
    fn(bdf, 5)
    assert seen == [None]
    with open(pointer, "rb") as f:
        committed = f.read()

    fn(bdf, 5)  # (a) crash replay of the committed batch
    assert seen == [None]
    with open(pointer, "rb") as f:
        assert f.read() == committed

    with pytest.raises(ValueError, match="checkpoint was reset"):  # (b)
        fn(bdf, 4)
    assert seen == [None]

    out["df"] = None  # (c) an empty batch: fold returns None
    fn(bdf, 6)
    assert seen == [None, [1, 2]]
    with open(pointer, "rb") as f:
        assert f.read() == committed
    assert sorted(n for n in os.listdir(state) if n.startswith("v")) == [
        "v" + "5".zfill(20)
    ]
    # batch 6 committed nothing, so its replay folds again
    out["df"] = spark.createDataFrame(pd.DataFrame({"x": [9]}))
    fn(bdf, 6)
    assert seen == [None, [1, 2], [1, 2]]
    assert [r["x"] for r in streaming.load_state(spark, state).collect()] == [9]
    assert streaming._read_state(spark, state)[1] == 6


def test_partitioned_mv_journal_recovers_crashed_overwrite(spark, tmp_path):
    """Dynamic partition overwrite is not atomic: simulate a crash after
    the journal commit but mid-overwrite (one touched partition's files
    deleted, nothing moved in) — recover_partitioned_mv must re-apply
    the journaled post-merge rows and restore the partition."""
    import json
    import os
    import shutil

    import pandas as pd

    from henbun_spark import streaming

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 10 + ["b"] * 10, "v": [1.0] * 20})
    )
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    df.coalesce(1).write.parquet(in_dir)

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
        )

    q = streaming.mv_stream_maintenance_partitioned(
        spark.readStream.schema(df.schema).parquet(in_dir),
        partials,
        ["k"],
        "k",
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    good = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_partitioned_state(spark, state).collect()
    }
    assert good == {"a": (10, 10.0), "b": (10, 10.0)}

    # fabricate the crash window: journal present (same rows), one
    # partition's files wiped by the half-done overwrite
    snapshot = spark.read.parquet(state)
    snapshot.coalesce(1).write.mode("overwrite").parquet(state + "__journal")
    with open(state + "__journal.meta", "w") as f:
        json.dump({"batch_id": 0, "partition_col": "k"}, f)
    shutil.rmtree(os.path.join(state, "k=a"))
    assert "a" not in {
        r["k"] for r in spark.read.parquet(state).select("k").collect()
    }

    assert streaming.recover_partitioned_mv(spark, state, "k") is True
    recovered = {
        r["k"]: (r["n"], float(r["s"]))
        for r in streaming.load_partitioned_state(spark, state).collect()
    }
    assert recovered == good
    assert not os.path.exists(state + "__journal.meta")
    # idempotent no-op when no journal is pending
    assert streaming.recover_partitioned_mv(spark, state, "k") is False


def test_ohlc_stream_split_independent(spark, tmp_path):
    """Streamed OHLC merge states (count + min/max over the packed
    (epoch_us, value) struct) are identical across micro-batch splits
    (1-file vs 5-file drains) and equal the one-shot batch rollup —
    min/max of a lexicographically ordered struct is associative and
    commutative, so which batch a row arrived in cannot change the
    open/close election, including ties at the same timestamp."""
    import datetime

    from pyspark.sql import functions as F

    from henbun_spark import streaming
    from henbun_spark.operators import relational

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (base + datetime.timedelta(seconds=(i * 977) % 7200), float((i * 31) % 17))
        for i in range(64)
    ]
    # force a same-timestamp tie inside one bucket
    rows += [(base, -5.0), (base, 99.0)]
    df = spark.createDataFrame(rows, ["ts", "value"])
    batch = {
        r["bucket_epoch"]: r
        for r in relational.ohlc_bucket(df, "ts", "value", 3600).collect()
    }

    def partials(d):
        return relational.ohlc_partials(d, "ts", "value", 3600)

    for nfiles in (1, 5):
        in_dir = str(tmp_path / f"ohlc{nfiles}")
        df.repartition(nfiles).write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.mv_stream_maintenance(
            stream,
            partials,
            ["bucket_epoch"],
            str(tmp_path / f"ohlc_state{nfiles}"),
            str(tmp_path / f"ohlc_ckpt{nfiles}"),
            agg_spec=relational.OHLC_MERGE_SPEC,
        )
        q.awaitTermination()
        mv = streaming.load_state(spark, str(tmp_path / f"ohlc_state{nfiles}"))
        got = {
            r["bucket_epoch"]: r
            for r in relational.ohlc_finalize(mv).collect()
        }
        assert set(got) == set(batch)
        for k, b in batch.items():
            g = got[k]
            assert (
                g["n_points"],
                g["open"],
                g["high"],
                g["low"],
                g["close"],
            ) == (
                b["n_points"],
                b["open"],
                b["high"],
                b["low"],
                b["close"],
            ), k
    # the tie bucket elected open=-5.0: three rows share the bucket's
    # earliest timestamp (base) and the (ts, value) total order breaks
    # the tie toward the smallest value; close belongs to the latest-ts
    # row of that bucket, computed independently here
    b0 = int(base.timestamp()) // 3600 * 3600
    tie = batch[b0]
    in_bucket = [
        (int(t.timestamp() * 1_000_000), v)
        for t, v in rows
        if b0 <= t.timestamp() < b0 + 3600
    ]
    assert tie["open"] == min(in_bucket)[1] == -5.0
    assert tie["close"] == max(in_bucket)[1]


def test_lttb_m4_stream_split_independent(spark, tmp_path):
    """Streamed M4-LTTB partials (counts, decimal anchor sums, four
    struct-extremum candidate points) drain to the SAME selected points
    as the one-shot batch `lttb_m4_downsample` under different
    micro-batch splits — every state column is an exact sum or an
    associative+commutative extremum, and the anchors/argmax are
    re-derived only at finalize."""
    import datetime

    from henbun_spark import streaming
    from henbun_spark.operators import relational

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (
            base + datetime.timedelta(seconds=(i * 977) % 14400),
            "k%d" % (i % 2),
            float((i * 31) % 23) - 7.0,
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["ts", "key", "value"])
    batch = {
        (r["key"], r["bucket_epoch"], r["ts_epoch_us"], r["value"])
        for r in relational.lttb_m4_downsample(
            df, "ts", "key", "value", 3600
        ).collect()
    }
    assert batch  # sanity: selection produced rows

    def partials(d):
        return relational.lttb_m4_partials(d, "ts", "value", 3600, "key")

    for nfiles in (1, 5):
        in_dir = str(tmp_path / f"lttb{nfiles}")
        df.repartition(nfiles).write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.mv_stream_maintenance(
            stream,
            partials,
            ["key", "bucket_epoch"],
            str(tmp_path / f"lttb_state{nfiles}"),
            str(tmp_path / f"lttb_ckpt{nfiles}"),
            agg_spec=relational.M4_LTTB_MERGE_SPEC,
        )
        q.awaitTermination()
        mv = streaming.load_state(spark, str(tmp_path / f"lttb_state{nfiles}"))
        got = {
            (r["key"], r["bucket_epoch"], r["ts_epoch_us"], r["value"])
            for r in relational.lttb_m4_finalize(mv, "key").collect()
        }
        assert got == batch, nfiles


def test_bloom_stream_equals_batch_build(spark, tmp_path):
    """Bitwise-OR folding is associative, commutative and idempotent:
    the drained streaming bloom bitmap must equal the one-shot batch
    `sketch.bloom_build` bit-for-bit, and a key ingested mid-stream
    must probe positively through the drained state."""
    from henbun_spark import streaming
    from henbun_spark.operators import sketch

    df = spark.createDataFrame([(i * 13,) for i in range(80)], "k: long")
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    df.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    streaming.bloom_stream_maintenance(
        stream, "k", state, str(tmp_path / "ckpt"), m_bits=1 << 12, k=4
    ).awaitTermination()
    drained = sorted(
        tuple(r) for r in streaming.load_state(spark, state).collect()
    )
    batch = sorted(
        tuple(r)
        for r in sketch.bloom_build(df, "k", m_bits=1 << 12, k=4).collect()
    )
    assert drained == batch
    # no false negatives: every ingested key passes the drained filter
    probe = spark.createDataFrame([(13,), (26,), (999983,)], "k: long")
    passed = sketch.bloom_filter_probe(
        probe, streaming.load_state(spark, state), "k", m_bits=1 << 12, k=4
    )
    kept = {r["k"] for r in passed.collect()}
    assert {13, 26} <= kept


def test_bottomk_stream_split_invariant_and_equals_batch(spark, tmp_path):
    """Bottom-k priority sampling is a rank-truncating MIN-like fold:
    the drained k rows must equal the batch ORDER BY priority LIMIT k
    under ANY micro-batch split (1-file batches vs one big batch), and
    every kept row's priority must be <= every dropped row's."""
    from pyspark.sql import functions as F

    from henbun_spark import streaming

    rows = [(i, f"src{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    pr = F.substring(
        F.md5(F.concat_ws("|", F.lit("bk"), F.col("doc_id").cast("string"))),
        1,
        16,
    )
    batch = sorted(
        tuple(r)
        for r in df.withColumn("pr", pr)
        .orderBy("pr", "doc_id")
        .limit(12)
        .collect()
    )

    def drain(tag, files_per_trigger):
        in_dir = str(tmp_path / f"in_{tag}")
        state = str(tmp_path / f"state_{tag}")
        df.repartition(5).write.parquet(in_dir)
        stream = spark.readStream.schema(df.schema)
        if files_per_trigger:
            stream = stream.option("maxFilesPerTrigger", files_per_trigger)
        q = streaming.bottomk_stream_maintenance(
            stream.parquet(in_dir),
            "doc_id",
            state,
            str(tmp_path / f"ckpt_{tag}"),
            k=12,
            payload_cols=("source",),
        )
        q.awaitTermination()
        return sorted(
            tuple(r) for r in streaming.load_state(spark, state).collect()
        )

    split = drain("split", 1)
    whole = drain("whole", None)
    assert split == whole == batch


def test_winnow_index_stream_split_independent(spark, tmp_path):
    """The winnowed-fingerprint selection is content-LOCAL per doc, so
    streamed (digest -> min canonical, count) partials fold to the same
    drained index under any micro-batch split, and equal the one-shot
    batch selection's groupBy."""
    from pyspark.sql import functions as F

    from henbun_spark import streaming
    from henbun_spark.operators import dedup

    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789abcd"
    rows = [
        (1, "xx" + shared + "tail-one-unique-suffix-aa"),
        (2, "yy-different-head-" + shared + "zz"),
        (3, "totally unrelated text with no duplicate windows...."),
        (4, "another unrelated filler document for the stream....."),
        (5, "fifth document, also unique content, nothing shared.."),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    batch = {
        (r["digest"], r["canonical_id"], r["n_occ"])
        for r in dedup.winnowed_fingerprints(df, "text", "doc_id", 24, 8)
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_occ") > 1)
        .collect()
    }
    assert batch  # the planted 40-char duplicate must select shared keys

    def partials(d):
        return (
            dedup.winnowed_fingerprints(d, "text", "doc_id", 24, 8)
            .groupBy("digest")
            .agg(
                F.min("doc_id").alias("canonical_id"),
                F.count(F.lit(1)).alias("n_occ"),
            )
        )

    for nfiles in (1, 5):
        in_dir = str(tmp_path / f"wx{nfiles}")
        df.repartition(nfiles).write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.mv_stream_maintenance(
            stream,
            partials,
            ["digest"],
            str(tmp_path / f"wx_state{nfiles}"),
            str(tmp_path / f"wx_ckpt{nfiles}"),
            agg_spec={"canonical_id": "min"},
        )
        q.awaitTermination()
        idx = streaming.load_state(spark, str(tmp_path / f"wx_state{nfiles}"))
        got = {
            (r["digest"], r["canonical_id"], r["n_occ"])
            for r in idx.where(F.col("n_occ") > 1).collect()
        }
        assert got == batch, nfiles


def test_simhash_degree_stream_split_independent(spark, tmp_path):
    """Streaming near-dup degree maintenance: a pair is counted exactly
    once (when its later doc arrives, or in-batch together), increments
    apply to both endpoints, multi-block matches collapse — so the
    drained degrees equal the brute-force batch pair-set degrees under
    ANY micro-batch split."""
    import itertools

    from pyspark.sql import functions as F

    from henbun_spark import streaming
    from henbun_spark.operators import dedup

    dup_a = "spark window merge table column vector stream value"
    dup_b = "customer sort order slow line part fast row agg key"
    rows = [
        (1, dup_a),
        (2, dup_a),
        (3, dup_a),
        (4, dup_b),
        (5, dup_b),
        (6, "the quick brown fox jumps over a lazy dog today"),
        (7, "completely different filler text about query planning"),
        (8, "yet another unrelated document with its own tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(df, "text", "doc_id", bits=16).collect()
    }
    deg: dict = {}
    for a, b in itertools.combinations(sorted(fps), 2):
        if bin(fps[a] ^ fps[b]).count("1") <= 3:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
    # the planted exact-dup groups guarantee hamming-0 pairs
    assert deg[1] >= 2 and deg[4] >= 1

    for nfiles in (1, 5):
        in_dir = str(tmp_path / f"shd{nfiles}")
        df.repartition(nfiles).write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.simhash_degree_stream_maintenance(
            stream,
            str(tmp_path / f"shd_state{nfiles}"),
            str(tmp_path / f"shd_ckpt{nfiles}"),
            bits=16,
            max_hamming=3,
        )
        q.awaitTermination()
        idx = streaming.load_state(spark, str(tmp_path / f"shd_state{nfiles}"))
        got = {
            r["doc_id"]: r["n_near"]
            for r in idx.where(F.col("n_near") > 0).collect()
        }
        assert got == deg, nfiles
        # every ingested doc holds a state row, zero-degree included
        assert idx.count() == len(rows)


def test_simhash_degree_replay_guard(spark, tmp_path):
    """The degree state folds RELATIVE increments (+delta per discovered
    pair), so the batch-id skip guard is the only protection against a
    replayed batch double-counting every pair it found. Crash-replay of
    the committed batch must be skipped; a reset checkpoint (ids restart
    at 0) must fail loudly with the state intact."""
    import pytest as _pytest

    from henbun_spark import streaming

    rows = [(i, "spark window merge table column" if i < 4 else f"unique text {i} tokens") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    df.repartition(3).write.parquet(in_dir)

    def drain(ckpt):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.simhash_degree_stream_maintenance(
            stream, state, str(tmp_path / ckpt), bits=16, max_hamming=3
        )
        q.awaitTermination()

    drain("ckpt1")
    first = {
        r["doc_id"]: r["n_near"]
        for r in streaming.load_state(spark, state).collect()
    }
    # the 4 identical docs form a hamming-0 clique: degree >= 3 each
    assert all(first[i] >= 3 for i in range(4)), first
    _, committed = streaming._read_state(spark, state)
    assert streaming._should_skip_batch(committed, committed, state) is True
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="checkpoint was.*reset"):
        drain("ckpt2")
    second = {
        r["doc_id"]: r["n_near"]
        for r in streaming.load_state(spark, state).collect()
    }
    assert first == second  # no double-counted pairs, state untouched


def test_lttb_m4_selection_semantics(spark):
    """Hand-checkable M4-LTTB: endpoints pinned, middle bucket keeps
    the candidate maximizing the triangle against neighbor-average
    anchors; a single-bucket key keeps first AND last point."""
    import datetime

    from henbun_spark.operators import relational

    utc = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=utc)

    def at(h, mins=0):
        return t0 + datetime.timedelta(hours=h, minutes=mins)

    rows = [
        # key a: three hourly buckets; middle bucket has a value spike
        ("a", at(0), 0.0),
        ("a", at(0, 30), 1.0),
        ("a", at(1), 0.0),
        ("a", at(1, 20), 50.0),  # the spike an AVG would smear
        ("a", at(1, 40), 0.0),
        ("a", at(2), 0.0),
        ("a", at(2, 30), 2.0),
        # key b: single bucket, two points -> first and last both kept
        ("b", at(5), 3.0),
        ("b", at(5, 10), 4.0),
    ]
    df = spark.createDataFrame(rows, ["key", "ts", "value"])
    out = relational.lttb_m4_downsample(df, "ts", "key", "value", 3600)
    rows_out = [
        (r["key"], r["bucket_epoch"], r["ts_epoch_us"], r["value"])
        for r in out.collect()
    ]
    a = {(b): (x, v) for k, b, x, v in rows_out if k == "a"}
    h = lambda k: int(at(k).timestamp()) // 3600 * 3600  # noqa: E731
    us = lambda k, m=0: int(at(k, m).timestamp()) * 1_000_000  # noqa: E731
    assert a[h(0)] == (us(0), 0.0)  # first point pinned
    assert a[h(2)] == (us(2, 30), 2.0)  # last point pinned
    assert a[h(1)] == (us(1, 20), 50.0)  # spike survives
    bvals = sorted((x, v) for k, _b, x, v in rows_out if k == "b")
    # single-bucket key keeps both endpoints
    assert bvals == [(us(5), 3.0), (us(5, 10), 4.0)]
