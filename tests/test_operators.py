"""Pipeline operators on the real testdata tables, cross-checked against
DuckDB where the semantics claim oracle-exactness.
"""

import os

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from henbun_spark import sources
from henbun_spark.operators import dedup, multimodal, relational, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return sources.load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return sources.load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in sources.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_char_shingles_match_duckdb(docs, duck, sf_dir):
    got = (
        dedup.char_shingles(docs, "text", "doc_id", n=5)
        .groupBy("doc_id")
        .count()
        .orderBy("doc_id")
        .toPandas()
    )
    exp = duck.sql(
        """
        SELECT doc_id, count(DISTINCT substr(text, i, 5)) AS count
        FROM (SELECT doc_id, text,
                unnest(generate_series(1, greatest(length(text)-4, 1))) AS i
              FROM documents)
        GROUP BY doc_id ORDER BY doc_id
        """
    ).df()
    np.testing.assert_array_equal(got["count"].to_numpy(), exp["count"].to_numpy())


def test_exact_dedup(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3, 4], "text": ["aa", "bb", "aa", "aa"]})
    )
    out = dedup.exact_dedup(df, ["text"], "id").orderBy("id").toPandas()
    assert list(out["id"]) == [1, 2]
    groups = dedup.exact_dup_groups(df, ["text"], "id").orderBy("keep_id").toPandas()
    assert list(groups["n_dups"]) == [3, 1]


def test_minhash_lsh_pairs_runs_and_is_symmetric_free(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", n=8, bands=4).toPandas()
    assert (pairs["id_a"] < pairs["id_b"]).all()
    assert (pairs["n_bands"] >= 1).all()


def test_minhash_lsh_max_bucket_caps_fanout(docs):
    """The skew guard: capped run is a subset of the exact run and drops
    the pairs generated by oversized (skewed) buckets."""
    full = dedup.minhash_lsh_pairs(docs, "text", "doc_id", n=8, bands=4).toPandas()
    capped = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=8, bands=4, max_bucket=5
    ).toPandas()
    full_set = set(map(tuple, full[["id_a", "id_b"]].to_numpy()))
    capped_set = set(map(tuple, capped[["id_a", "id_b"]].to_numpy()))
    assert capped_set <= full_set
    assert len(capped_set) < len(full_set)


def test_ngram_jaccard_matches_bruteforce(docs, duck):
    got = (
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=5, threshold=0.35)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    exp = duck.sql(
        """
        WITH sh AS (
          SELECT DISTINCT doc_id, substr(text, i, 5) AS s
          FROM (SELECT doc_id, text,
                  unnest(generate_series(1, greatest(length(text)-4,1))) AS i
                FROM documents)
        ), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, c::DOUBLE / (za.sz + zb.sz - c) AS jaccard
        FROM common JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
        WHERE c::DOUBLE / (za.sz + zb.sz - c) >= 0.35
        ORDER BY id_a, id_b
        """
    ).df()
    assert len(got) == len(exp)
    if len(got):
        np.testing.assert_array_equal(got["id_a"].to_numpy(), exp["id_a"].to_numpy())
        np.testing.assert_allclose(
            got["jaccard"].to_numpy(), exp["jaccard"].to_numpy(), atol=1e-12
        )


def test_ngram_containment_catches_doc_in_doc(spark):
    """Containment finds the doc-inside-doc pair Jaccard structurally
    misses, with the right orientation; unrelated docs stay out."""
    long = (
        "a long report with many distinct sections follows here first "
        "quarterly numbers then regional breakdowns then appendix notes "
        "and somewhere in the middle it quotes spain falls mainly on "
        "the plain before returning to staffing forecasts supply chains "
        "vendor reviews capital plans and a closing risk summary"
    )
    quote = "spain falls mainly on the plain"
    df = spark.createDataFrame(
        [
            (1, long),
            (2, quote),  # fully contained in doc 1
            (3, "completely unrelated content about gradient descent"),
        ],
        ["doc_id", "text"],
    )
    got = dedup.ngram_containment_pairs(
        df, "text", "doc_id", n=5, threshold=0.9
    ).toPandas()
    assert set(map(tuple, got[["id_a", "id_b"]].to_numpy())) == {(1, 2)}
    row = got.iloc[0]
    assert row["contained_id"] == 2 and row["containment"] == 1.0
    # the same pair is invisible to Jaccard at a moderate threshold
    jac = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", n=5, threshold=0.5
    ).toPandas()
    assert (1, 2) not in set(map(tuple, jac[["id_a", "id_b"]].to_numpy()))


def test_simhash_matches_duckdb(docs, duck):
    got = dedup.simhash(docs, "text", "doc_id", bits=8).orderBy("doc_id").toPandas()
    bit_exprs = []
    for j in range(8):
        nib = f"(instr('0123456789abcdef', substr(md5(tok), {j // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} >> {3 - j % 4}) & 1)"
        bit_exprs.append(f"CASE WHEN sum(2*{bit}-1) > 0 THEN {1 << j} ELSE 0 END")
    exp = duck.sql(
        f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, tok
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE tok <> ''
        )
        SELECT doc_id, ({' + '.join(bit_exprs)})::BIGINT AS simhash
        FROM toks GROUP BY doc_id ORDER BY doc_id
        """
    ).df()
    np.testing.assert_array_equal(
        got["simhash"].to_numpy(), exp["simhash"].to_numpy()
    )


def test_simhash_near_pairs_hamming_correct(docs):
    out = dedup.simhash_near_pairs(docs, "text", "doc_id", bits=16, max_hamming=3)
    pdf = out.toPandas()
    assert (pdf["hamming"] <= 3).all()


def test_simhash_neighbor_topk_consistent_with_pair_set(docs):
    """The scale-mode finalization must be a pure re-aggregation of the
    exact pair set: for every doc, n_near == its pair-set degree, and
    the emitted top-k is exactly the (hamming asc, nbr_id asc) sorted
    prefix of its pair-set neighbor list."""
    pairs = dedup.simhash_near_pairs(
        docs, "text", "doc_id", bits=16, max_hamming=3
    ).toPandas()
    stats = dedup.simhash_neighbor_topk(
        docs, "text", "doc_id", bits=16, max_hamming=3, k=3
    ).toPandas()
    # expected: symmetrize the pair set, then per-doc degree + top-3
    import pandas as pd

    sym = pd.concat(
        [
            pairs.rename(columns={"id_a": "doc_id", "id_b": "nbr_id"}),
            pairs.rename(columns={"id_b": "doc_id", "id_a": "nbr_id"}),
        ]
    )[["doc_id", "nbr_id", "hamming"]]
    exp_rows = []
    for doc, grp in sym.groupby("doc_id"):
        g = grp.sort_values(["hamming", "nbr_id"]).reset_index(drop=True)
        for rank, row in enumerate(g.itertuples(), start=1):
            if rank > 3:
                break
            exp_rows.append((doc, len(g), rank, row.nbr_id, row.hamming))
    exp = (
        pd.DataFrame(
            exp_rows,
            columns=["doc_id", "n_near", "nn_rank", "nbr_id", "hamming"],
        )
        .sort_values(["doc_id", "nn_rank"])
        .reset_index(drop=True)
    )
    got = stats.sort_values(["doc_id", "nn_rank"]).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in exp.columns:
        np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy())


def test_simhash_neighbor_topk_plan_prunes_topk(docs):
    """The nn_rank <= k filter must reach Spark's rank-limit pushdown
    (`WindowGroupLimit`): per-doc candidate lists are pre-pruned to the
    top k BEFORE the final window sort, which is what keeps the top-k
    finalization cheap when near relations outnumber docs 5000:1 (sf1).
    A refactor that breaks the row_number-then-filter shape (e.g.
    filtering on a derived column) loses the pushdown silently."""
    df = dedup.simhash_neighbor_topk(
        docs, "text", "doc_id", bits=16, max_hamming=3, k=3
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") == 1, plan
    # and the degree count rides the SAME doc_id exchange as the rank:
    # exactly two Window nodes (count + row_number) with exactly two
    # doc_id hashpartitionings in the whole plan — one shared exchange
    # above the window pair, one for the fingerprint aggregation
    # feeding the join sides. (No permissive fallback: "Window" alone
    # would also match the WindowGroupLimit the first assert pinned.)
    assert plan.count("Window [") == 2, plan
    import re as _re

    doc_id_exchanges = set(_re.findall(r"hashpartitioning\(doc_id#\d+", plan))
    # r12: the banded fingerprints persist once (scaffold) and BOTH join
    # sides read the cache — the fingerprint aggregation's exchange now
    # lives inside the cached relation, so exactly ONE doc_id
    # hashpartitioning remains (the shared exchange above the window
    # pair) and the join sides must be InMemoryTableScans (two reads of
    # the one cached fingerprint table, not two pipeline re-runs).
    assert len(doc_id_exchanges) == 1, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_embedding_near_dup_and_cosine_vs_numpy(emb):
    pdf = emb.orderBy("vec_id").limit(50).toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    got = (
        dedup.embedding_near_dup_pairs(emb.limit(50), "embedding", "vec_id", -1.1)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    expected = sims[np.triu_indices(50, k=1)]
    np.testing.assert_allclose(got["cos"].to_numpy(), expected, atol=1e-6)


def test_cosine_topk_matches_numpy(emb):
    queries = emb.where(F.col("vec_id") < 5)
    got = similarity.cosine_topk(emb, queries, k=3).toPandas()
    pdf = emb.orderBy("vec_id").toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(5):
        s = sims[q].copy()
        s[q] = -np.inf
        expect = set(np.argsort(-s)[:3])
        gotset = set(got[got["query_id"] == q]["neighbor_id"])
        assert gotset == expect, (q, gotset, expect)


def test_ann_topk_recall(emb):
    queries = emb.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=5).toPandas()
    approx = similarity.ann_topk(emb, queries, k=5, n_planes=4).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].to_numpy()))
    approx_set = set(map(tuple, approx[["query_id", "neighbor_id"]].to_numpy()))
    recall = len(exact_set & approx_set) / len(exact_set)
    # random gaussian embeddings are LSH's worst case (top-k cosines are
    # barely above 0): with 4 planes the chance-level recall is ~1/16;
    # assert we beat chance by >2x (structured embeddings score far higher)
    assert recall > 0.08, recall


def test_ann_topk_multiprobe_improves_recall(emb):
    queries = emb.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=5).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].to_numpy()))

    def recall(probe):
        approx = similarity.ann_topk(
            emb, queries, k=5, n_planes=4, probe_hamming=probe
        ).toPandas()
        got = set(map(tuple, approx[["query_id", "neighbor_id"]].to_numpy()))
        return len(exact_set & got) / len(exact_set)

    r0, r1 = recall(0), recall(1)
    # probing the n_planes adjacent buckets is a strict candidate superset
    assert r1 >= r0
    assert r1 > 0.2, (r0, r1)


def test_embedding_near_dup_lsh_subset_of_brute_force(emb):
    sub = emb.where(F.col("vec_id") < 100)
    brute = dedup.embedding_near_dup_pairs(sub, "embedding", "vec_id", 0.2).toPandas()
    lsh = dedup.embedding_near_dup_lsh(
        sub, "embedding", "vec_id", threshold=0.2, n_planes=4, bands=3, seed=7
    ).toPandas()
    brute_set = set(map(tuple, brute[["id_a", "id_b"]].to_numpy()))
    lsh_set = set(map(tuple, lsh[["id_a", "id_b"]].to_numpy()))
    # every LSH pair is a true above-threshold pair (refine is exact)...
    assert lsh_set <= brute_set
    # ...and banding finds a nontrivial share of them on worst-case
    # (random) embeddings
    assert len(lsh_set) > 0.1 * len(brute_set), (len(lsh_set), len(brute_set))


def test_text_operators_deterministic(docs, duck):
    got = (
        text.fingerprint(text.quality_score(text.token_stats(docs)))
        .select("doc_id", "n_tokens", "quality", "fingerprint")
        .orderBy("doc_id")
        .toPandas()
    )
    exp = duck.sql(
        """
        SELECT doc_id,
          len(list_filter(string_split(text, ' '), t -> t <> ''))::INT AS n_tokens,
          list_reduce(
            list_transform(generate_series(1, greatest(length(text),1)), i -> ascii(substr(text, i, 1))::BIGINT),
            (acc, c) -> (acc * 31 + c) % 2147483647
          ) AS fingerprint
        FROM documents ORDER BY doc_id
        """
    ).df()
    np.testing.assert_array_equal(got["n_tokens"].to_numpy(), exp["n_tokens"].to_numpy())
    assert got["quality"].between(0, 1).all()
    # rolling hash: duckdb list_reduce has no init -> first element is seed;
    # fold(acc0=0) == fold starting from first elem since 0*31+c0 = c0
    np.testing.assert_array_equal(
        got["fingerprint"].to_numpy(), exp["fingerprint"].to_numpy()
    )


def test_lang_id_runs(docs):
    out = text.lang_id(docs).groupBy("pred_lang").count().toPandas()
    assert out["count"].sum() == docs.count()


def test_repetition_stats_hand_computed(spark):
    # "a b a b c": bigrams = [a b, b a, a b, b c] -> 4 total, 3 distinct,
    # dup_frac = 1 - 3/4, top_frac = 2/4; "x y": 1 bigram, no repeats
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y"), (3, "solo")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r
        for r in text.repetition_stats(df, "text", "doc_id").collect()
    }
    assert set(got) == {1, 2}  # <2 tokens yields no bigrams
    assert got[1]["n_bigrams"] == 4 and got[1]["n_distinct_bigrams"] == 3
    assert got[1]["dup_bigram_frac"] == 0.25 and got[1]["top_bigram_frac"] == 0.5
    assert got[2]["n_bigrams"] == 1 and got[2]["dup_bigram_frac"] == 0.0


def test_tfidf_rare_term_outranks_common(spark):
    # 'rare' appears in 1 of 3 docs, 'the' in all 3 -> idf(rare) > idf(the);
    # within doc 1 (tf equal) 'rare' must rank first
    df = spark.createDataFrame(
        [(1, "the rare"), (2, "the thing"), (3, "the other")],
        ["doc_id", "text"],
    )
    top = text.tfidf_top_terms(df, "text", "doc_id", k=1).collect()
    d1 = next(r for r in top if r["doc_id"] == 1)
    assert d1["term"] == "rare" and d1["rank"] == 1


def test_asof_join_matches_duckdb(spark, duck, sf_dir):
    ev = sources.load_table(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id").where(F.col("event_type") == "click")
    right = ev.select(
        "user_id", "ts", F.col("value").alias("last_value")
    ).where(F.col("event_type") == "purchase")
    got = (
        relational.asof_join(left, right, on="ts", by="user_id", right_cols=["last_value"])
        .orderBy("event_id")
        .toPandas()
    )
    exp = duck.sql(
        """
        SELECT l.event_id, r.value AS last_value
        FROM (SELECT * FROM events WHERE event_type='click') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id
        """
    ).df()
    assert len(got) == len(exp)
    np.testing.assert_allclose(
        got["last_value"].fillna(-1).to_numpy(),
        exp["last_value"].fillna(-1).to_numpy(),
        atol=1e-9,
    )


def test_asof_join_forward_matches_duckdb(spark, duck, sf_dir):
    ev = sources.load_table(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id").where(F.col("event_type") == "click")
    right = ev.select(
        "user_id", "ts", F.col("value").alias("next_value")
    ).where(F.col("event_type") == "purchase")
    got = (
        relational.asof_join(
            left, right, on="ts", by="user_id", right_cols=["next_value"],
            direction="forward",
        )
        .orderBy("event_id")
        .toPandas()
    )
    exp = duck.sql(
        """
        SELECT l.event_id, r.value AS next_value
        FROM (SELECT * FROM events WHERE event_type='click') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
          ON l.user_id = r.user_id AND l.ts <= r.ts
        ORDER BY l.event_id
        """
    ).df()
    assert len(got) == len(exp)
    np.testing.assert_allclose(
        got["next_value"].fillna(-1).to_numpy(),
        exp["next_value"].fillna(-1).to_numpy(),
        atol=1e-9,
    )


def test_sessionize(spark, sf_dir):
    ev = sources.load_table(spark, sf_dir, "events")
    out = relational.sessionize(ev, gap_minutes=30)
    pdf = out.select("user_id", "ts", "session_seq").orderBy("user_id", "ts").toPandas()
    one = pdf[pdf["user_id"] == pdf["user_id"].iloc[0]]
    gaps = one["ts"].diff().dt.total_seconds().fillna(1e9)
    expected = (gaps > 1800).cumsum()
    np.testing.assert_array_equal(one["session_seq"].to_numpy(), expected.to_numpy())


def test_top_k_per_group(spark, sf_dir):
    li = sources.load_table(spark, sf_dir, "lineitem")
    out = relational.top_k_per_group(
        li, ["l_returnflag"], "l_extendedprice", 3, tiebreak="l_orderkey"
    ).toPandas()
    assert (out.groupby("l_returnflag").size() <= 3).all()


def test_range_join_bucketed(spark):
    import pandas as pd

    left = spark.createDataFrame(pd.DataFrame({"v": [1.0, 5.0, 9.5, 20.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"lo": [0.0, 8.0], "hi": [2.0, 10.0], "tag": ["a", "b"]})
    )
    out = relational.range_join_bucketed(left, right, "v", "lo", "hi", 4.0).toPandas()
    assert set(map(tuple, out[["v", "tag"]].to_numpy())) == {(1.0, "a"), (9.5, "b")}


def test_multimodal_plumbing(spark):
    media = multimodal.synthesize_media(spark, n=32, kind="image")
    feats = multimodal.decode_and_featurize(media, dim=8)
    pdf = feats.toPandas()
    assert len(pdf) == 32
    assert all(len(f) == 8 for f in pdf["feature"])
    # determinism: same payload -> same features
    again = multimodal.decode_and_featurize(media, dim=8).toPandas()
    f0 = np.stack(pdf.sort_values("media_id")["feature"].to_numpy())
    f1 = np.stack(again.sort_values("media_id")["feature"].to_numpy())
    np.testing.assert_array_equal(f0, f1)
    # bmp/wav decode fine under strict; compressed/unknown formats raise
    # exactly at the codec boundary
    strict_ok = multimodal.decode_and_featurize(media, strict=True).count()
    assert strict_ok == 32
    fake = multimodal.synthesize_media(spark, n=4, kind="blob")
    with pytest.raises(Exception):
        multimodal.decode_and_featurize(fake, strict=True).collect()


def test_bmp_round_trip_and_resize():
    rng = np.random.default_rng(3)
    pixels = rng.integers(0, 256, size=(8, 12, 3), dtype=np.uint8)
    decoded = multimodal.decode_bmp(multimodal.encode_bmp(pixels))
    np.testing.assert_array_equal(decoded, pixels)
    small = multimodal.resize_box(pixels.astype(np.float64), 4, 6)
    assert small.shape == (4, 6, 3)
    # box filter preserves the global mean
    np.testing.assert_allclose(small.mean(), pixels.mean(), atol=0.5)


def test_wav_round_trip_and_features():
    t = np.arange(16000) / 16000.0
    wave = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    decoded, sr = multimodal.decode_wav(multimodal.encode_wav(wave, 16000))
    assert sr == 16000
    np.testing.assert_allclose(decoded, wave, atol=1e-4)
    feats = multimodal.audio_features(decoded, sr, dim=16)
    assert feats.shape == (16,)
    duration, rms, zcr, centroid = feats[:4]
    assert abs(duration - 1.0) < 1e-6
    np.testing.assert_allclose(rms, 0.5 / np.sqrt(2), atol=1e-3)
    # a pure 440 Hz tone's spectral centroid sits at ~440 Hz
    assert abs(centroid - 440.0) < 5.0


def test_frame_sample_real_decode(spark):
    media = multimodal.synthesize_media(spark, n=4, kind="video")
    out = multimodal.frame_sample(media, every_ms=500).toPandas()
    assert len(out) == 4 * 4  # duration 1500ms -> offsets 0,500,1000,1500
    # decoded frames produce real perceptual hashes that vary over time
    one = out[out["media_id"] == 0].sort_values("frame_ms")
    assert one["frame_ahash"].nunique() > 1
    assert (out["frame_mean"] > 0).all()


def test_rawvideo_round_trip():
    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(6, 8, 8, 3), dtype=np.uint8)
    dec, fps = multimodal.decode_rawvideo(multimodal.encode_rawvideo(frames, fps=4))
    assert fps == 4
    np.testing.assert_array_equal(dec, frames)


def test_video_dup_candidates_finds_planted_copy(spark):
    """A re-encoded copy of a video shares its sampled-frame hashes; an
    unrelated video does not."""
    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    vid = np.stack([np.roll(base, k, axis=1) for k in range(7)])
    other = rng.integers(0, 256, size=(7, 8, 8, 3), dtype=np.uint8)
    rows = [
        (0, "video", bytearray(multimodal.encode_rawvideo(vid, 4)),
         (8, 8, None, 1500, "hbv")),
        (1, "video", bytearray(multimodal.encode_rawvideo(vid, 4)),
         (8, 8, None, 1500, "hbv")),
        (2, "video", bytearray(multimodal.encode_rawvideo(other, 4)),
         (8, 8, None, 1500, "hbv")),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.frame_sample(media, every_ms=250)
    pairs = multimodal.video_dup_candidates(frames, min_shared=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting changes the physical key distribution, never the result."""
    li = sources.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = sources.load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, on="l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
    ).collect()[0]
    salted = relational.salted_join(li, orders, on="l_orderkey", n_salts=8).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
    ).collect()[0]
    assert salted["n"] == plain["n"]
    np.testing.assert_allclose(salted["s"], plain["s"], rtol=1e-9)


def test_bucketed_join_elides_shuffle(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed on the join key -> no shuffle
    exchange above either scan (the 100 TB repeated-join layout)."""
    from henbun_spark.operators import bucketing

    li = sources.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = sources.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    bucketing.write_bucketed(li, "li_b", "l_orderkey", 8, str(tmp_path / "li_b"))
    bucketing.write_bucketed(
        orders, "ord_b", "o_orderkey", 8, str(tmp_path / "ord_b")
    )
    # disable broadcast so the planner must consider the bucket layout
    # (at real scale both sides are too big to broadcast anyway)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # and it still computes the right thing
        n = joined.count()
        assert n == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_source_format_round_trips(spark, sf_dir, tmp_path):
    """CSV / JSON / partitioned-parquet helpers round-trip a real table
    with values and schema intact."""
    nation = sources.load_table(spark, sf_dir, "nation").orderBy("n_nationkey")
    exp = [tuple(r) for r in nation.collect()]

    csv_path = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(csv_path)
    got_csv = sources.read_csv(spark, csv_path, schema=nation.schema)
    assert [tuple(r) for r in got_csv.orderBy("n_nationkey").collect()] == exp

    json_path = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").json(json_path)
    got_json = sources.read_json(spark, json_path, schema=nation.schema)
    assert [tuple(r) for r in got_json.orderBy("n_nationkey").collect()] == exp

    pq_path = str(tmp_path / "nation_pq")
    sources.write_parquet(nation, pq_path, partition_by=["n_regionkey"])
    got_pq = spark.read.parquet(pq_path)
    assert sorted(
        tuple(r) for r in got_pq.select(*nation.columns).collect()
    ) == sorted(exp)
    # hive partition layout exists -> partition pruning is available
    import glob as _glob

    assert _glob.glob(pq_path + "/n_regionkey=*"), "expected hive partition dirs"


def test_hash_split_deterministic_and_proportional(spark, sf_dir):
    from henbun_spark.operators import sampling

    docs = sources.load_table(spark, sf_dir, "documents")
    s1 = sampling.hash_split(docs, "doc_id", test_pct=10).toPandas()
    s2 = sampling.hash_split(
        docs.repartition(7), "doc_id", test_pct=10
    ).toPandas()
    # membership is a pure function of the id: identical across layouts
    m1 = dict(zip(s1["doc_id"], s1["is_test"]))
    m2 = dict(zip(s2["doc_id"], s2["is_test"]))
    assert m1 == m2
    frac = s1["is_test"].mean()
    assert 0.03 < frac < 0.2, frac  # ~10% with small-sample slack


def test_stratified_sample_proportions(spark, sf_dir):
    from henbun_spark.operators import sampling

    ev = sources.load_table(spark, sf_dir, "events")
    out = sampling.stratified_sample(
        ev, "event_type", {"click": 0.5, "purchase": 0.1, "view": 0.0}, seed=1
    )
    pdf = out.groupBy("event_type").count().toPandas().set_index("event_type")
    base = ev.groupBy("event_type").count().toPandas().set_index("event_type")
    assert "view" not in pdf.index
    click_frac = pdf.loc["click", "count"] / base.loc["click", "count"]
    assert 0.4 < click_frac < 0.6, click_frac


def test_lsh_density_scores_separate_planted_cluster_from_isolate(spark):
    """A tight planted cluster must out-score an isolated far-away
    point under every projection bank: cluster members share buckets
    (density >= cluster size per band), the isolate does not. Also pins
    the score's exact form: every vector's density is the integer sum
    of its bucket sizes, so the totals are engine-exact (sum of all
    densities == sum of squared bucket sizes per band)."""
    from henbun_spark.operators import similarity

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = [(i, (base + 0.01 * rng.standard_normal(16)).tolist()) for i in range(40)]
    rows.append((99, (-40.0 * base).tolist()))  # isolated, opposite direction
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    scored = similarity.lsh_density_scores(
        df, "embedding", "vec_id", n_planes=5, bands=3, seed=7
    )
    d = {r["vec_id"]: r["density"] for r in scored.collect()}
    assert len(d) == 41
    cluster_min = min(v for k, v in d.items() if k != 99)
    # each cluster member shares a bucket with >= most of the cluster
    # in every band; the isolate's negated direction flips every plane
    # sign, so it cannot share the cluster's buckets
    assert cluster_min >= 3 * 30
    assert d[99] < cluster_min
    # exact numpy replica with the SAME sequential fold order: every
    # density must match integer-for-integer
    planes = np.random.default_rng(7).standard_normal((3, 5, 16))
    buckets = {}
    for vid, vec in rows:
        bks = []
        for band in planes:
            b = 0
            for j, plane in enumerate(band):
                acc = 0.0
                for x, p in zip(vec, plane):
                    acc += x * p
                b += (acc > 0) << j
            bks.append(b)
        buckets[vid] = bks
    from collections import Counter

    per_band = [
        Counter(bks[bi] for bks in buckets.values()) for bi in range(3)
    ]
    expected = {
        vid: sum(per_band[bi][bks[bi]] for bi in range(3))
        for vid, bks in buckets.items()
    }
    assert d == expected


def test_ivf_topk_recall_beats_chance(emb):
    queries = emb.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=5).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].to_numpy()))
    approx = similarity.ivf_topk(
        emb, queries, k=5, n_cells=8, nprobe=2, seed=0
    ).toPandas()
    approx_set = set(map(tuple, approx[["query_id", "neighbor_id"]].to_numpy()))
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing 2/8 cells examines ~25% of the corpus; random-embedding
    # chance recall would be ~0.25 — require meaningfully above that
    assert recall > 0.3, recall
    # every reported neighbor's cosine is genuine (exact refine)
    assert (approx["rank"] >= 1).all()


def test_embedding_near_dup_lsh_finds_planted_duplicates(spark, emb):
    """The designed use: genuine near-duplicates (cos > 0.95) land in the
    same bucket in >= 1 band with near-certainty; banding must find
    virtually all planted pairs."""
    import pandas as pd

    base = emb.limit(100).toPandas()
    vecs = np.stack(base["embedding"].to_numpy()).astype(np.float64)
    rng = np.random.default_rng(11)
    noisy = vecs + 0.02 * rng.standard_normal(vecs.shape)
    rows = pd.DataFrame(
        {
            "vec_id": list(base["vec_id"]) + [int(i) + 100000 for i in base["vec_id"]],
            "embedding": [list(map(float, v)) for v in vecs]
            + [list(map(float, v)) for v in noisy],
        }
    )
    df = spark.createDataFrame(rows)
    found = dedup.embedding_near_dup_lsh(
        df, "embedding", "vec_id", threshold=0.95, n_planes=5, bands=3, seed=7
    ).toPandas()
    found_pairs = set(map(tuple, found[["id_a", "id_b"]].to_numpy()))
    planted = {(int(i), int(i) + 100000) for i in base["vec_id"]}
    hit = len(planted & found_pairs) / len(planted)
    assert hit >= 0.9, hit


def test_salted_join_rejects_outer(spark):
    """Right/full outer would duplicate unmatched right rows n_salts x."""
    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            relational.salted_join(df, df, on="k", how=how)


def test_ivf_topk_corpus_smaller_than_cells(emb):
    """k-means k clamps to the training sample size — a corpus with fewer
    rows than n_cells must not raise (ADVICE r2)."""
    tiny = emb.where(F.col("vec_id") < 10)
    out = similarity.ivf_topk(
        tiny, tiny, k=3, n_cells=16, nprobe=2, seed=0
    ).toPandas()
    assert len(out) > 0


def test_intra_bucket_pairs_skew_guard_prefilters(spark):
    """max_bucket drops oversized buckets BEFORE collect_list (memory
    guard) — result must equal the post-hoc size filter semantics."""
    import pandas as pd

    rows = [("hot", i) for i in range(50)] + [("cold", 0), ("cold", 1)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["b", "i"]))
    out = dedup.intra_bucket_pairs(df, ["b"], "i", max_bucket=10).toPandas()
    assert set(out["b"]) == {"cold"}
    assert len(out) == 1  # C(2,2) = 1 pair
    plan = dedup.intra_bucket_pairs(
        df, ["b"], "i", max_bucket=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_kmeans_matches_numpy_replica(emb):
    """Distributed Lloyd's == single-process numpy replay: same xxhash-min
    init, same updates; treeAggregate association order may differ by
    ~ulps, so compare at 1e-8."""
    from henbun_spark.operators import clustering

    k, iters = 4, 3
    centroids, history = clustering.kmeans_fit(
        emb, "embedding", "vec_id", k=k, max_iter=iters
    )
    # numpy replica from the identical deterministic init
    init = clustering._init_centroids(emb, "embedding", "vec_id", k)
    x = np.stack(
        emb.select(F.col("embedding").cast("array<double>"))
        .toPandas()
        .iloc[:, 0]
        .to_numpy()
    )
    c = init.copy()
    for _ in range(iters):
        d2 = (x * x).sum(1)[:, None] - 2.0 * (x @ c.T) + (c * c).sum(1)[None, :]
        a = d2.argmin(1)
        for j in range(k):
            if (a == j).any():
                c[j] = x[a == j].mean(0)
    np.testing.assert_allclose(centroids, c, rtol=1e-8, atol=1e-10)
    assert len(history) <= iters
    assert all(b <= a * (1 + 1e-12) for a, b in zip(history, history[1:]))


def test_kmeans_local_replay_bitwise_equals_distributed(emb, monkeypatch):
    """The driver-local Lloyd replay under LOCAL_ROWS_CAP must
    REPLICATE the distributed iteration bit-for-bit on non-dyadic real
    embeddings: same per-batch matrices, same partition partials, same
    partition-order fold. Exact float equality on centroids and every
    SSE history entry — not allclose."""
    from henbun_spark import spark_exec
    from henbun_spark.operators import clustering

    cap = spark_exec.LOCAL_ROWS_CAP
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", 0)  # distributed
    c_dist, h_dist = clustering.kmeans_fit(
        emb, "embedding", "vec_id", k=4, max_iter=4
    )
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", cap)  # local replay
    calls = []
    orig = clustering._iteration

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(clustering, "_iteration", spy)
    c_loc, h_loc = clustering.kmeans_fit(
        emb, "embedding", "vec_id", k=4, max_iter=4
    )
    assert not calls, "local replay did not engage"
    assert h_dist == h_loc  # bitwise, every iteration's SSE
    assert np.array_equal(c_dist, c_loc)


def test_kmeans_assign_is_pure_column(emb):
    """Serving-side assignment must stay in whole-stage codegen: no
    Python eval nodes in the physical plan, and clusters cover [0, k)."""
    from henbun_spark.operators import clustering

    centroids, _ = clustering.kmeans_fit(
        emb, "embedding", "vec_id", k=3, max_iter=2
    )
    assigned = clustering.kmeans_assign(emb, "embedding", centroids)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    vals = {r["cluster"] for r in assigned.select("cluster").distinct().collect()}
    assert vals <= set(range(3)) and len(vals) >= 2


def test_kmeans_assign_large_k_numpy_path_matches_column_path(emb):
    """Above ASSIGN_COLUMN_PATH_MAX the assignment switches to an
    Arrow-batched numpy path (the inlined Column tree is interpreted
    at large k — the sf10 wedge). The numpy path accumulates dot/norm
    per-dimension in the Column fold's exact order (not BLAS matmul,
    whose last-ulp differences could flip argmin on near-tied
    centroids), so assignments agree EXACTLY — bit-for-bit, not just
    up to tie ambiguity — with the codegen path on identical
    centroids."""
    import henbun_spark.operators.clustering as clustering

    centroids, _ = clustering.kmeans_fit(
        emb, "embedding", "vec_id", k=5, max_iter=2
    )
    col_path = (
        clustering.kmeans_assign(emb, "embedding", centroids)
        .orderBy("vec_id")
        .toPandas()
    )
    old = clustering.ASSIGN_COLUMN_PATH_MAX
    clustering.ASSIGN_COLUMN_PATH_MAX = 1  # force the numpy path
    try:
        np_path = (
            clustering.kmeans_assign(emb, "embedding", centroids)
            .orderBy("vec_id")
            .toPandas()
        )
    finally:
        clustering.ASSIGN_COLUMN_PATH_MAX = old
    np.testing.assert_array_equal(
        col_path["cluster"].to_numpy(), np_path["cluster"].to_numpy()
    )


def test_quantize_units_exact_and_guarded(emb):
    """floor(x*2^10) over exact IEEE ops: Spark units == numpy units
    bit-for-bit (no tolerance), and a non-power-of-two grid is refused
    (its multiply would round, breaking the cross-engine exactness the
    whole integer-units recipe rests on)."""
    from henbun_spark.operators import clustering

    pdf = (
        clustering.quantize_units(emb, "embedding")
        .select("vec_id", "embedding", "u")
        .limit(50)
        .toPandas()
    )
    for _, r in pdf.iterrows():
        want = np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * 1024.0
        ).astype(np.int64)
        assert (np.asarray(r["u"], dtype=np.int64) == want).all()
    for bad in (1000, 0, -4):
        with pytest.raises(ValueError, match="power of two"):
            clustering.quantize_units(emb, "embedding", grid=bad)


def test_assign_nearest_units_numpy_parity_and_tiebreak(spark, emb):
    """Integer-units assignment == numpy argmin on the same BIGINT
    distances (exact — no float tolerance), lowest-cluster-id wins exact
    distance ties, and the expression stays JVM-side (no Python eval
    nodes: the argmin must be plan-time literals + array_sort)."""
    from henbun_spark.operators import clustering

    w = clustering.quantize_units(emb, "embedding")
    cents = [
        list(r["u"])
        for r in sorted(
            w.where(F.col("vec_id") < 3).select("vec_id", "u").collect(),
            key=lambda r: r["vec_id"],
        )
    ]
    assigned = clustering.assign_nearest_units(w, "u", cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    pdf = assigned.select("vec_id", "u", "cluster").toPandas()
    c = np.asarray(cents, dtype=np.int64)
    u = np.stack(pdf["u"].map(lambda v: np.asarray(v, np.int64)))
    d = ((u[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_array_equal(
        pdf["cluster"].to_numpy(), d.argmin(axis=1)
    )
    # a seed vector is EXACTLY equidistant (0) from a duplicated
    # centroid: the lower cluster id must win
    dup = clustering.assign_nearest_units(
        w.where(F.col("vec_id") == 1), "u", [cents[1], cents[1]]
    )
    assert dup.select("cluster").collect()[0]["cluster"] == 0
    # a centroid/vector width mismatch must raise, not silently assign
    # cluster 0 via NULL distances (zip_with pads the shorter side)
    from pyspark.errors import PySparkException

    bad = clustering.assign_nearest_units(
        w.where(F.col("vec_id") == 1), "u", [cents[0][:8]]
    )
    with pytest.raises(PySparkException, match="dimension mismatch"):
        bad.collect()


def test_centroid_outlier_ranks_numpy_parity(emb):
    """Count-scaled integer distance D_i = sum_d (n*u - S)^2 ==
    n^2 * ||u - mean||^2 exactly; top-k per group with (dist DESC, id)
    tie-break matches a numpy replay, and a top_k beyond the group size
    returns whole groups without gaps in the rank sequence."""
    from henbun_spark.operators import clustering, selection

    out = (
        selection.centroid_outlier_ranks(
            emb, "embedding", "vec_id", "label", top_k=3
        )
        .toPandas()
        .sort_values(["label", "rank"])
        .reset_index(drop=True)
    )
    w = (
        clustering.quantize_units(emb, "embedding")
        .select("vec_id", "label", "u")
        .toPandas()
    )
    for lbl, grp in w.groupby("label"):
        u = np.stack(grp["u"].map(lambda v: np.asarray(v, np.int64)))
        n = len(grp)
        s = u.sum(axis=0)
        dist = ((n * u - s[None, :]) ** 2).sum(axis=1)
        order = sorted(
            zip(dist, grp["vec_id"].to_numpy()),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        got = out[out["label"] == lbl]
        assert list(got["vec_id"]) == [v for _, v in order]
        assert list(got["dist_units"]) == [int(d) for d, _ in order]
        assert list(got["rank"]) == [1, 2, 3]
    small = selection.centroid_outlier_ranks(
        emb.limit(4), "embedding", "vec_id", "label", top_k=10
    ).toPandas()
    assert len(small) == 4
    for _, grp in small.groupby("label"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    # the two-phase top-k must be invariant to the physical layout:
    # phase 1 ranks within (group, input-partition), and the global
    # top-k is a subset of every per-partition top-k union
    re13 = (
        selection.centroid_outlier_ranks(
            emb.repartition(13), "embedding", "vec_id", "label", top_k=3
        )
        .toPandas()
        .sort_values(["label", "rank"])
        .reset_index(drop=True)
    )
    assert re13.equals(out)
    with pytest.raises(ValueError, match="no rows"):
        selection.centroid_outlier_ranks(
            emb.where(F.lit(False)), "embedding", "vec_id", "label"
        )


def test_write_bucketed_one_file_per_bucket(spark, sf_dir, tmp_path):
    """`write_bucketed` claims one data file per bucket: repartition and
    bucketBy must route by the SAME murmur3-pmod hash, or each task
    would write files for several buckets (bucket file names carry the
    `_00000` bucket id prefix after part-XXXXX)."""
    import glob
    import re

    from henbun_spark.operators import bucketing

    df = sources.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    bucketing.write_bucketed(
        df, "hb_test_bkt_files", "o_orderkey", 8, str(tmp_path / "t")
    )
    files = glob.glob(str(tmp_path / "t" / "part-*"))
    buckets = [
        re.search(r"part-\d+-.*?_(\d{5})", f).group(1) for f in files
    ]
    assert len(files) == 8, files
    assert sorted(buckets) == [f"{i:05d}" for i in range(8)], buckets
    total = spark.table("hb_test_bkt_files").count()
    assert total == df.count()


def test_rebucket_live_table_restores_exchange_free_join(
    spark, sf_dir, tmp_path
):
    """`rebucket` is the bucket-count-evolution rewrite: an 8-bucket
    table joined against a 32-bucket one shuffles (mixed counts); after
    `rebucket(table, 32)` — one write_bucketed rewrite that keeps the
    bucket column and sort — the SAME join is Exchange-free at the new
    count. Layout must not change results: the rebucketed table's rows
    are byte-equal to before, and the old files stay on disk (the swap
    never deletes data)."""
    import os

    from henbun_spark.operators import bucketing

    li = sources.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = sources.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for t in ("hb_reb_li", "hb_reb_ord", "hb_reb_li__rebucket"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    old_path = str(tmp_path / "li8")
    bucketing.write_bucketed(li, "hb_reb_li", "l_orderkey", 8, old_path)
    bucketing.write_bucketed(
        orders, "hb_reb_ord", "o_orderkey", 32, str(tmp_path / "ord32")
    )
    before = spark.table("hb_reb_li").toPandas().sort_values(
        ["l_orderkey", "l_quantity"]
    ).reset_index(drop=True)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:

        def join_plan():
            j = bucketing.bucketed_join(
                spark, "hb_reb_li", "hb_reb_ord", "l_orderkey", "o_orderkey"
            )
            return j._jdf.queryExecution().executedPlan().toString()

        assert "Exchange" in join_plan()  # mixed 8/32: must shuffle
        new_path = bucketing.rebucket(spark, "hb_reb_li", 32)
        # layout metadata evolved in place, rows byte-equal
        lay = bucketing._bucket_layout(spark, "hb_reb_li")
        assert lay["n_buckets"] == 32
        assert lay["bucket_cols"] == ["l_orderkey"]
        assert lay["sort_cols"] == ["l_orderkey"]
        after = spark.table("hb_reb_li").toPandas().sort_values(
            ["l_orderkey", "l_quantity"]
        ).reset_index(drop=True)
        assert before.equals(after)
        # the join is Exchange-free again at the new count
        plan = join_plan()
        assert "Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
        assert plan.count("SelectedBucketsCount: 32 out of 32") == 2, plan
        # non-destructive swap: old files intact, new location returned
        assert os.path.exists(old_path) and os.listdir(old_path)
        assert new_path.endswith("__b32") and os.listdir(new_path)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_is_exchange_free(spark, sf_dir, duck):
    """The point of the bucketed layout is that the JOIN plans with no
    Exchange on either input: the whole query must contain exactly ONE
    Exchange (the final groupBy), both scans must read `Bucketed: true`,
    and the join must be the pinned SortMergeJoin.  Values must equal
    the plain join+groupBy on the raw parquet — layout is not allowed
    to add, drop, or duplicate a row."""
    import __spark_entry__ as entry_mod

    df = entry_mod.bucketed_join_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan
    got = (
        df.toPandas()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    exp = (
        duck.sql(entry_mod.oracle_sql()["bucketed_join_revenue"])
        .df()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    assert list(got["n_items"]) == list(exp["n_items"])
    np.testing.assert_array_equal(
        got["sum_revenue"].to_numpy(), exp["sum_revenue"].to_numpy()
    )


def test_bucketed_lookup_prunes_buckets(spark, sf_dir, duck):
    """Bucket PRUNING on literal-key lookups: the scan must read only
    the buckets the probed keys hash to (`SelectedBucketsCount: k out
    of 8` with k <= 2 in the physical plan), keep the bucketed scan
    against DisableUnnecessaryBucketedScan (the groupBy-on-bucket-key
    shape), and plan with ZERO Exchange.  Values must equal the plain
    filtered aggregate on the raw parquet — file skipping is not
    allowed to add or drop a row."""
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.bucketed_lookup_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of 8", plan)
    assert m, plan
    assert 1 <= int(m.group(1)) <= 2, plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 0, plan
    got = df.toPandas().sort_values("l_orderkey").reset_index(drop=True)
    exp = (
        duck.sql(entry_mod.oracle_sql()["bucketed_lookup_revenue"])
        .df()
        .sort_values("l_orderkey")
        .reset_index(drop=True)
    )
    assert list(got["n_items"]) == list(exp["n_items"])
    np.testing.assert_array_equal(
        got["sum_revenue"].to_numpy(), exp["sum_revenue"].to_numpy()
    )


def test_bucketed_join_mixed_counts_pins_shuffle_side(spark, sf_dir, tmp_path):
    """Bucket-count EVOLUTION (the "8 buckets must become 64" moment):
    joining tables bucketed at DIFFERENT counts is not Exchange-free.
    Pin Spark's choice both ways:

    * default: the HIGHER-count side's layout is kept as the join
      partitioning — exactly ONE Exchange, hashpartitioning at the
      larger bucket count, inserted above the LOWER-count side;
    * with `spark.sql.bucketing.coalesceBucketsInJoin.enabled` (ratio
      within maxBucketRatio=4): the higher-count scan is COALESCED
      (reads ratio bucket files per task) and the join is Exchange-free
      again — the zero-shuffle escape hatch while a re-layout is
      pending.

    Re-layout itself is exactly one `write_bucketed` rewrite."""
    from henbun_spark.operators import bucketing

    li = sources.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = sources.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    spark.sql("DROP TABLE IF EXISTS li_b8")
    spark.sql("DROP TABLE IF EXISTS ord_b16")
    bucketing.write_bucketed(
        li, "li_b8", "l_orderkey", 8, str(tmp_path / "li8")
    )
    bucketing.write_bucketed(
        orders, "ord_b16", "o_orderkey", 16, str(tmp_path / "ord16")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b8").join(
            spark.table("ord_b16"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        # the one Exchange re-hashes to the LARGER bucket count (16): the
        # higher-count layout is kept; the 8-bucket side's now-useless
        # bucketed scan is switched off entirely and shuffled to 16
        assert "hashpartitioning(l_orderkey" in plan, plan
        assert ", 16)" in plan.split("Exchange", 1)[1].split("\n")[0], plan
        assert plan.count("Bucketed: true") == 1, plan
        assert "Bucketed: false (disabled by query planner)" in plan, plan
        assert "SelectedBucketsCount: 16 out of 16" in plan, plan
        n_expected = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
        assert joined.count() == n_expected

        # escape hatch: coalesce the 16-bucket scan down to 8 in-plan
        spark.conf.set(
            "spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true"
        )
        coalesced = spark.table("li_b8").join(
            spark.table("ord_b16"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        cplan = coalesced._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in cplan, cplan
        assert cplan.count("Bucketed: true") == 2, cplan
        assert "SelectedBucketsCount: 16 out of 16 (Coalesced to 8)" in cplan, cplan
        assert coalesced.count() == n_expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set(
            "spark.sql.bucketing.coalesceBucketsInJoin.enabled", "false"
        )


def test_mix_sources_stable_under_growth(docs):
    """A source's selected ids must not change when other rows appear —
    the incremental-rebuild guarantee of hash sampling."""
    from henbun_spark.operators import pipeline

    full = pipeline.mix_sources(
        docs, "source", "doc_id", {"src0": 50}, default_pct=0
    )
    half = pipeline.mix_sources(
        docs.limit(200), "source", "doc_id", {"src0": 50}, default_pct=0
    )
    full_ids = {r["doc_id"] for r in full.select("doc_id").collect()}
    half_ids = {r["doc_id"] for r in half.select("doc_id").collect()}
    assert half_ids <= full_ids
    # and the cut is per-source: nothing outside src0 at default 0
    assert full.where(F.col("source") != "src0").count() == 0


def test_pack_sequences_offsets_consistent(docs):
    """start_offset must equal the sum of earlier docs' tokens within the
    shard, and bins are contiguous from 0."""
    from henbun_spark.operators import pipeline

    d = docs.withColumn("tok", (F.floor(F.col("n_chars") / 4) + 1).cast("long"))
    packed = pipeline.pack_sequences(
        d, "doc_id", "tok", budget=256, part_col="source"
    ).toPandas()
    for src, grp in packed.groupby("source"):
        grp = grp.sort_values("start_offset")
        expect = 0
        for _, row in grp.iterrows():
            assert row["start_offset"] == expect
            assert row["bin"] == expect // 256
            expect += row["tok"]


def test_contamination_flags_exact_copy(spark):
    """A corpus doc containing a benchmark passage verbatim must be
    flagged; an unrelated doc must not."""
    import pandas as pd

    from henbun_spark.operators import pipeline

    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["the secret benchmark passage here"]})
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11],
                "text": [
                    "leading words the secret benchmark passage here trailing",
                    "completely unrelated content with no overlap at all",
                ],
            }
        )
    )
    out = pipeline.contamination_overlap(
        corpus, bench, "text", "doc_id", n=12
    ).toPandas()
    assert set(out["doc_id"]) == {10}


def test_connected_components_matches_union_find(spark, monkeypatch):
    from henbun_spark.operators import graph

    rng = np.random.default_rng(11)
    n, m = 60, 45
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = sorted({x for e in edges for x in e})
    expect = {}
    for v in nodes:
        root = find(v)
        expect.setdefault(root, []).append(v)
    want = {v: min(vs) for vs in expect.values() for v in vs}

    edf = spark.createDataFrame(edges, "src: long, dst: long")
    # the default cap -> driver union-find fast path; cap 0 -> the
    # distributed iteration. Same contract from all four routes.
    for fn in (graph.connected_components, graph.connected_components_star):
        for cap in (graph.DRIVER_UNION_FIND_MAX_EDGES, 0):
            with monkeypatch.context() as m:
                m.setattr(graph, "DRIVER_UNION_FIND_MAX_EDGES", cap)
                got = {
                    r["node"]: r["comp"]
                    for r in fn(edf, "src", "dst").collect()
                }
            assert got == want, (fn.__name__, cap)


def test_scaffold_scope_releases_and_shuffle_width_defensive(spark):
    """r7 ADVICE items: (a) scaffold_scope() is the leak-proof lifecycle
    for library callers — caches registered inside the block are gone
    after exit, outer registrations untouched; (b) _shuffle_width falls
    back to 200 when a managed runtime sets a non-numeric sentinel."""
    from henbun_spark.operators import relational

    # the shipped primitives register nothing since r7 (all in-plan);
    # exercise the lifecycle mechanics with hand-registered caches
    df = spark.range(100).withColumn("v", F.col("id") % 7)
    outer = df.persist()
    relational._SCAFFOLD_CACHES.append(outer)
    depth0 = len(relational._SCAFFOLD_CACHES)
    with relational.scaffold_scope():
        inner = df.select("id").persist()
        relational._SCAFFOLD_CACHES.append(inner)
        inner.count()  # materialize inside the scope, per contract
        assert len(relational._SCAFFOLD_CACHES) == depth0 + 1
    assert len(relational._SCAFFOLD_CACHES) == depth0
    assert relational._SCAFFOLD_CACHES[-1] is outer
    relational.release_scaffold_caches()

    class _Conf:
        def get(self, k, d=None):
            return "auto"

    class _Spark:
        conf = _Conf()

    assert relational._shuffle_width(_Spark()) == 200
    assert relational._shuffle_width(spark) > 0


def test_connected_components_null_and_self_edges(spark, monkeypatch):
    """Dirty edge lists: NULL-endpoint edges and self-loops are dropped
    by the u != v guard BEFORE either path — the driver union-find
    never meets a None (its Python < would raise), the distributed
    iteration never propagates a NULL label, and both paths return the
    same components. Nodes appearing ONLY in dropped edges are absent."""
    from henbun_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (None, None), (6, 6), (7, 8)],
        "src bigint, dst bigint",
    )
    want = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    for fn in (graph.connected_components, graph.connected_components_star):
        for cap in (graph.DRIVER_UNION_FIND_MAX_EDGES, 0):
            with monkeypatch.context() as m:
                m.setattr(graph, "DRIVER_UNION_FIND_MAX_EDGES", cap)
                got = {
                    r["node"]: r["comp"]
                    for r in fn(edges, "src", "dst").collect()
                }
            assert got == want, (fn.__name__, cap, got)


def test_dedup_clusters_labels_singletons(spark):
    from henbun_spark.operators import graph

    df = spark.createDataFrame([(i,) for i in range(8)], "doc_id: long")
    pairs = spark.createDataFrame([(1, 3), (3, 5), (6, 7)], "id_a: long, id_b: long")
    out = {
        r["doc_id"]: (r["component"], r["is_canonical"])
        for r in graph.dedup_clusters(df, pairs, "doc_id").collect()
    }
    assert out[1] == (1, True) and out[3] == (1, False) and out[5] == (1, False)
    assert out[6] == (6, True) and out[7] == (6, False)
    for single in (0, 2, 4):
        assert out[single] == (single, True)


def test_chunk_dedup_removes_repeated_spans(spark):
    a = " ".join(f"w{i}" for i in range(8))       # one 4-word-chunk pair
    b = " ".join(f"w{i}" for i in range(4)) + " unique tail words here"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id: long, text: string")
    out = {
        r["doc_id"]: r
        for r in dedup.chunk_dedup(df, "text", "doc_id", chunk_words=4).collect()
    }
    # doc 1 keeps both of its chunks (first occurrences)
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == a
    # doc 2's first chunk (w0..w3) duplicates doc 1's — removed
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "unique tail words here"


def test_duplicate_substring_spans_planted(spark):
    """ExactSubstr spans on a hand-planted corpus: a 30-char block
    shared by two docs at different offsets becomes one maximal span in
    EACH doc (positions exact, 1-based inclusive); a doc with no
    duplicated window yields no spans; a within-doc repeat also
    counts (corpus-wide >= 2 includes the same doc)."""
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 chars
    d1 = "xx" + shared + "tailpiece-one-abcdefghijk"
    d2 = "completely-different-head" + shared
    d3 = "no duplicated windows live here at all, period.."
    d4 = "YY" + "samesamesamesameSAMEsame" + "ZZ" + "samesamesamesameSAMEsame"
    d5 = "exactly-24-chars-long-AB"  # len == min_len: one window
    d6 = "short"  # below min_len: no windows, never a span
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4), (5, d5), (6, d6), (7, None),
         (8, d5)],  # doc 8 duplicates doc 5's single window
        "doc_id: long, text: string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): r
        for r in dedup.duplicate_substring_spans(
            df, "text", "doc_id", min_len=24
        ).collect()
    }
    # doc1: shared occupies [3, 32]; doc2: [26, 55]
    assert (1, 3, 32) in spans and (2, 26, 55) in spans
    assert spans[(1, 3, 32)]["span_len"] == 30
    assert spans[(1, 3, 32)]["n_shingles"] == 7  # 30 - 24 + 1
    assert not any(d == 3 for d, _s, _e in spans)
    # doc4's 24-char block repeats WITHIN the doc at offsets 3 and 29
    assert (4, 3, 26) in spans and (4, 29, 52) in spans
    # exactly-min_len docs: the single window is shared by docs 5 and 8
    assert (5, 1, 24) in spans and (8, 1, 24) in spans
    # below-min_len and NULL texts produce no windows and no spans
    assert not any(d in (6, 7) for d, _s, _e in spans)


def test_winnowed_spans_guarantee_and_containment(spark):
    """Winnowed ExactSubstr: (a) every duplicate span of length >=
    min_len + band - 1 is detected (the SWA winnowing guarantee — both
    copies contain a full digest band whose content-determined selected
    fingerprint matches); (b) winnowed spans always sit INSIDE the
    exact-mode spans (selection only drops positions, never invents
    them); (c) a doc with no duplicated window yields nothing."""
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789abcd"  # 40 >= 24+8-1
    d1 = "xx" + shared + "tailpiece-one-unique-abcdef"
    d2 = "another-different-head--" + shared + "yy"
    d3 = "no duplicated windows live in this document at all...."
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id: long, text: string"
    )
    exact = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in dedup.duplicate_substring_spans(
            df, "text", "doc_id", min_len=24
        ).collect()
    }
    win = dedup.duplicate_substring_spans_winnowed(
        df, "text", "doc_id", min_len=24, band=8
    ).collect()
    got_docs = {r["doc_id"] for r in win}
    assert {1, 2} <= got_docs and 3 not in got_docs  # (a), (c)
    for r in win:  # (b)
        s, e = exact[r["doc_id"]]
        assert s <= r["span_start"] and r["span_end"] <= e
    # (d) alignment: both copies select the same content-relative
    # positions, so the two winnowed spans have identical length
    by_doc = {r["doc_id"]: r for r in win}
    assert by_doc[1]["span_len"] == by_doc[2]["span_len"]
    assert by_doc[1]["n_shingles"] == by_doc[2]["n_shingles"]


def test_winnowed_spans_explode_volume_reduction(spark):
    """The point of winnowing is the shuffled-row budget: the selected
    fingerprint count must be well under the exact pass's one-row-per-
    position explode (expected density 2/(band+1) ~ 22% at band=8)."""
    import random

    rng = random.Random(7)
    docs = [
        (i, " ".join(rng.choice("abcdefgh") for _ in range(120)))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    total_positions = df.selectExpr(
        "sum(greatest(length(text) - 23, 0)) AS n"
    ).collect()[0]["n"]
    from pyspark.sql import functions as F

    txt = F.col("text")
    m = F.length(txt) - F.lit(23)
    keys = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat(
            F.md5(txt.substr(i, F.lit(24))),
            F.lpad(i.cast("string"), 12, "0"),
        ),
    )
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(m - F.lit(7), F.lit(1))),
            lambda j: F.array_min(F.slice(keys, j, 8)),
        )
    )
    selected = df.select(F.explode(sel)).count()
    assert selected < 0.35 * total_positions  # ~0.22 expected


def test_remove_duplicate_spans_excises_exact_offsets(spark):
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"
    d1 = "xx" + shared + "tailpiece-one-abcdefghijk"
    d2 = "completely-different-head" + shared
    d3 = "no duplicated windows live here at all, period.."
    d5 = "exactly-24-chars-long-AB"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (5, d5), (7, None), (8, d5)],
        "doc_id: long, text: string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(
            df, "text", "doc_id", min_len=24
        ).collect()
    }
    assert out[1]["cleaned"] == "xx" + "tailpiece-one-abcdefghijk"
    assert out[2]["cleaned"] == "completely-different-head"
    assert out[3]["cleaned"] == d3 and out[3]["n_spans"] == 0
    # a doc that is ONE duplicated span end-to-end excises to empty
    assert out[5]["cleaned"] == "" and out[8]["cleaned"] == ""
    # NULL text passes through as NULL with no spans
    assert out[7]["cleaned"] is None and out[7]["n_spans"] == 0
    for r in out.values():
        if r["cleaned"] is None:
            continue
        assert r["cleaned_len"] == len(r["cleaned"])
        assert r["orig_len"] - r["cleaned_len"] == (
            30 if r["doc_id"] in (1, 2) else 24 if r["doc_id"] in (5, 8)
            else 0
        )


def test_pii_scrub_detects_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.org thanks"),
            (2, "server 192.168.10.254 and phone 415-555-0000"),
            (3, "nothing sensitive here"),
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in text.pii_scrub(df, "text", "doc_id").collect()}
    assert out[1]["n_email"] == 1 and "[EMAIL]" in out[1]["redacted"]
    assert "jo.doe" not in out[1]["redacted"]
    assert out[2]["n_ip"] == 1 and out[2]["n_phone"] == 1
    assert out[2]["redacted"] == "server [IP] and phone [PHONE]"
    assert out[3]["redacted"] == "nothing sensitive here"
    assert out[3]["n_email"] == out[3]["n_ip"] == out[3]["n_phone"] == 0


def test_unigram_lm_score_ranks_outliers_higher(spark):
    common = "the the the cat sat on the mat"
    outlier = "zyzzyva qwertic flumox"
    df = spark.createDataFrame(
        [(1, common), (2, outlier)], "doc_id: long, text: string"
    )
    out = {r["doc_id"]: r for r in text.unigram_lm_score(df, "text", "doc_id").collect()}
    # rare-token doc must score strictly higher cross-entropy
    assert out[2]["xent"] > out[1]["xent"]
    assert out[1]["n_tokens"] == 8 and out[2]["n_tokens"] == 3
    # hand-check: all outlier tokens have count 1 of N=11 -> xent = ln(11)
    assert abs(out[2]["xent"] - np.log(11)) < 1e-5


def test_gapfill_locf_fills_and_carries(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 30), 10.0),
        (1, dt.datetime(2024, 1, 1, 3, 10), 7.0),   # hours 1,2 are gaps
        (2, dt.datetime(2024, 1, 1, 5, 0), 1.0),    # singleton span
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, value: double")
    out = relational.gapfill_locf(df, "ts", "user_id", "value", 3600).collect()
    u1 = sorted([r for r in out if r["user_id"] == 1], key=lambda r: r["bucket_epoch"])
    assert [r["n_events"] for r in u1] == [1, 0, 0, 1]
    assert [r["filled"] for r in u1] == [False, True, True, False]
    assert [r["value_locf"] for r in u1] == [10.0, 10.0, 10.0, 7.0]
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["n_events"] == 1 and not u2[0]["filled"]


def test_suff_stats_runs_one_stage_and_repeats_its_bits(spark):
    """Below the fold's cutover `suff_stats` collects its per-partition
    partials: one stage per call at 8 partitions, where a depth-2
    treeAggregate added a reduceByKey stage; repeated calls give the same
    bits."""
    from henbun_spark.operators import decomposition

    df = spark.range(0, 4000, 1, 8).select(
        F.array(F.sin(F.col("id") * 0.37), F.cos(F.col("id") * 1.3),
                F.col("id") / 7.0).alias("emb")
    )
    tracker = spark.sparkContext.statusTracker()
    stages, bits = [], set()
    for _ in range(3):
        before = set(tracker.getJobIdsForGroup(None))
        n, s, g = decomposition.suff_stats(df, "emb")
        jobs = set(tracker.getJobIdsForGroup(None)) - before
        stages.append(sum(len(tracker.getJobInfo(j).stageIds) for j in jobs))
        bits.add((n, s.tobytes(), g.tobytes()))
    assert stages == [1, 1, 1]
    assert len(bits) == 1 and n == 4000 and s.shape == (3,) and g.shape == (9,)


def test_pca_matches_numpy(emb):
    from henbun_spark.operators import decomposition

    comps, evar, mu = decomposition.pca_fit(emb, "embedding", k=3)
    x = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    mu_np = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    want = evecs[:, order].T
    flip = np.sign(want[np.arange(3), np.abs(want).argmax(axis=1)])
    want = want * flip[:, None]
    np.testing.assert_allclose(mu, mu_np, rtol=1e-8)
    np.testing.assert_allclose(evar, evals[order], rtol=1e-8)
    np.testing.assert_allclose(comps, want, rtol=1e-6, atol=1e-9)

    # projection: pure Column (no Python eval in the plan) and numerically
    # equal to the numpy projection
    proj = decomposition.pca_project(
        emb.select("vec_id", "embedding"), "embedding", comps, mu
    )
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = {
        r["vec_id"]: [r["pc1"], r["pc2"], r["pc3"]] for r in proj.collect()
    }
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    want_proj = (x - mu_np) @ comps.T
    for i, vid in enumerate(ids):
        np.testing.assert_allclose(got[vid], want_proj[i], rtol=1e-6, atol=1e-8)


def test_incremental_dedup_drops_exact_and_near(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " changed"
    ref = spark.createDataFrame([(100, base)], "doc_id: long, text: string")
    new = spark.createDataFrame(
        [
            (1, base),                      # exact dup of the lake
            (2, near),                      # near dup (shares most shingles)
            (3, "entirely different words that overlap with nothing at all"),
        ],
        "doc_id: long, text: string",
    )
    out = dedup.incremental_dedup(new, ref, "text", "doc_id", n=5, bands=8, min_bands=4)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 not in ids           # removed by exact hash stage
    assert 2 not in ids           # removed by minhash stage
    assert ids == {3}


def test_zorder_write_clusters_both_dims(spark, tmp_path):
    import glob
    import itertools

    import pyarrow.parquet as pq
    from henbun_spark.operators import layout

    # balanced 2-d grid (the regime Z-order is for; with wildly unequal
    # ranges the curve correctly degenerates to a sort on the wide dim)
    rows = [(a, b) for a, b in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, "a: long, b: long")
    out = str(tmp_path / "zorded")
    layout.write_zordered(df, out, ["a", "b"], bits=6, n_files=16)
    spans_a, spans_b = [], []
    for f in glob.glob(out + "/*.parquet"):
        t = pq.read_table(f)
        a = t["a"].to_numpy()
        b = t["b"].to_numpy()
        if len(a):
            spans_a.append(a.max() - a.min())
            spans_b.append(b.max() - b.min())
    assert len(spans_a) >= 8
    # 16 z-range files over a 64x64 grid = 4x4 quadrant tiles: both dims
    # must be clustered (span ~16-32 vs the global 63), which a 1-d sort
    # cannot do (it leaves one dim at full span ~63 in every file)
    assert np.mean(spans_a) < 0.6 * 63
    assert np.mean(spans_b) < 0.6 * 63


def test_zorder_value_interleaves_bits(spark):
    from henbun_spark.operators import layout

    df = spark.createDataFrame([(0b101, 0b011)], "a: long, b: long")
    z = df.select(layout.zorder_value(["a", "b"], bits=3).alias("z")).first()["z"]
    # a bits at even positions, b bits at odd: a=101 -> 1,0,1 at 0,2,4;
    # b=011 -> 1,1,0 at 1,3,5  => z = 0b011011
    assert z == 0b011011


def _bpe_reference(word_counts, n_merges):
    """Single-process reference BPE (Sennrich-style) for parity checks."""
    syms = {w: tuple(list(w) + ["</w>"]) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, c in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    return merges


def test_bpe_train_matches_reference(spark):
    from henbun_spark.operators import bpe

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wider wide widest wider",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text: string")
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want = _bpe_reference(wc, 10)
    got = bpe.bpe_train(df, "text", n_merges=10)
    assert got == want


def test_bpe_encode_round_trip(spark):
    from henbun_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "low lower"), (2, "newest")], "doc_id: long, text: string"
    )
    merges = bpe.bpe_train(df, "text", n_merges=6)
    enc = {r["doc_id"]: r for r in bpe.bpe_encode(df, "text", "doc_id", merges).collect()}
    for did, txt in [(1, "low lower"), (2, "newest")]:
        toks = enc[did]["tokens"]
        # detokenizing (strip </w>, join) recovers the original text
        words, cur = [], ""
        for t in toks:
            if t.endswith("</w>"):
                words.append(cur + t[: -len("</w>")])
                cur = ""
            else:
                cur += t
        assert " ".join(words) == txt
        assert enc[did]["n_tokens"] == len(toks)


def test_connected_components_star_chain_and_random(spark):
    from henbun_spark.operators import graph

    # worst case for label propagation: one long chain (diameter = n-1);
    # the star algorithm must converge in O(log n) rounds (max_iter=15
    # would be exceeded by a propagation-style algorithm at n=200)
    chain = [(i, i + 1) for i in range(199)]
    edf = spark.createDataFrame(chain, "src: long, dst: long")
    got = {
        r["node"]: r["comp"]
        for r in graph.connected_components_star(edf, max_iter=15).collect()
    }
    assert got == {i: 0 for i in range(200)}

    # random graph: must agree with the label-propagation implementation
    rng = np.random.default_rng(5)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, 80, size=(60, 2))
        if a != b
    ]
    edf2 = spark.createDataFrame(edges, "src: long, dst: long")
    want = {
        r["node"]: r["comp"]
        for r in graph.connected_components(edf2).collect()
    }
    got2 = {
        r["node"]: r["comp"]
        for r in graph.connected_components_star(edf2).collect()
    }
    assert got2 == want


def test_skew_report_flags_hot_key(spark):
    rows = [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)]
    df = spark.createDataFrame(rows, "key: long, payload: long")
    out = relational.skew_report(df, ["key"], top_k=3).collect()
    assert out[0]["key"] == 1 and out[0]["rank"] == 1
    assert abs(out[0]["share"] - 0.9) < 1e-9
    # 11 distinct keys, hot key holds 90/100 rows -> ratio 9.9
    assert abs(out[0]["uniform_ratio"] - 9.9) < 1e-9
    plan = relational.skew_report(df, ["key"], top_k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    import glob

    li = sources.load_table(spark, sf_dir, "lineitem")
    frag = str(tmp_path / "fragmented")
    li.repartition(40).write.parquet(frag)
    assert len(glob.glob(frag + "/*.parquet")) == 40
    out = str(tmp_path / "compacted")
    n = sources.compact_parquet(spark, frag, out, target_file_mb=256)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n <= 2
    assert spark.read.parquet(out).count() == li.count()


def test_take_budget_exact_prefix_and_parallel_window(spark):
    from henbun_spark.operators import selection

    rows = [(i, 100 - i, 10) for i in range(50)]  # score desc == id asc
    df = spark.createDataFrame(rows, "doc_id: long, score: long, w: long")
    out = selection.take_budget(
        df, "score", "w", budget=105, id_col="doc_id", n_partitions=7
    ).orderBy("doc_id").collect()
    # 10 full rows fit (cum 100); row 11 would reach 110 > 105
    assert [r["doc_id"] for r in out] == list(range(10))
    assert [r["cum_weight"] for r in out] == [10 * (i + 1) for i in range(10)]
    # the DATA window must be partitioned by the bin column (parallel),
    # never a partition-less global window (single-reducer scan); the
    # only global-ish window is over the tiny cells aggregate
    plan = (
        selection.take_budget(df, "score", "w", 105, "doc_id", 7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "windowspecdefinition(__bin" in plan


def test_gopher_quality_rules(spark):
    good = " ".join(["the", "and", "of"] + [f"word{i}" for i in range(60)])
    short = "the and of tiny"                       # fails word-count window
    symbols = " ".join(["####"] * 30 + ["the", "and"] * 15)  # hash ratio high
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "doc_id: long, text: string"
    )
    out = {r["doc_id"]: r for r in text.gopher_quality(df, "text", "doc_id").collect()}
    assert out[1]["passes"] is True
    assert out[1]["stop_hits"] == 3 and out[1]["n_words"] == 63
    assert out[2]["passes"] is False and out[2]["n_words"] == 4
    assert out[3]["passes"] is False and out[3]["hash_ratio"] > 0.1


def test_ahash_image_near_dup(spark):
    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    # near-dup: small additive noise; far: independent image
    noisy = np.clip(base.astype(int) + rng.integers(-6, 7, base.shape), 0, 255).astype(np.uint8)
    other = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    rows = [
        (0, "image", bytearray(multimodal.encode_bmp(base)), (8, 8, None, None, "bmp")),
        (1, "image", bytearray(multimodal.encode_bmp(noisy)), (8, 8, None, None, "bmp")),
        (2, "image", bytearray(multimodal.encode_bmp(base)), (8, 8, None, None, "bmp")),
        (3, "image", bytearray(multimodal.encode_bmp(other)), (8, 8, None, None, "bmp")),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    hashes = multimodal.ahash_images(df)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.hamming_near_pairs(hashes, max_hamming=6).collect()
    }
    assert pairs[(0, 2)] == 0          # identical images -> identical hash
    assert (0, 1) in pairs             # noisy copy within hamming budget
    assert (0, 3) not in pairs or pairs[(0, 3)] > pairs[(0, 1)]


def _media_hashes(spark):
    # (media_id, ahash) rows: (2, 0b1011) occurs twice, and id 3 carries
    # two hashes that both lie 2 bits from id 1
    rows = [(1, 0b1111), (2, 0b1011), (2, 0b1011), (3, 0b0011), (3, 0b0101),
            (4, 0b1 << 40), (5, (0b1 << 40) | 0b110)]
    return rows, spark.createDataFrame(rows, "media_id long, ahash long")


def test_hamming_near_pairs_keeps_distinct_form_multiset(spark):
    """One row per distinct ((id_a, h_a), (id_b, h_b)) row pair within
    the threshold — the multiset the candidate-pair `distinct()` gave
    before the first-agreeing-block emission, also when a (media_id,
    hash) row repeats and an id carries two hashes."""
    from collections import Counter

    rows, df = _media_hashes(spark)
    uniq = sorted(set(rows))
    want = Counter(
        (ia, ib, bin(ha ^ hb).count("1"))
        for ia, ha in uniq
        for ib, hb in uniq
        if ia < ib and bin(ha ^ hb).count("1") <= 3
    )
    got = Counter(
        tuple(r) for r in multimodal.hamming_near_pairs(df, max_hamming=3).collect()
    )
    assert want[(1, 3, 2)] == 2 and want[(1, 2, 1)] == 1 and want[(4, 5, 2)] == 1
    assert got == want


def test_hamming_near_pairs_plans_no_aggregate_above_band_join(spark):
    """The media band join dedups its n input rows, never the candidate
    pairs: no Aggregate sits above the join in the optimized plan (a
    pair `distinct()` there shuffles the whole candidate volume)."""
    _rows, df = _media_hashes(spark)
    plan = multimodal.hamming_near_pairs(df)._jdf.queryExecution()
    lines = plan.optimizedPlan().treeString().splitlines()
    above = lines[: next(i for i, ln in enumerate(lines) if "Join" in ln)]
    assert not [ln for ln in above if "Aggregate" in ln], "\n".join(lines)


def test_snapshot_diff_classifies(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id: long, v: string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "id: long, v: string"
    )
    out = {
        r["id"]: r["change_type"]
        for r in relational.snapshot_diff(old, new, "id", ["v"]).collect()
    }
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_profile_table_single_pass(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 2, None], "b": ["x", None, "y", "y"]})
    )
    prof = {r["column"]: r for r in sources.profile_table(df, ["a", "b"]).collect()}
    assert prof["a"]["n_rows"] == 4 and prof["a"]["n_nulls"] == 1
    assert prof["a"]["n_distinct"] == 2
    assert prof["b"]["n_nulls"] == 1 and prof["b"]["min_val"] == "x"


def test_audio_fingerprint_near_dup(spark):
    sr = 16000
    t = np.arange(1600) / sr

    def tone(freq, amp=0.5, noise=0.0, seed=0):
        rng = np.random.default_rng(seed)
        return amp * np.sin(2 * np.pi * freq * t) + noise * rng.standard_normal(len(t))

    rows = [
        (0, "audio", bytearray(multimodal.encode_wav(tone(440), sr)), (None, None, sr, 100, "wav")),
        (1, "audio", bytearray(multimodal.encode_wav(tone(440, amp=0.4, noise=0.01), sr)), (None, None, sr, 100, "wav")),
        (2, "audio", bytearray(multimodal.encode_wav(tone(2900), sr)), (None, None, sr, 100, "wav")),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    fps = {r["media_id"]: r["afp"] for r in multimodal.audio_fingerprint(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    # level-shifted noisy copy of the same tone stays close; a far-away
    # tone moves the spectral envelope -> more differing bits
    assert hamming(fps[0], fps[1]) <= 4
    assert hamming(fps[0], fps[2]) > hamming(fps[0], fps[1])


def test_partition_pruned_scan_prunes(spark, sf_dir):
    """The day-range filter must reach the partitioned scan as a
    PartitionFilter (directory pruning at planning time), and the pruned
    read must select only the 3 matching partitions."""
    import __spark_entry__ as entry_mod

    df = entry_mod.partition_pruned_scan(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "day" in plan.split("PartitionFilters:")[1][:200]
    days = {str(r["day"]) for r in df.collect()}
    assert days == {"2024-01-05", "2024-01-06", "2024-01-07"}


def test_audio_dedup_fp_finds_planted_copies(spark):
    """The audio dedup contract query pairs every planted gain-shifted
    noisy re-encode (id 1000+i) with its original (id i) via the banded
    Hamming join — and the pair set stays far below all-pairs."""
    import __spark_entry__ as entry_mod

    pairs = entry_mod.audio_dedup_fp(spark, None).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for i in range(8):
        assert (i, 1000 + i) in found, f"planted copy {i} not paired"
    assert len(found) < 72 * 71 / 4  # banding, not all-pairs


def test_funnel_strict_ordering(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(uid, minute, etype):
        return (uid, base + dt.timedelta(minutes=minute), etype)

    rows = [
        # user 1 completes in order
        ev(1, 0, "view"), ev(1, 5, "click"), ev(1, 9, "purchase"),
        # user 2: purchase BEFORE click -> must not count as completed
        ev(2, 0, "view"), ev(2, 3, "purchase"), ev(2, 5, "click"),
        # user 3 stops after view
        ev(3, 0, "view"),
        # user 4 never views (not in funnel at all)
        ev(4, 0, "click"), ev(4, 2, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, event_type: string")
    out = {r["step"]: r for r in relational.funnel(
        df, "ts", "user_id", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert out[1]["n_users"] == 3
    assert out[2]["n_users"] == 2          # users 1 and 2 click after view
    assert out[3]["n_users"] == 1          # only user 1 purchases after click
    assert abs(out[3]["conversion"] - 1 / 3) < 1e-6


def test_weighted_sample_bias_and_determinism(spark):
    from henbun_spark.operators import sampling

    rows = [(i, 100.0 if i < 20 else 1.0) for i in range(400)]
    df = spark.createDataFrame(rows, "id: long, w: double")
    s1 = [r["id"] for r in sampling.weighted_sample(df, "w", 50, "id").collect()]
    s2 = [r["id"] for r in sampling.weighted_sample(df, "w", 50, "id").collect()]
    assert s1 == s2                       # deterministic across runs
    heavy = sum(1 for i in s1 if i < 20)
    # 20 rows hold 2000/2380 of the weight: they must dominate the sample
    # far beyond their 5% population share
    assert heavy >= 15
    # zero/negative weights excluded
    df2 = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 5.0)], "id: long, w: double")
    assert [r["id"] for r in sampling.weighted_sample(df2, "w", 3, "id").collect()] == [3]
    # plan: global top-k must be TakeOrdered, not a full sort
    plan = sampling.weighted_sample(df, "w", 50, "id")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_schema_evolution_merge_read(spark, tmp_path):
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id: long, v: string").write.parquet(p + "/batch=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id: long, v: string, score: double"
    ).write.parquet(p + "/batch=2")
    df = sources.read_parquet_evolving(spark, p)
    rows = {r["id"]: r for r in df.collect()}
    assert set(df.columns) >= {"id", "v", "score"}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_tolerant_json_quarantines_bad_rows(spark, tmp_path):
    import pyspark.sql.types as T

    p = str(tmp_path / "in.json")
    with open(p, "w") as f:
        f.write('{"id": 1, "v": "ok"}\n')
        f.write('{"id": broken!!\n')
        f.write('{"id": 3, "v": "fine"}\n')
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = sources.read_json_tolerant(spark, p, schema).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert "broken" in bad.first()["_corrupt_record"]


def test_bigram_lm_rewards_common_sequences(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat the cat sat the cat sat"),
            (2, "sat the cat cat sat the the cat"),
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in text.bigram_lm_score(df, "text", "doc_id").collect()}
    # doc 1 repeats high-probability bigrams; doc 2 uses rarer transitions
    assert out[1]["xent2"] < out[2]["xent2"]
    assert out[1]["n_positions"] == 8 and out[2]["n_positions"] == 7


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    ev = sources.load_table(spark, sf_dir, "events")
    out = str(tmp_path / "by_type")
    sources.write_parquet(ev, out, partition_by=["event_type"])
    scan = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the filter must become a partition filter on the scan (pruned
    # directories), not a post-scan row filter
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert scan.count() == ev.where(F.col("event_type") == "purchase").count()


def test_ewma_matches_sequential_reference(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    vals = [10.0, 20.0, 5.0, 40.0]
    rows = [(1, base + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, value: double")
    out = relational.ewma_last(df, "ts", "user_id", "value", alpha=0.3).first()
    s = vals[0]
    for v in vals[1:]:
        s = 0.3 * v + 0.7 * s
    assert out["n_obs"] == 4
    assert abs(out["ewma"] - round(s, 6)) < 1e-9


def test_hashed_features_stable_and_signed(spark):
    df = spark.createDataFrame(
        [(1, "click", None), (2, "click", "x")], "id: long, a: string, b: string"
    )
    out1 = {r["id"]: r for r in text.hashed_features(df, ["a", "b"], "id").collect()}
    out2 = {r["id"]: r for r in text.hashed_features(df, ["a", "b"], "id").collect()}
    # deterministic; same value -> same index; signs in {-1, +1}
    assert out1[1]["idx"] == out2[1]["idx"]
    assert out1[1]["idx"][0] == out1[2]["idx"][0]        # both 'click'
    assert out1[1]["idx"][1] != out1[2]["idx"][1] or True  # null vs 'x' may differ
    for r in out1.values():
        assert all(s in (-1, 1) for s in r["sign"])
        assert all(0 <= i < 1024 for i in r["idx"])


def test_pagerank_matches_numpy_power_iteration(spark):
    from henbun_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    edf = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(edf, iters=8).collect()}

    # numpy replica of the same recurrence (incl. the 9-dp rounding)
    sym = set()
    for a, b in edges:
        sym.add((a, b)); sym.add((b, a))
    nodes = sorted({x for e in sym for x in e})
    deg = {u: sum(1 for (a, _) in sym if a == u) for u in nodes}
    rank = {u: 1.0 for u in nodes}
    for _ in range(8):
        new = {}
        for v in nodes:
            s = sum(round(rank[u] / deg[u], 9) for (u, vv) in sym if vv == v)
            new[v] = 0.15 + 0.85 * s
        rank = new
    for u in nodes:
        assert abs(got[u] - rank[u]) < 1e-9, (u, got[u], rank[u])
    # hub node 2 (degree 3) must out-rank the leaf node 3
    assert got[2] > got[3]


def test_pagerank_driver_path_bitwise_equals_distributed(spark, monkeypatch):
    """r12: graphs under the union-find cap iterate on the driver
    (`graph._driver_pagerank`). The decimal-exact recurrence makes the
    rank vector a pure function of the edge list, so the two paths must
    agree BITWISE — this pins the replication subtleties (repr vs
    Double.toString shortest form, HALF_UP quantize, exact decimal
    sums, the (1-d) + d*sum literal order) against drift."""
    import random

    from pyspark.sql import functions as F

    from henbun_spark.operators import graph

    rng = random.Random(7)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(150)})
    edf = spark.createDataFrame(edges, "src: long, dst: long")
    sym = (
        edf.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edf.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    fast = {
        r["node"]: r["rank"]
        for r in graph._driver_pagerank(spark, sym, 10, 0.85).collect()
    }
    # force the distributed loop by dropping the cap
    monkeypatch.setattr(graph, "DRIVER_UNION_FIND_MAX_EDGES", 0)
    slow = {
        r["node"]: r["rank"]
        for r in graph.pagerank(edf, iters=10).collect()
    }
    assert fast == slow  # bitwise: dict equality on float values


def test_cms_estimate_upper_bounds_and_merge(spark):
    """CMS invariants: est >= exact always; with width >> keys the
    estimate is exact; merging per-half sketches equals the
    whole-corpus sketch counter-for-counter."""
    from pyspark.sql import functions as F

    from henbun_spark.operators import sketch

    rows = [(i % 37,) for i in range(500)] + [(999,)] * 50
    df = spark.createDataFrame(rows, "k: long")
    cms = sketch.cms_build(df, "k", depth=4, width=512)
    keys = df.select("k").distinct()
    est = {
        r["key"]: r["est"]
        for r in sketch.cms_estimate(cms, keys, "k", depth=4, width=512).collect()
    }
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    for k, n in exact.items():
        assert est[k] >= n, (k, est[k], n)
    # 38 keys in 512 buckets x 4 rows: collisions in all 4 rows are
    # vanishingly unlikely -> exact
    assert est == exact

    # mergeability: sketch(half1) + sketch(half2) == sketch(all)
    h1 = spark.createDataFrame(rows[:250], "k: long")
    h2 = spark.createDataFrame(rows[250:], "k: long")
    merged = sketch.cms_merge(
        sketch.cms_build(h1, "k", depth=4, width=512),
        sketch.cms_build(h2, "k", depth=4, width=512),
    )
    whole = {(r["d"], r["bucket"]): r["cnt"] for r in cms.collect()}
    got = {(r["d"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == whole


def test_cms_overestimates_under_collision_pressure(spark):
    """With width << keys the sketch must still never underestimate and
    the total overestimate must be bounded (sanity on the hash spread)."""
    from pyspark.sql import functions as F

    from henbun_spark.operators import sketch

    df = spark.range(0, 2000).select((F.col("id") % 400).alias("k"))
    cms = sketch.cms_build(df, "k", depth=4, width=32)
    est = sketch.cms_estimate(cms, df.select("k").distinct(), "k", depth=4, width=32)
    joined = (
        df.groupBy("k").agg(F.count("*").alias("n"))
        .join(est.withColumnRenamed("key", "k"), "k")
        .collect()
    )
    assert all(r["est"] >= r["n"] for r in joined)
    # depth-4 min over 32 buckets: mean overestimate stays far below N
    over = sum(r["est"] - r["n"] for r in joined) / len(joined)
    assert over < 2000 * 0.25


def test_hll_merge_equals_whole_and_reasonable_error(spark):
    """HLL register-MAX merge of two halves equals the whole-corpus
    sketch exactly; estimate lands within the theoretical ~1.04/sqrt(m)
    band (x5 slack) of the true cardinality."""
    from pyspark.sql import functions as F

    from henbun_spark.operators import sketch

    df = spark.range(0, 4000).select(F.col("id").alias("k"))
    whole = sketch.hll_registers(df, "k", b=8)
    h1 = sketch.hll_registers(df.where(F.col("k") < 2000), "k", b=8)
    h2 = sketch.hll_registers(df.where(F.col("k") >= 2000), "k", b=8)
    merged = sketch.hll_merge(h1, h2)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in whole.collect()}

    est = sketch.hll_estimate(whole, b=8).collect()[0]["hll_est"]
    assert abs(est - 4000) / 4000 < 5 * 1.04 / (256 ** 0.5), est


def test_asof_join_tolerance_bounds_match_age(spark):
    """tolerance nulls matches older than the bound, keeps fresh ones,
    in both directions; numeric `on` uses raw units."""
    from henbun_spark.operators import relational

    left = spark.createDataFrame(
        [(1, 100.0, "a"), (1, 200.0, "b"), (2, 50.0, "c")],
        "k: long, t: double, id: string",
    )
    right = spark.createDataFrame(
        [(1, 95.0, 10.0), (1, 120.0, 20.0), (2, 10.0, 30.0)],
        "k: long, t: double, v: double",
    )
    got = {
        r["id"]: r["v"]
        for r in relational.asof_join(
            left, right, on="t", by="k", right_cols=["v"], tolerance=30.0
        ).collect()
    }
    # a: last right at 95 (age 5) -> 10; b: last right at 120 (age 80) -> null
    # c: last right at 10 (age 40) -> null
    assert got == {"a": 10.0, "b": None, "c": None}

    fwd = {
        r["id"]: r["v"]
        for r in relational.asof_join(
            left, right, on="t", by="k", right_cols=["v"],
            direction="forward", tolerance=30.0,
        ).collect()
    }
    # a: next right at 120 (gap 20) -> 20; b: none after -> null; c: none after
    assert fwd == {"a": 20.0, "b": None, "c": None}

    # without tolerance, the stale matches come back
    full = {
        r["id"]: r["v"]
        for r in relational.asof_join(
            left, right, on="t", by="k", right_cols=["v"]
        ).collect()
    }
    assert full == {"a": 10.0, "b": 20.0, "c": 30.0}


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles, every node in 3; adding a pendant edge adds
    no triangles; duplicate/reversed input edges don't double-count."""
    from henbun_spark.operators import graph

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(3, 9)]  # reversed dups + pendant
    edf = spark.createDataFrame(noisy, "src: long, dst: long")
    got = {r["node"]: r["n_triangles"] for r in graph.triangle_count(edf).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_searchsorted_bin_expr_matches_case_tree(spark):
    """`_searchsorted_bin_expr` (the large-bound-set Arrow path, r8) ==
    the CASE tree bitwise on every edge its contract names: NULL -> bin
    0, NaN -> top bin, boundary-equal LOW, interior/extreme values —
    for numeric AND string bounds."""
    from henbun_spark.operators import relational

    # numeric: 200 bounds (tree path still active at this size), values
    # hitting every boundary exactly plus interiors, NaN, NULL
    bounds = [float(i) for i in range(200)]
    vals = (
        [float(i) for i in range(200)]            # boundary-equal -> LOW
        + [i + 0.5 for i in range(-2, 201)]       # interiors + outside
        + [float("nan"), None]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v: double")
    vd = F.col("v")
    got = df.select(
        relational._bin_expr_from_bounds(bounds, vd).alias("tree"),
        relational._searchsorted_bin_expr(bounds, vd).alias("ss"),
    ).collect()
    for r in got:
        assert r["tree"] == r["ss"], (r["tree"], r["ss"])

    # strings: code-point order incl. non-ASCII and empty, NULL -> 0
    sbounds = sorted(["", "Bravo", "alpha", "délta", "née", "zulu"])
    svals = sbounds + ["a", "Z", "é", "zzz", None]
    sdf = spark.createDataFrame([(v,) for v in svals], "v: string")
    sgot = sdf.select(
        relational._bin_expr_from_bounds(sbounds, F.col("v"), None).alias("tree"),
        relational._searchsorted_bin_expr(sbounds, F.col("v"), None).alias("ss"),
    ).collect()
    for r in sgot:
        assert r["tree"] == r["ss"], (r["tree"], r["ss"])

    # seeded random sweep + infinities: 5 bound sets x 400 values
    # (mixture of near-boundary, wild-range, +-inf, NaN, NULL) — all
    # compared in one job per bound set
    rng = np.random.default_rng(23)
    for trial in range(5):
        nb = int(rng.integers(2, 250))
        rb = sorted(set(np.round(rng.normal(0, 100, nb), 2).tolist()))
        vals2 = (
            rb                                   # exact boundaries
            + list(rng.normal(0, 100, 200))      # bulk
            + list(rng.normal(0, 1e6, 50))       # far outside
            + [float("inf"), float("-inf"), float("nan"), None]
        )
        vdf = spark.createDataFrame([(float(v),) if v is not None else (None,)
                                     for v in vals2], "v: double")
        rows = vdf.select(
            relational._bin_expr_from_bounds(rb, F.col("v")).alias("tree"),
            relational._searchsorted_bin_expr(rb, F.col("v")).alias("ss"),
        ).collect()
        for r in rows:
            assert r["tree"] == r["ss"], (trial, r["tree"], r["ss"])


def test_large_bin_count_switches_to_searchsorted(spark):
    """Past CODEGEN_SAFE_BOUNDS the bin expression must (a) switch to
    the Arrow searchsorted path — visible as ArrowEvalPython in the
    plan, keeping the stage inside codegen instead of tripping janino's
    64 KB method limit — and (b) still reproduce the global window
    bitwise end-to-end through keyed_prefix_sum."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import Window

    from henbun_spark.operators import relational

    rng = np.random.default_rng(17)
    vals = rng.standard_normal(3000).tolist()  # ~3000 distinct values
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id: long, v: double"
    )
    got = relational.keyed_prefix_sum(
        df, [], [F.asc("v"), F.asc("id")], out_name="rid", n_bins=600
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    assert "ArrowEvalPython" in buf.getvalue(), "searchsorted path not engaged"
    naive = df.withColumn(
        "rid", F.row_number().over(Window.orderBy(F.asc("v"), F.asc("id")))
    )
    assert sorted((r["id"], r["rid"]) for r in got.collect()) == sorted(
        (r["id"], r["rid"]) for r in naive.collect()
    )
    # string leading key at the same width: lexicographic sampled bounds
    # also exceed CODEGEN_SAFE_BOUNDS and must ride the object-dtype
    # searchsorted (code-point order) to the same bitwise ids
    sdf = spark.createDataFrame(
        [(i, f"w{(i * 2654435761) % 100000:05d}") for i in range(3000)],
        "id: long, s: string",
    )
    sgot = relational.keyed_prefix_sum(
        sdf, [], [F.desc("s"), F.asc("id")], out_name="rid", n_bins=600
    )
    snaive = sdf.withColumn(
        "rid", F.row_number().over(Window.orderBy(F.desc("s"), F.asc("id")))
    )
    assert sorted((r["id"], r["rid"]) for r in sgot.collect()) == sorted(
        (r["id"], r["rid"]) for r in snaive.collect()
    )


def test_apply_changes_upsert_delete_precedence(spark):
    from henbun_spark.operators import relational

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k: long, v: string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 1, False),   # update
            (3, None, 2, True),    # delete
            (3, "c2", 1, False),   # older update, loses to the delete
            (4, "d", 1, False),    # insert
        ],
        "k: long, v: string, version: int, is_delete: boolean",
    )
    got = {
        r["k"]: r["v"]
        for r in relational.apply_changes(base, changes, "k", "version").collect()
    }
    assert got == {1: "a", 2: "b2", 4: "d"}


def test_scd2_intervals_shape(spark):
    from henbun_spark.operators import relational

    log = spark.createDataFrame(
        [(1, 10.0, 100), (1, 20.0, 200), (2, 5.0, 50)],
        "k: long, price: double, t: long",
    )
    rows = {
        (r["k"], r["valid_from"]): (r["valid_to"], r["is_current"], r["price"])
        for r in relational.scd2_intervals(log, "k", "t", ["price"]).collect()
    }
    assert rows[(1, 100)] == (200, False, 10.0)
    assert rows[(1, 200)] == (None, True, 20.0)
    assert rows[(2, 50)] == (None, True, 5.0)


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC write/read round-trips the events table exactly and pushes
    predicates into the scan (PushedFilters in the plan)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from henbun_spark import sources

    ev = sources.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = str(tmp_path / "events_orc")
    sources.write_orc(ev, path)
    back = sources.read_orc(spark, path)
    assert back.count() == ev.count()
    assert sorted(r["event_id"] for r in back.collect()) == sorted(
        r["event_id"] for r in ev.collect()
    )
    q = back.where(F.col("user_id") == 3).select("event_id")
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "user_id" in plan.split("PushedFilters", 1)[1][:200]


def test_read_text_line_and_wholefile(spark, tmp_path):
    from henbun_spark import sources

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("doc b\n")
    lines = sources.read_text(spark, str(d))
    assert sorted(r["value"] for r in lines.collect()) == [
        "doc b", "line one", "line two",
    ]
    whole = sources.read_text(spark, str(d), whole_file=True)
    vals = sorted(r["value"] for r in whole.collect())
    assert vals == ["doc b\n", "line one\nline two\n"]


def test_quality_validate_rules(spark):
    from henbun_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1, "a", 5.0, "x"),
            (2, "a", -1.0, "y"),
            (None, "b", 3.0, "zz"),
            (2, None, 99.0, "x"),
        ],
        "id: long, grp: string, v: double, tag: string",
    )
    out = {
        (r["rule"], r["column"]): (r["n_violations"], r["passed"])
        for r in quality.validate(
            df,
            [
                {"check": "not_null", "col": "id"},
                {"check": "unique", "col": "id"},
                {"check": "not_null", "col": "grp"},
                {"check": "range", "col": "v", "min": 0.0, "max": 10.0},
                {"check": "accepted_values", "col": "tag", "values": ["x", "y"]},
                {"check": "regex", "col": "tag", "pattern": "^[a-z]$"},
            ],
        ).collect()
    }
    assert out[("not_null", "id")] == (1, False)
    assert out[("unique", "id")] == (1, False)      # id=2 twice -> 1 extra row
    assert out[("not_null", "grp")] == (1, False)
    assert out[("range", "v")] == (2, False)        # -1 and 99
    assert out[("accepted_values", "tag")] == (1, False)  # 'zz'
    assert out[("regex", "tag")] == (1, False)      # 'zz'


def test_fuzzy_pairs_blocking_and_distance(spark):
    from pyspark.sql import functions as F

    from henbun_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha betta"),   # dist 1, same block 'alpha'
            (3, "alpha gamma"),   # dist 5 from id1 -> filtered
            (4, "omega beta"),    # different block, never compared
        ],
        "id: long, t: string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in text_ops.fuzzy_pairs(
            df, "t", "id", block_expr=F.split(F.col("t"), " ")[0], max_distance=2
        ).collect()
    }
    assert got == {(1, 2): 1}


def test_semantic_dedup_recovers_planted_groups(spark):
    """Planted semantic duplicates (same base vector +/- tiny noise) end
    up in one component with exactly one keeper; distinct base vectors
    stay separate."""
    import numpy as np

    from henbun_spark.operators import dedup

    rng = np.random.default_rng(7)
    bases = [rng.normal(size=16) for _ in range(4)]
    rows = []
    vid = 0
    groups = []
    for b in bases:
        members = []
        for _ in range(3):  # 3 near-copies of each base
            v = b + rng.normal(scale=1e-3, size=16)
            rows.append((vid, (v / np.linalg.norm(v)).astype(float).tolist()))
            members.append(vid)
            vid += 1
        groups.append(members)
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = dedup.semantic_dedup(df, "embedding", "vec_id", k=2, threshold=0.99)
    comp = {r["id"]: r["component"] for r in out.collect()}
    kept = {r["id"] for r in out.collect() if r["is_kept"]}
    for members in groups:
        assert len({comp[m] for m in members}) == 1, members
        assert len(kept & set(members)) == 1
    # distinct bases are (whp) far apart -> different components
    assert len({comp[g[0]] for g in groups}) == 4


def test_kcenter_certificate(spark):
    """Greedy k-center (r8): on random embeddings, (a) every unselected
    point must lie within the last pick's min-distance of some selected
    center (the greedy certificate — each round picked the farthest
    point, so nothing unpicked can be farther), and (b) the selection is
    deterministic across repeated runs."""
    from henbun_spark.operators import selection

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((120, 6))
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(120)],
        "vec_id: long, embedding: array<double>",
    )
    out = selection.kcenter_select(df, "embedding", "vec_id", k=6).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5, 6]
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == 6
    # min_dist2 is non-increasing after rank 1 (greedy max shrinks)
    d = [r["min_dist2"] for r in out[1:]]
    assert all(a >= b for a, b in zip(d, d[1:])), d
    # certificate: coverage radius == last pick's distance
    centers = vecs[ids]
    rest = [i for i in range(120) if i not in set(ids)]
    for i in rest:
        md = min(float(((vecs[i] - c) ** 2).sum()) for c in centers)
        assert md <= d[-1] + 1e-9, (i, md, d[-1])
    # determinism
    out2 = selection.kcenter_select(df, "embedding", "vec_id", k=6).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


@pytest.mark.parametrize(
    "data_dir",
    [
        d
        for d in (
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.01",  # the driver's hash-check SF
            "/root/testdata/sf0.1",   # the bench SF
        )
        if os.path.isdir(d)
    ],
)
def test_semantic_dedup_oracle_data_margins(spark, data_dir):
    """The `semantic_dedup_emb` VALUES oracle rests on a DATA property:
    the testdata embeddings have no natural pair anywhere near the 0.95
    threshold, and the planted copies sit far above it. Pin BOTH margins
    at EVERY SF the contract touches (sf0.01 is what the driver hashes,
    sf0.1 is what the bench runs — the r8 self-review caught that
    checking only the suite's sf0.001 would let a regeneration-induced
    natural pair surface as an unexplained driver mismatch)."""
    import numpy as np

    from henbun_spark import sources

    emb = sources.load_table(spark, data_dir, "embeddings")
    vecs = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    units = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = units @ units.T
    np.fill_diagonal(cos, -1.0)
    nat_max = float(cos.max())
    assert nat_max < 0.90, f"natural pair at cosine {nat_max} erodes the margin"
    # the contract query's perturbation: x * (1 + ((nid*31 + j) % 7 - 3)*1e-4)
    ids = np.array(
        [r["vec_id"] for r in emb.select("vec_id").collect()], dtype=np.int64
    )
    j = np.arange(vecs.shape[1])
    for orig_id in range(min(12, len(ids))):
        v = vecs[ids == orig_id][0]
        nid = orig_id + 1_000_000
        pert = (v * (1.0 + ((nid * 31 + j) % 7 - 3) * 1e-4)).astype(np.float32)
        c = float(
            np.dot(v, pert) / (np.linalg.norm(v) * np.linalg.norm(pert))
        )
        assert c > 0.999, f"planted copy of {orig_id} only at cosine {c}"


def test_ts_normalization_handles_all_storage_types(spark):
    """_nanos_to_ts normalizes long-ns, NTZ, date, and string storage to
    TimestampType — the loader survives testdata schema regeneration."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from henbun_spark.sources import _nanos_to_ts

    base_us = 1704067200000000  # 2024-01-01T00:00:00Z
    ns = spark.createDataFrame([(base_us * 1000,)], "ts: long")
    ntz = spark.sql("SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts")
    dt = spark.createDataFrame([(datetime.date(2024, 1, 1),)], "ts: date")
    s = spark.createDataFrame([("2024-01-01 00:00:00",)], "ts: string")
    for df in (ns, ntz, dt, s):
        out = _nanos_to_ts(df, "ts")
        assert isinstance(out.schema["ts"].dataType, T.TimestampType), df.schema
        got = out.select(F.unix_micros("ts").alias("us")).collect()[0]["us"]
        assert got == base_us, (df.schema, got)


def test_bloom_no_false_negatives_and_low_fp(spark):
    """Every true member passes the bloom (no false negatives — the
    filter's correctness contract); false-positive rate stays near the
    (1 - e^{-kn/m})^k theory value."""
    from pyspark.sql import functions as F

    from henbun_spark.operators import sketch

    right = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    probe = spark.range(0, 20000).select(F.col("id").alias("k"))
    bloom = sketch.bloom_build(right, "k", m_bits=1 << 14, k=4)
    passed = sketch.bloom_filter_probe(probe, bloom, "k", m_bits=1 << 14, k=4)
    # no false negatives: members of right within the probe range all pass
    missed = (
        right.where(F.col("k") < 20000).join(passed, "k", "anti").count()
    )
    assert missed == 0
    exact = probe.join(right.distinct(), "k", "semi").count()
    fp = passed.count() - exact
    assert fp >= 0
    # theory fp ~ (1 - e^{-4*500/16384})^4 ~ 1.7e-4 -> ~3 of 19500; x10 slack
    assert fp <= 60, fp


def test_bloom_join_path_holds_partial_top_word(spark):
    """The joinable-bitmap probe keeps every inserted key when m_bits is
    a power of two and when it is not: m_bits=1000 leaves a partial top
    word (31 full words + 8 bits), which the bitmap must hold and the
    probe must join, or keys hashed into it are lost."""
    from pyspark.sql import functions as F

    from henbun_spark.operators import sketch

    right = spark.range(0, 300).select((F.col("id") * 11).alias("k"))
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    for m_bits in (1 << 12, 1000):
        bloom = sketch.bloom_build(right, "k", m_bits=m_bits, k=4)
        passed = {
            r["k"] for r in
            sketch.bloom_filter_probe(probe, bloom, "k", m_bits=m_bits, k=4).collect()
        }
        assert set(range(0, 300 * 11, 11)) <= passed, m_bits
    # the partial top word is present in the bitmap
    assert bloom.where(F.col("word_idx") == 1000 // 32).count() == 1


def test_chunk_with_overlap_lineage_and_coverage(spark):
    """Chunks step by size-overlap, cover the full text, and adjacent
    chunks share exactly `overlap` characters."""
    from henbun_spark.operators import text as text_ops

    txt = "abcdefghijklmnopqrstuvwxyz" * 10  # 260 chars
    df = spark.createDataFrame([(1, txt), (2, "short")], "doc_id: long, text: string")
    out = text_ops.chunk_with_overlap(df, "text", "doc_id", chunk_chars=100, overlap=20)
    rows = sorted(
        [(r["doc_id"], r["chunk_idx"], r["char_start"], r["chunk"]) for r in out.collect()]
    )
    doc1 = [r for r in rows if r[0] == 1]
    # 260 chars, step 80: starts 0, 80, 160 -> 3 chunks
    assert [r[2] for r in doc1] == [0, 80, 160]
    assert all(r[3] == txt[r[2]: r[2] + 100] for r in doc1)
    for a, b in zip(doc1, doc1[1:]):
        assert a[3][-20:] == b[3][:20]  # exact overlap
    # reassembly covers the whole text
    assert doc1[0][3][:80] + doc1[1][3][:80] + doc1[2][3] == txt
    short = [r for r in rows if r[0] == 2]
    assert len(short) == 1 and short[0][3] == "short"


def test_histogram_quantile_within_bin_width(spark):
    """Histogram-sketch quantiles land within one bin width of the exact
    percentile, and per-half histograms merge (counter addition) to the
    whole-corpus histogram."""
    from pyspark.sql import functions as F

    from henbun_spark.operators import sketch

    df = spark.range(0, 5000).select(((F.col("id") * 37 % 1000) + 0.5).alias("v"))
    hist = sketch.histogram_build(df, "v", lo=0.0, hi=1000.0, n_bins=100)
    est = {
        r["q"]: r["est"]
        for r in sketch.histogram_quantile(
            hist, [0.25, 0.5, 0.9], lo=0.0, hi=1000.0, n_bins=100
        ).collect()
    }
    exact = df.agg(
        *[F.expr(f"percentile(v, {q})").alias(str(q)) for q in (0.25, 0.5, 0.9)]
    ).collect()[0]
    for q in (0.25, 0.5, 0.9):
        assert abs(est[q] - exact[str(q)]) <= 10.0 + 1e-9, (q, est[q], exact[str(q)])

    h1 = sketch.histogram_build(df.where(F.col("v") < 500), "v", 0.0, 1000.0, 100)
    h2 = sketch.histogram_build(df.where(F.col("v") >= 500), "v", 0.0, 1000.0, 100)
    merged = {
        (r["bin"],): r["cnt"]
        for r in h1.unionByName(h2).groupBy("bin").agg(F.sum("cnt").alias("cnt")).collect()
    }
    whole = {(r["bin"],): r["cnt"] for r in hist.collect()}
    assert merged == whole


# ---------------------------------------------------------------------------
# round 4: heavy hitters, interpolated gapfill, normalized dedup,
# temperature mixing, PQ ANN, MV merge
# ---------------------------------------------------------------------------


def test_heavy_hitters_planted_skew(spark):
    """MG guarantee end-to-end: a planted hot key (35% of rows) must be
    found with exact count; the output equals the true > N/k set."""
    import pandas as pd

    rng = np.random.default_rng(7)
    keys = np.where(rng.random(4000) < 0.35, 999, rng.integers(0, 500, 4000))
    df = spark.createDataFrame(pd.DataFrame({"k": keys})).repartition(8)
    from henbun_spark.operators import sketch

    got = sketch.heavy_hitters(df, "k", k=50).toPandas()
    vc = pd.Series(keys).value_counts()
    truth = vc[vc * 50 > len(keys)]
    assert set(got["key"]) == {str(k) for k in truth.index}
    got_map = dict(zip(got["key"], got["n"]))
    for k, n in truth.items():
        assert got_map[str(k)] == n


def test_mg_candidates_no_false_negatives(spark):
    """Every key above the per-partition pigeonhole threshold appears in
    the candidate union (uniform + one hot key, many partitions)."""
    import pandas as pd

    rng = np.random.default_rng(3)
    keys = np.concatenate([rng.integers(0, 2000, 5000), np.full(400, 777)])
    rng.shuffle(keys)
    df = spark.createDataFrame(pd.DataFrame({"k": keys})).repartition(16)
    from henbun_spark.operators import sketch

    cands = set(sketch.mg_candidates(df, "k", k=100).toPandas()["key"])
    assert "777" in cands  # 400/5400 > 1/100


def test_gapfill_interpolate_shape(spark):
    """Linear interpolation hits the straight line between observations
    and carries the last value into trailing gaps."""
    import datetime
    import pandas as pd

    base = datetime.datetime(2024, 1, 1)
    rows = pd.DataFrame(
        {
            "k": ["a"] * 3,
            "ts": [base, base + datetime.timedelta(hours=3),
                   base + datetime.timedelta(hours=4)],
            "v": [1.0, 7.0, 2.0],
        }
    )
    df = spark.createDataFrame(rows)
    out = (
        relational.gapfill_interpolate(df, "ts", "k", "v", 3600)
        .orderBy("bucket_epoch")
        .toPandas()
    )
    assert list(out["n_events"]) == [1, 0, 0, 1, 1]
    np.testing.assert_allclose(
        out["value_interp"].to_numpy(), [1.0, 3.0, 5.0, 7.0, 2.0]
    )
    assert list(out["filled"]) == [False, True, True, False, False]


def test_gapfill_interpolate_null_value_bucket_stays_aligned(spark):
    """An observed bucket whose values are all NULL (vsum NULL, n_obs>0)
    must not desynchronize segment numbering: it is treated as a
    value-gap (interpolated), and every LATER bucket of the key still
    joins the right prev/next endpoints (round-5 ADVICE fix)."""
    import datetime
    import pandas as pd
    from pyspark.sql import types as T

    base = datetime.datetime(2024, 1, 1)

    def ts(h):
        return base + datetime.timedelta(hours=h)

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ])
    # hour 0: v=1.0; hour 1: observed but NULL value; hour 3: v=7.0;
    # hour 4: v=9.0 — with the bug, hour-1's phantom segment shifted
    # hour-2's endpoints to (7.0, 9.0) giving 8.0 instead of 5.0
    df = spark.createDataFrame(
        [("a", ts(0), 1.0), ("a", ts(1), None), ("a", ts(3), 7.0),
         ("a", ts(4), 9.0)],
        schema,
    )
    out = (
        relational.gapfill_interpolate(df, "ts", "k", "v", 3600)
        .orderBy("bucket_epoch")
        .toPandas()
    )
    assert list(out["n_events"]) == [1, 1, 0, 1, 1]
    np.testing.assert_allclose(
        out["value_interp"].to_numpy(), [1.0, 3.0, 5.0, 7.0, 9.0]
    )
    # the NULL-value bucket is observed (not axis-filled) but its value
    # is interpolated on the 1.0 -> 7.0 line
    assert list(out["filled"]) == [False, False, True, False, False]


def test_normalized_dup_groups(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4],
                "text": ["Hello,  World!", "hello world", "HELLO-WORLD", "other"],
            }
        )
    )
    out = dedup.normalized_dup_groups(df, "text", "id").orderBy("id").toPandas()
    assert list(out["group_size"]) == [3, 3, 3, 1]
    assert list(out["keep"]) == [True, False, False, True]


def test_mix_temperature_upweights_small_sources(spark):
    """T=0.5 keeps a higher FRACTION of the small source than the large
    one, and every keep decision is deterministic (re-run identical)."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "id": range(1100),
            "src": ["big"] * 1000 + ["small"] * 100,
            "w": [100] * 1100,
        }
    )
    df = spark.createDataFrame(rows)
    from henbun_spark.operators import pipeline

    kept = pipeline.mix_temperature(df, "src", "id", "w", target_frac=0.5)
    agg = {
        r["src"]: r["n"]
        for r in kept.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    frac_big = agg.get("big", 0) / 1000
    frac_small = agg.get("small", 0) / 100
    assert frac_small > frac_big
    again = {
        r["src"]: r["n"]
        for r in pipeline.mix_temperature(df, "src", "id", "w", target_frac=0.5)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert agg == again


def test_pq_topk_recall(emb):
    """PQ+ADC with exact re-rank recovers most of the exact top-3 (the
    refine step re-scores candidates with exact cosine, so recall is
    limited only by ADC candidate quality)."""
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=3)
    approx = similarity.pq_topk(
        emb, queries, k=3, m_sub=8, n_codes=16, refine=32, seed=42
    )
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, recall


def test_merge_agg_states_matches_full_recompute(spark):
    import pandas as pd

    rows = pd.DataFrame(
        {"k": ["a", "a", "b", "b", "a"], "part": [0, 0, 0, 1, 1], "v": [1.5, 2.5, 3.0, 4.0, 5.5]}
    )
    df = spark.createDataFrame(rows)

    def partials(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
        )

    merged = relational.merge_agg_states(
        partials(df.where(F.col("part") == 0)),
        partials(df.where(F.col("part") == 1)),
        ["k"],
    )
    full = partials(df)
    got = {r["k"]: (r["n"], float(r["s"])) for r in merged.collect()}
    exp = {r["k"]: (r["n"], float(r["s"])) for r in full.collect()}
    assert got == exp


def test_cross_source_duplicates_counts_and_short_docs(spark):
    """Cross-source overlap matrix: shared 3-token spans counted once
    per source pair; docs SHORTER than the shingle width contribute
    nothing instead of crashing (sequence(1, 0) descends to [1, 0] and
    slice(toks, 0, n) aborts the job — the regression this pins); exact
    mode (shingle_words=0) matches whole-text equality."""
    from henbun_spark.operators import dedup

    rows = [
        ("a", "one two three four"),    # spans: 1-3, 2-4
        ("b", "two three four five"),   # shares span "two three four"
        ("b", "xx"),                    # shorter than the shingle: no spans
        ("c", "one two three four"),    # identical to a's doc
        ("c", ""),                      # empty text
    ]
    df = spark.createDataFrame(rows, "source: string, text: string")
    got = {
        (r["src_a"], r["src_b"]): r["n_shared"]
        for r in dedup.cross_source_duplicates(df, "text", "source", 3).collect()
    }
    # a/b share 1 span; a/c share both of a's spans; b/c share 1
    assert got == {("a", "b"): 1, ("a", "c"): 2, ("b", "c"): 1}
    exact = {
        (r["src_a"], r["src_b"]): r["n_shared"]
        for r in dedup.cross_source_duplicates(
            df, "text", "source", shingle_words=0
        ).collect()
    }
    assert exact == {("a", "c"): 1}


def test_boilerplate_chunk_removal_strips_common_template(spark):
    """A chunk shared by 3 docs (> max_docs=2) is removed everywhere;
    unique text and 2-doc chunks survive."""
    import pandas as pd

    tmpl = " ".join(f"t{i}" for i in range(16))
    pair = " ".join(f"p{i}" for i in range(16))
    rows = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "text": [
                tmpl + " " + "u1 " * 16,
                tmpl + " " + "u2 " * 16,
                tmpl + " " + pair,
                pair + " " + "u4 " * 16,
            ],
        }
    )
    df = spark.createDataFrame(rows)
    out = (
        dedup.boilerplate_chunk_removal(df, "text", "id", 16, max_docs=2)
        .orderBy("id")
        .toPandas()
    )
    for _, r in out.iterrows():
        assert tmpl not in r["clean_text"]
    assert pair in out.loc[2, "clean_text"] and pair in out.loc[3, "clean_text"]
    assert "u1" in out.loc[0, "clean_text"]


def test_asof_nearest_picks_closer_side(spark):
    """Nearest as-of: left rows match the temporally closest right row,
    ties go backward; tolerance nulls distant matches."""
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "a"], "t": [10, 55, 100], "lid": [1, 2, 3]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "t": [0, 60], "rv": [100.0, 200.0]})
    )
    out = (
        relational.asof_nearest(left, right, on="t", by="k", right_cols=["rv"])
        .orderBy("lid")
        .toPandas()
    )
    # t=10: gaps 10 back / 50 fwd -> 100; t=55: 55 back / 5 fwd -> 200;
    # t=100: 40 back, no fwd -> 200
    assert list(out["rv"]) == [100.0, 200.0, 200.0]
    tol = (
        relational.asof_nearest(
            left, right, on="t", by="k", right_cols=["rv"], tolerance=20
        )
        .orderBy("lid")
        .toPandas()
    )
    assert list(tol["rv"].fillna(-1)) == [100.0, 200.0, -1.0]


def test_load_table_normalizes_every_sf(spark):
    """Loader guard: every testdata SF loads with events.ts normalized to
    TimestampType regardless of how the parquet stores timestamps
    (int64-nanos, TIMESTAMP_NTZ micros, ...) — the driver regenerates
    testdata between rounds and has switched physical types before."""
    import os

    from pyspark.sql import types as T

    for sf in ("sf0.001", "sf0.01"):
        d = f"/root/testdata/{sf}"
        if not os.path.isdir(d):
            continue
        for t in sources.TABLES:
            if not os.path.exists(os.path.join(d, f"{t}.parquet")):
                continue
            df = sources.load_table(spark, d, t)
            assert df.limit(1).count() >= 0  # schema resolves + scans
        ev = sources.load_table(spark, d, "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType), sf


def test_tdigest_rank_accuracy_and_merge(spark):
    """t-digest quantile estimates land within 2% RANK error on skewed
    data (including the tails, where equi-width bins collapse), and
    merging per-slice digests matches a single global digest's accuracy."""
    import pandas as pd

    from henbun_spark.operators import sketch

    rng = np.random.default_rng(17)
    vals = rng.lognormal(mean=0.0, sigma=1.5, size=20000)
    df = spark.createDataFrame(pd.DataFrame({"v": vals, "half": vals > 1.0}))
    s = np.sort(vals)

    def rank_err(est_df):
        errs = {}
        for r in est_df.collect():
            rank = np.searchsorted(s, r["est"]) / len(s)
            errs[r["q"]] = abs(rank - r["q"])
        return errs

    dig = sketch.tdigest_merge(sketch.tdigest_build(df, "v", delta=100))
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    errs = rank_err(sketch.tdigest_quantile(dig, qs))
    assert max(errs.values()) < 0.02, errs

    d1 = sketch.tdigest_build(df.where(F.col("half")), "v", delta=100)
    d2 = sketch.tdigest_build(df.where(~F.col("half")), "v", delta=100)
    merged = sketch.tdigest_merge(d1, d2)
    errs2 = rank_err(sketch.tdigest_quantile(merged, qs))
    assert max(errs2.values()) < 0.02, errs2
    # merged digest stays bounded
    assert merged.count() <= 120


def test_heavy_hitters_grouped_planted_skew(spark):
    """Per-group MG guarantee: each group's planted hot key is found
    with its exact count; keys hot in one group but not another stay
    scoped to their group."""
    import pandas as pd

    rng = np.random.default_rng(23)
    rows = []
    for g, hot in (("a", 7), ("b", 8)):
        ks = np.where(rng.random(3000) < 0.3, hot, rng.integers(100, 400, 3000))
        rows += [(g, int(k)) for k in ks]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["g", "k"])
    ).repartition(8)
    from henbun_spark.operators import sketch

    got = sketch.heavy_hitters(df, "k", k=40, group_cols=["g"]).toPandas()
    pdf = pd.DataFrame(rows, columns=["g", "k"])
    truth = set()
    for g, sub in pdf.groupby("g"):
        vc = sub["k"].value_counts()
        for key, n in vc.items():
            if n * 40 > len(sub):
                truth.add((g, str(key), n))
    assert {(r["g"], r["key"], r["n"]) for _, r in got.iterrows()} == truth
    assert ("a", "7") in {(g, k) for g, k, _ in truth}


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's runtime skew mitigation is the engine-native counterpart of
    `salted_join`: a hot key whose shuffle block exceeds the skew
    threshold is split across multiple reducer tasks AT RUNTIME (no
    manual salt). Thresholds are lowered so the test-sized hot key
    trips it; the adaptive final plan must carry the skew=true marker
    and the result must equal the plain join's row count."""
    old = {
        k: spark.conf.get(k, None)
        for k in [
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        ]
    }
    try:
        # the downstream groupBy(k) requires hash distribution on k, so
        # AQE declines to split unless forced (splitting inserts an extra
        # shuffle for the agg — the documented trade for killing a
        # straggler that would otherwise dominate the stage)
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 3 != 0, 0).otherwise(F.col("id") % 997).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = fact.join(dim, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        # collect() drives joined's OWN QueryExecution to the adaptive
        # final plan (count() would plan a separate query and leave this
        # one unexecuted, isFinalPlan=false)
        rows = joined.collect()
        assert sum(r["n"] for r in rows) == 300_000  # every fact key in dim
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_deterministic_under_repartitioning(spark, sf_dir):
    """Layout independence — the retry/speculative-execution safety
    property at scale: operators whose outputs feed downstream decisions
    (sampling, splits, MinHash signatures, t-digest buckets) must give
    IDENTICAL results regardless of how the input is partitioned."""
    from henbun_spark.operators import dedup, sampling, sketch

    docs = sources.load_table(spark, sf_dir, "documents")

    def key_rows(df):
        return sorted(tuple(r) for r in df.collect())

    for parts in (3, 17):
        d = docs.repartition(parts)
        if parts == 3:
            base_split = key_rows(sampling.hash_split(d, "doc_id"))
            base_sample = key_rows(sampling.weighted_sample(d, "n_chars", 20, "doc_id"))
            base_sig = key_rows(dedup.minhash_signatures(d.where(F.col("doc_id") < 50), "text", "doc_id"))
        else:
            assert key_rows(sampling.hash_split(d, "doc_id")) == base_split
            assert key_rows(
                sampling.weighted_sample(d, "n_chars", 20, "doc_id")
            ) == base_sample
            assert key_rows(
                dedup.minhash_signatures(d.where(F.col("doc_id") < 50), "text", "doc_id")
            ) == base_sig

    ev = sources.load_table(spark, sf_dir, "events").select("value")
    digs = [
        sorted(
            tuple(r)
            for r in sketch.tdigest_merge(
                sketch.tdigest_build(ev.repartition(p), "value")
            ).collect()
        )
        for p in (3, 17)
    ]
    assert digs[0] == digs[1]  # md5 buckets, not physical partitions


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection over the 16-column lineitem must prune the
    parquet ReadSchema to exactly those columns — at 100 TB, reading
    unprojected columns is pure wasted IO."""
    li = sources.load_table(spark, sf_dir, "lineitem")
    proj = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = proj._jdf.queryExecution().executedPlan().toString()
    schema_part = plan.split("ReadSchema:", 1)[1][:200]
    assert "l_returnflag" in schema_part and "l_quantity" in schema_part
    assert "l_comment" not in schema_part and "l_extendedprice" not in schema_part


def test_cbo_stats_enable_broadcast_decision(spark, sf_dir, tmp_path):
    """ANALYZE TABLE feeds the cost-based optimizer: with statistics, a
    small dimension joined under the broadcast threshold plans as a
    BroadcastHashJoin even when file-size estimates are unavailable
    (the catalog-table path real warehouses rely on)."""
    nation = sources.load_table(spark, sf_dir, "nation")
    spark.sql("DROP TABLE IF EXISTS nation_stats")
    import shutil

    shutil.rmtree("/tmp/henbun_test_warehouse/nation_stats", ignore_errors=True)
    nation.write.saveAsTable("nation_stats")
    spark.sql("ANALYZE TABLE nation_stats COMPUTE STATISTICS")
    stats = spark.sql("DESCRIBE EXTENDED nation_stats").collect()
    txt = "\n".join(str(r) for r in stats)
    assert "Statistics" in txt
    cust = sources.load_table(spark, sf_dir, "customer")
    joined = cust.join(spark.table("nation_stats"),
                       cust.c_nationkey == F.col("n_nationkey"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_acklam_ppf_accuracy(spark):
    """The codegen inverse-normal CDF must match known quantiles to the
    approximation's published error (~1.2e-9) across all three branches."""
    import __spark_entry__ as entry_mod
    import pandas as pd

    known = {
        0.5: 0.0,
        0.975: 1.959963984540054,
        0.025: -1.959963984540054,
        0.8413447460685429: 1.0,
        0.001: -3.090232306167813,   # lower tail branch
        0.999: 3.090232306167813,    # upper tail branch
    }
    df = spark.createDataFrame(pd.DataFrame({"u": list(known)}))
    got = {
        r["u"]: r["z"]
        for r in df.select("u", entry_mod._ppf_col(F.col("u")).alias("z")).collect()
    }
    for u, z in known.items():
        assert abs(got[u] - z) < 5e-9, (u, got[u], z)


def test_keyed_ranks_default_partitions_under_aqe_coalescing(spark):
    """Shake partition-plan sensitivity: n_bins=None (the shipped
    consumers' calling convention) with AQE partition coalescing forced
    aggressive (tiny advisory size, so the coalesce decision is
    maximally in play) must still reproduce the window bitwise. r7:
    bin membership is a pure function of the leading sort value, so no
    AQE re-plan can misalign offsets — this test used to guard the
    persisted scaffold's pinned partition ids and now pins the
    stronger in-plan invariant."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(23)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c", "d", "e"], size=2000),
            "v": rng.integers(0, 50, size=2000).astype(float),
            "id": np.arange(2000),
        }
    )
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
    }
    try:
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
        df = spark.createDataFrame(pdf).repartition(9)
        got = relational.keyed_prefix_sum(
            df, "k", [F.col("v").asc(), F.col("id").asc()], out_name="rk"
        )
        w = Window.partitionBy("k").orderBy(F.col("v").asc(), F.col("id").asc())
        exp = df.withColumn("rk", F.row_number().over(w))
        assert (
            got.select("k", "id", "rk")
            .exceptAll(exp.select("k", "id", "rk"))
            .count()
            == 0
        )
        # and the percentile consumer stays bitwise against the builtin
        pct = {
            (r["k"], r["p"]): r["value"]
            for r in relational.keyed_percentiles_exact(
                df, "k", "v", [0.25, 0.5, 0.99]
            ).collect()
        }
        for r in df.groupBy("k").agg(
            *[
                F.expr(f"percentile(v, {p})").alias(f"q{i}")
                for i, p in enumerate([0.25, 0.5, 0.99])
            ]
        ).collect():
            for i, p in enumerate([0.25, 0.5, 0.99]):
                assert pct[(r["k"], p)] == r[f"q{i}"], (r["k"], p)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_keyed_ranks_high_cardinality_keys_now_work(spark):
    """r7: the in-plan shape has NO driver cells collect, so the old
    loud high-cardinality ValueError is gone — a ~unique key simply
    degrades (offsets broadcast grows with |keys|; the docstring still
    steers that regime to the plain window) while staying bitwise-
    correct against the window."""
    import pandas as pd
    from pyspark.sql import Window

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [f"u{i % 150}" for i in range(450)],
                "v": np.arange(450) * 13 % 97,
                "id": range(450),
            }
        )
    ).repartition(5)
    got = relational.keyed_prefix_sum(df, "k", ["v", "id"], out_name="rk")
    w = Window.partitionBy("k").orderBy("v", "id")
    exp = df.withColumn("rk", F.row_number().over(w))
    assert (
        got.select("k", "id", "rk").exceptAll(exp.select("k", "id", "rk")).count()
        == 0
    )


def test_keyed_prefix_sum_generalized_orderings(spark):
    """r7 `_leading_sort_bins` parity sweep: every leading-dtype /
    direction / nulls-ordering combination the generalized in-plan
    path claims must reproduce `row_number()` bitwise — string
    (lexicographic bounds incl. non-ASCII), timestamp, DESC numeric
    with NULLs (nulls-last), ASC NULLS LAST, and the exotic-type
    (array) single-bin fallback."""
    import datetime

    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(41)
    words = ["alpha", "Bravo", "charlie", "délta", "écho", "zulu", "née", ""]
    n = 600
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["p", "q", "r"], size=n),
            "s": [
                None if i % 37 == 0 else words[i % len(words)] + str(i % 29)
                for i in range(n)
            ],
            "x": [None if i % 41 == 0 else float(i * 7 % 83) for i in range(n)],
            "ts": [
                datetime.datetime(2024, 1, 1)
                + datetime.timedelta(minutes=int(m))
                for m in rng.integers(0, 5000, size=n)
            ],
            "id": range(n),
        }
    )
    df = spark.createDataFrame(
        pdf, "k string, s string, x double, ts timestamp, id long"
    ).repartition(7)

    cases = [
        [F.asc("s"), F.asc("id")],                      # string asc nulls first
        [F.col("s").desc(), F.asc("id")],               # string desc nulls last
        [F.col("s").asc_nulls_last(), F.asc("id")],     # asc nulls last
        [F.col("s").desc_nulls_first(), F.asc("id")],   # desc nulls first
        [F.desc("x"), F.asc("id")],                     # numeric desc nulls last
        [F.asc("ts"), F.asc("id")],                     # timestamp asc
        [F.desc("ts"), F.asc("id")],                    # timestamp desc
    ]
    for order in cases:
        got = relational.keyed_prefix_sum(df, "k", order, out_name="rk")
        w = Window.partitionBy("k").orderBy(*order)
        exp = df.withColumn("rk", F.row_number().over(w))
        assert (
            got.select("k", "id", "rk")
            .exceptAll(exp.select("k", "id", "rk"))
            .count()
            == 0
        ), [str(c) for c in order]

    # exotic leading type (array) -> single-bin fallback, still correct
    adf = df.withColumn("arr", F.array("id"))
    got = relational.keyed_prefix_sum(adf, "k", [F.asc("arr")], out_name="rk")
    w = Window.partitionBy("k").orderBy(F.asc("arr"))
    exp = adf.withColumn("rk", F.row_number().over(w))
    assert (
        got.select("k", "id", "rk").exceptAll(exp.select("k", "id", "rk")).count()
        == 0
    )

    # global ids over a string ordering
    gids = relational.keyed_prefix_sum(
        df, [], [F.desc("s"), F.asc("id")], out_name="rid"
    )
    gexp = df.withColumn(
        "rid", F.row_number().over(Window.orderBy(F.desc("s"), F.asc("id")))
    )
    assert (
        gids.select("id", "rid").exceptAll(gexp.select("id", "rid")).count()
        == 0
    )

    # keyed_prefix_sum over a string ordering, exclusive, bitwise
    wdf = df.withColumn("wt", (F.col("id") % 9 + 1).cast("int"))
    got = relational.keyed_prefix_sum(wdf, "k", [F.asc("s"), F.asc("id")], "wt", "ps")
    win = (
        Window.partitionBy("k")
        .orderBy(F.asc("s"), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = wdf.withColumn(
        "ps", F.sum(F.col("wt").cast("long")).over(win) - F.col("wt").cast("long")
    )
    assert (
        got.select("k", "id", "ps").exceptAll(exp.select("k", "id", "ps")).count()
        == 0
    )


def test_generalized_ranks_nan_null_empty_edges(spark):
    """r7 edge sweep for the generalized in-plan path: NaN + NULL mixed
    into a double leading key under all four direction/nulls-ordering
    combinations (NaN is Spark-greatest; NULL placement must mirror the
    window), an ALL-NULL leading key (empty bounds -> degenerate
    single-bin fallback), and empty input — all bitwise vs
    row_number()."""
    import pandas as pd
    from pyspark.sql import Window

    pdf = pd.DataFrame(
        {
            "k": ["a", "b"] * 30,
            "x": [
                float("nan")
                if i % 11 == 0
                else (None if i % 13 == 0 else float(i * 7 % 17))
                for i in range(60)
            ],
            "id": range(60),
        }
    )
    df = spark.createDataFrame(pdf, "k string, x double, id long").repartition(3)
    for order in (
        [F.asc("x"), F.asc("id")],
        [F.desc("x"), F.asc("id")],
        [F.col("x").asc_nulls_last(), F.asc("id")],
        [F.col("x").desc_nulls_first(), F.asc("id")],
    ):
        got = relational.keyed_prefix_sum(df, "k", order, out_name="rk")
        exp = df.withColumn(
            "rk", F.row_number().over(Window.partitionBy("k").orderBy(*order))
        )
        assert (
            got.select("k", "id", "rk").exceptAll(exp.select("k", "id", "rk")).count()
            == 0
        ), [str(c) for c in order]

    nulls = spark.createDataFrame([(None, i) for i in range(20)], "s string, id long")
    got = relational.keyed_prefix_sum(
        nulls, [], [F.asc("s"), F.asc("id")], out_name="rid"
    )
    exp = nulls.withColumn(
        "rid", F.row_number().over(Window.orderBy(F.asc("s"), F.asc("id")))
    )
    assert got.exceptAll(exp).count() == 0

    empty = spark.createDataFrame([], "s string, id long")
    assert relational.keyed_prefix_sum(empty, [], ["s", "id"]).count() == 0
    assert relational.keyed_prefix_sum(empty, "s", ["id"]).count() == 0


def test_composite_binning_low_cardinality_leading_key(spark):
    """r7 composite path: a LOW-cardinality leading sort key (a handful
    of distinct values -> one bin per value would single-task each
    class) triggers second-level binning — cells keyed by the EXACT
    leading value x second-entry bins — while staying bitwise equal to
    the window. Checks engagement (cells carry __lead) AND parity for
    string and desc leading keys, global and keyed."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(5)
    n = 800
    pdf = pd.DataFrame(
        {
            "src": [f"s{i % 4}" for i in range(n)],
            "grp": rng.choice(["g1", "g2"], size=n),
            "v": rng.permutation(n).astype(float),
            "id": range(n),
            "w": rng.integers(1, 9, size=n),
        }
    )
    df = spark.createDataFrame(pdf).repartition(6)

    # engagement: the composite path keys cells by the exact lead value
    b, off, cell_keys, degen = relational._generic_binned_offsets(
        df, [], [F.asc("src"), F.asc("v")], F.lit(1).cast("long"), None
    )
    assert not degen and cell_keys == ["__lead"], cell_keys
    n_cells = off.count()
    assert n_cells > 4, n_cells  # more than one cell per source value

    for order in (
        [F.asc("src"), F.asc("v"), F.asc("id")],
        [F.desc("src"), F.asc("v"), F.asc("id")],
        [F.asc("src"), F.desc("v"), F.asc("id")],
    ):
        got = relational.keyed_prefix_sum(df, [], order, out_name="rid")
        exp = df.withColumn("rid", F.row_number().over(Window.orderBy(*order)))
        assert (
            got.select("id", "rid").exceptAll(exp.select("id", "rid")).count()
            == 0
        ), [str(c) for c in order]

    got = relational.keyed_prefix_sum(
        df, "grp", [F.asc("src"), F.asc("v"), F.asc("id")], out_name="rk",
        total_name="n",
    )
    w = Window.partitionBy("grp").orderBy("src", "v", "id")
    exp = df.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    )
    assert (
        got.select("grp", "id", "rk", "n")
        .exceptAll(exp.select("grp", "id", "rk", "n"))
        .count()
        == 0
    )

    got = relational.keyed_prefix_sum(
        df, "grp", [F.asc("src"), F.asc("id")], "w", "ps"
    )
    win = (
        Window.partitionBy("grp")
        .orderBy("src", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = df.withColumn(
        "ps", F.sum(F.col("w").cast("long")).over(win) - F.col("w").cast("long")
    )
    assert (
        got.select("grp", "id", "ps").exceptAll(exp.select("grp", "id", "ps")).count()
        == 0
    )


def test_inplan_primitives_register_no_caches(spark):
    """`keyed_prefix_sum` is in-plan in every mode (keyed rank, global
    rank, weighted) — nothing persisted, nothing registered, nothing
    for a long session to leak."""
    import pandas as pd

    relational.release_scaffold_caches()
    df = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "b"] * 20, "v": range(40), "w": [1] * 40}
        )
    )
    relational.keyed_prefix_sum(df, "k", ["v"], out_name="rk").count()
    relational.keyed_prefix_sum(df, [], ["v"]).count()
    relational.keyed_prefix_sum(df, "k", ["v"], "w").count()
    assert not relational._SCAFFOLD_CACHES
    assert relational.release_scaffold_caches() == 0


def test_continuous_lead_skips_low_card_probe(spark, monkeypatch):
    """A continuous leading column yields every bound requested, so the
    composite path's distinct-count probe (two Spark jobs) must not run:
    at the session's shuffle width, with two or more order entries,
    `_generic_binned_offsets` never calls `_lead_confirmed_low_card`."""

    def probe(*_a, **_k):
        raise AssertionError("low-cardinality probe ran on a continuous lead")

    monkeypatch.setattr(relational, "_lead_confirmed_low_card", probe)
    assert relational._shuffle_width(spark) == 8
    df = spark.range(0, 4000, numPartitions=4).select(
        "id", (F.sin(F.col("id") * 0.37) * 1e3).alias("v")
    )
    for order in ([F.asc("v"), F.asc("id")], [F.desc("v"), F.asc("id")]):
        _b, _off, cell_keys, degen = relational._generic_binned_offsets(
            df, [], order, F.lit(1).cast("long"), None
        )
        assert not degen and cell_keys == [], [str(c) for c in order]


def test_global_all_null_lead_plans_no_nested_loop_join(spark):
    """``key_cols=[]`` over an order column that yields no bounds (all
    NULL): the single constant bin must not become the only join key,
    which plans a BroadcastNestedLoopJoin (outside the plan audit's
    whitelist). Ranks read 1..n, and a weighted inclusive sum with its
    total matches the window."""
    df = spark.range(0, 50, numPartitions=3).select(
        "id", F.lit(None).cast("double").alias("v"), F.lit(2).alias("w")
    )
    got = relational.keyed_prefix_sum(df, [], ["v", "id"], out_name="rk")
    assert sorted((r["id"], r["rk"]) for r in got.collect()) == [
        (i, i + 1) for i in range(50)
    ]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    got = relational.keyed_prefix_sum(
        df, [], ["v", "id"], "w", out_name="c", inclusive=True, total_name="t"
    )
    assert sorted((r["id"], r["c"], r["t"]) for r in got.collect()) == [
        (i, 2 * (i + 1), 100) for i in range(50)
    ]


def test_ntile_from_rank_matches_ntile_window(spark):
    from pyspark.sql import Window
    """Column-math ntile == ntile() window for every (n, k) shape,
    including n < k and n % k != 0."""
    import pandas as pd

    for n, k in [(17, 8), (5, 8), (24, 8), (1, 4), (100, 7)]:
        pdf = pd.DataFrame({"g": ["x"] * n, "v": np.arange(n)[::-1], "id": range(n)})
        df = spark.createDataFrame(pdf)
        w = Window.partitionBy("g").orderBy("v", "id")
        exp = df.withColumn("b", F.ntile(k).over(w))
        got = (
            df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.lit(n).cast("long"))
            .withColumn("b2", relational.ntile_from_rank("rk", "n", k))
        )
        pairs = (
            exp.join(got.select("id", "b2"), "id")
            .where(F.col("b") != F.col("b2"))
            .count()
        )
        assert pairs == 0, (n, k)


def test_keyed_percentiles_exact_matches_builtin(spark):
    """Distributed order-statistics percentiles == Spark's buffering
    percentile() bit-for-bit (same interpolation op order), with
    duplicate values, NULLs, and several keys."""
    import pandas as pd

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 200, size=800) / 7.0
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c", "d"], size=800),
            "v": vals,
        }
    )
    pdf.loc[::97, "v"] = None
    df = spark.createDataFrame(pdf).repartition(6)
    ps = [0.0, 0.25, 0.5, 0.95, 1.0]
    exp_rows = df.groupBy("k").agg(
        *[F.expr(f"percentile(v, {p})").alias(f"q{i}") for i, p in enumerate(ps)]
    ).collect()
    # histogram_cap=None -> one-job histogram fast path (200 distinct
    # values fit); histogram_cap=0 -> the cell-pruned general path.
    ones = df.withColumn("w", F.lit(1)).withColumn("c", F.lit("all"))
    for cap in (None, 0):
        got = {
            (r["k"], r["p"]): r["value"]
            for r in relational.keyed_percentiles_exact(
                df, "k", "v", ps, histogram_cap=cap
            ).collect()
        }
        for r in exp_rows:
            for i, p in enumerate(ps):
                assert got[(r["k"], p)] == r[f"q{i}"], (cap, r["k"], p)
        # all-ones weights are the unweighted multiset, bitwise
        got_w = {
            (r["k"], r["p"]): r["value"]
            for r in relational.keyed_percentiles_exact(
                ones, "k", "v", ps, weight_col="w", histogram_cap=cap
            ).collect()
        }
        assert got_w == got, cap
        # key_cols=[] is one global group, bitwise a constant key
        glob = {
            r["p"]: r["value"]
            for r in relational.keyed_percentiles_exact(
                ones, [], "v", ps, histogram_cap=cap
            ).collect()
        }
        const = {
            r["p"]: r["value"]
            for r in relational.keyed_percentiles_exact(
                ones, "c", "v", ps, histogram_cap=cap
            ).collect()
        }
        assert glob == const and len(glob) == len(ps), cap


def test_keyed_median_mad_both_regimes(spark):
    """keyed_median_mad == the builtin percentile(…, 0.5) med/MAD
    composition bitwise, in BOTH regimes: the one-pass value-histogram
    route and (via a tiny max_cells) the two-pass cell-pruned fallback.
    Also: med_transform applied before the deviation fold, NULL values
    ignored, NaN raises."""
    import math

    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=900),
            "v": rng.integers(0, 300, size=900) / 7.0,
        }
    )
    pdf.loc[::83, "v"] = None
    df = spark.createDataFrame(pdf).repartition(5)

    def expected(qz):
        med = df.groupBy("k").agg(F.expr("percentile(v, 0.5)").alias("m"))
        if qz:
            med = med.withColumn(
                "m", F.floor(F.col("m") * 1e6 + F.lit(0.5)) / 1e6
            )
        adev = df.join(med, "k").select(
            "k", F.abs(F.col("v") - F.col("m")).alias("a"), "m"
        )
        return {
            r["k"]: (r["m"], r["mad"])
            for r in adev.groupBy("k", "m")
            .agg(F.expr("percentile(a, 0.5)").alias("mad"))
            .collect()
        }

    for max_cells, qz in [(None, False), (None, True), (5, False), (5, True)]:
        tr = (lambda m: math.floor(m * 1e6 + 0.5) / 1e6) if qz else None
        got = {
            r["k"]: (r["med"], r["mad"])
            for r in relational.keyed_median_mad(
                df, "k", "v", med_transform=tr, max_cells=max_cells
            ).collect()
        }
        assert got == expected(qz), (max_cells, qz)
    with pytest.raises(ValueError, match="NaN"):
        bad = df.withColumn(
            "v", F.when(F.col("v") > 40.0, float("nan")).otherwise(F.col("v"))
        )
        relational.keyed_median_mad(bad, "k", "v").collect()


def test_assign_row_ids_matches_global_window(spark):
    """Global rank mode (``key_cols=[]``) over a DESC lead with heavy
    ties == the naive global `row_number()`: consecutive 1-based ids."""
    from pyspark.sql import Window

    df = spark.range(0, 997).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("score")
    )
    order = [F.desc("score"), F.asc("id")]
    got = relational.keyed_prefix_sum(df, [], order, out_name="row_id", n_bins=7)
    naive = df.withColumn("row_id", F.row_number().over(Window.orderBy(*order)))
    assert sorted((r["id"], r["row_id"]) for r in got.collect()) == sorted(
        (r["id"], r["row_id"]) for r in naive.collect()
    )


def test_assign_keyed_ranks_matches_window_row_number(spark):
    """Keyed rank mode == the `row_number()` window, on random data with
    duplicate order values (tiebreak column included), across several
    partitions; the per-key totals ride the offsets broadcast and match
    group counts."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=500),
            "v": rng.integers(0, 40, size=500).astype(float),
            "id": np.arange(500),
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    got = relational.keyed_prefix_sum(
        df, "k", [F.col("v").asc(), F.col("id").asc()], out_name="rk",
        total_name="n", n_bins=5,
    )
    tot = {r["k"]: r["n"] for r in got.select("k", "n").distinct().collect()}
    exp_tot = {
        r["k"]: r["cnt"]
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert tot == exp_tot
    w = Window.partitionBy("k").orderBy(F.col("v").asc(), F.col("id").asc())
    exp = df.withColumn("rk", F.row_number().over(w))
    assert (
        got.select("k", "id", "rk")
        .exceptAll(exp.select("k", "id", "rk"))
        .count()
        == 0
    )
    assert got.count() == 500


def test_binned_keyed_ranks_matches_window(spark):
    """Rank mode (``weight_col=None``) == the `row_number()` window
    bitwise, keyed and GLOBAL: duplicate order values broken by a
    tiebreak, NULL values (nulls-first like ASC), totals riding the
    broadcast, and more bins than distinct values down to a single
    bin."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=700),
            "v": rng.integers(0, 60, size=700).astype(float),
            "id": np.arange(700),
        }
    )
    pdf.loc[::53, "v"] = None
    df = spark.createDataFrame(pdf).repartition(6)
    order = [F.col("v").asc(), F.col("id").asc()]
    exp = df.withColumn(
        "rk", F.row_number().over(Window.partitionBy("k").orderBy(*order))
    )
    exp_tot = {
        r["k"]: r["cnt"]
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for n_bins in (16, 2, 1):
        got = relational.keyed_prefix_sum(
            df, "k", order, out_name="rk", total_name="n", n_bins=n_bins
        )
        assert (
            got.select("k", "id", "rk")
            .exceptAll(exp.select("k", "id", "rk"))
            .count()
            == 0
        ), n_bins
        tot = {r["k"]: r["n"] for r in got.select("k", "n").distinct().collect()}
        assert tot == exp_tot, n_bins

    # GLOBAL mode (key_cols=[]): one corpus-wide ranking, still binned
    gg = relational.keyed_prefix_sum(
        df, [], order, out_name="rk", total_name="n", n_bins=8
    )
    egl = df.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
    assert (
        gg.select("id", "rk").exceptAll(egl.select("id", "rk")).count() == 0
    )
    assert gg.select("n").distinct().collect()[0][0] == 700


def test_binned_primitives_null_keys_match_window(spark):
    """NULL KEY rows are kept and ranked exactly like the window's NULL
    partition (r6: the offset join is null-safe — a plain equi-join
    silently dropped them), in `keyed_prefix_sum`'s rank and weighted
    modes."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(53)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", None], size=400),
            "v": rng.integers(0, 40, size=400).astype(float),
            "w": rng.integers(1, 9, size=400),
            "id": np.arange(400),
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    assert df.where(F.col("k").isNull()).count() > 0

    got = relational.keyed_prefix_sum(df, "k", ["v", "id"], out_name="rk", n_bins=8)
    w = Window.partitionBy("k").orderBy(F.col("v").asc(), F.col("id").asc())
    exp = df.withColumn("rk", F.row_number().over(w))
    assert got.count() == 400  # nothing dropped
    assert (
        got.select("k", "id", "rk").exceptAll(exp.select("k", "id", "rk")).count()
        == 0
    )

    got2 = relational.keyed_prefix_sum(
        df, "k", ["v", "id"], "w", out_name="c", n_bins=8
    )
    wk = (
        Window.partitionBy("k")
        .orderBy(F.col("v").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp2 = df.withColumn(
        "c", F.sum(F.col("w").cast("long")).over(wk) - F.col("w").cast("long")
    )
    assert got2.count() == 400
    assert (
        got2.select("k", "id", "c").exceptAll(exp2.select("k", "id", "c")).count()
        == 0
    )


def test_keyed_percentiles_duplicate_ps_and_null_keys(spark):
    """Duplicate entries in ps are harmless (r6: canonicalized — a
    duplicated target used to double the covering-cell rows and shift
    row_number onto the wrong order statistic), and a NULL-key group
    gets the same percentiles the builtin computes for its NULL
    partition (r6: null-safe extract join; before, driver-resolved
    targets bypassed the join while extract targets were dropped,
    leaving half-populated interpolation rows)."""
    import pandas as pd

    rng = np.random.default_rng(59)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", None], size=500),
            "v": rng.normal(size=500),
        }
    )
    # heavy duplicate run in the NULL-key group -> some targets resolve
    # driver-side (single-value cell) while others need extraction
    pdf.loc[pdf["k"].isna() & (pdf.index % 3 == 0), "v"] = 7.25
    df = spark.createDataFrame(pdf).repartition(4)

    ps = [0.25, 0.5, 0.5, 0.9, 0.25]
    got = {
        (r["k"], r["p"]): r["value"]
        for r in relational.keyed_percentiles_exact(
            df, "k", "v", ps, n_partitions=8
        ).collect()
    }
    exp = {
        (r["k"], float(p)): r[f"q{i}"]
        for r in df.groupBy("k")
        .agg(
            *[
                F.expr(f"percentile(v, {p}d)").alias(f"q{i}")
                for i, p in enumerate([0.25, 0.5, 0.9])
            ]
        )
        .collect()
        for i, p in enumerate([0.25, 0.5, 0.9])
    }
    assert set(got) == set(exp)  # NULL-key group present, ps deduped
    for key, val in exp.items():
        assert got[key] == val, key


def test_dsir_weights_match_python_replica(spark):
    """DSIR importance weights == an independent pure-Python replica
    (hashlib md5 buckets, floor-quantized ln ratios, decimal sums),
    bitwise — and invariant to input partitioning (the decimal sums are
    order-independent by construction)."""
    import hashlib
    import math
    from decimal import Decimal

    from henbun_spark.operators import selection

    docs = [
        (0, "the quick brown fox jumps over the lazy dog", True),
        (1, "pack my box with five dozen liquor jugs", True),
        (2, "the quick brown fox naps", False),
        (3, "stochastic gradient descent converges slowly", False),
        (4, "the lazy dog naps over the box", False),
        (5, "", False),  # no tokens -> unscoreable, dropped
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "is_t"])
    B = 64

    def q6(x):
        return math.floor(x * 1000000.0 + 0.5) / 1000000.0

    def bucket(g):
        return int(hashlib.md5(f"dsir|{g}".encode()).hexdigest()[:6], 16) % B

    cr, ct, per_doc = {}, {}, {}
    for doc_id, txt, is_t in docs:
        toks = [t for t in txt.split(" ") if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for g in grams:
            b = bucket(g)
            cr[b] = cr.get(b, 0) + 1
            if is_t:
                ct[b] = ct.get(b, 0) + 1
            per_doc.setdefault(doc_id, []).append(b)
    K = Decimal(str(q6(
        math.log(sum(cr.values()) + B) - math.log(sum(ct.values()) + B)
    ))).quantize(Decimal("0.000001"))
    exp = {}
    for doc_id, bs in per_doc.items():
        s = sum(
            Decimal(str(q6(
                math.log(ct.get(b, 0) + 1) - math.log(cr[b] + 1)
            ))).quantize(Decimal("0.000001"))
            for b in bs
        )
        exp[doc_id] = (len(bs), float(s + len(bs) * K))

    for n_parts in (1, 7):
        got = {
            r["doc_id"]: (r["n_ngrams"], r["weight"])
            for r in selection.dsir_weights(
                df.repartition(n_parts), "text", "doc_id",
                F.col("is_t"), n_buckets=B,
            ).collect()
        }
        assert got == exp, n_parts
    # the target-vocabulary raw doc outranks the off-vocabulary one of
    # similar length (weights are raw sums, not length-normalized, so
    # only same-length comparisons are meaningful); empty doc absent
    assert exp[2][1] > exp[3][1]
    assert 5 not in exp
    top = selection.dsir_select(
        df, "text", "doc_id", F.col("is_t"), k=2, n_buckets=B
    ).collect()
    assert [r["doc_id"] for r in top] == sorted(
        exp, key=lambda d: (-exp[d][1], d)
    )[:2]


def test_take_budget_matches_global_window(spark):
    """take_budget (binned in-plan route) == the naive global-window
    cumulative-sum filter, boundary row excluded iff it overflows."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(43)
    pdf = pd.DataFrame(
        {
            "id": np.arange(300),
            "score": rng.normal(size=300),
            "tok": rng.integers(5, 80, size=300),
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    from henbun_spark.operators import selection

    got = sorted(
        r["id"]
        for r in selection.take_budget(df, "score", "tok", 3000, "id").collect()
    )
    wg = (
        Window.orderBy(F.col("score").desc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = sorted(
        r["id"]
        for r in df.withColumn("c", F.sum("tok").over(wg))
        .where(F.col("c") <= 3000)
        .collect()
    )
    assert got == exp and len(got) > 10


def test_keyed_percentiles_reject_nan(spark):
    """NaN values raise loudly (checked inside the cells pass, no extra
    job): NaN breaks the value-range cell re-matching."""
    import pytest as _pytest

    # genuine SQL NaN (pandas NaN would arrive as NULL via Arrow)
    df = spark.sql(
        "SELECT 'a' AS k, v FROM VALUES (1.0D), (double('NaN')), (2.0D) t(v)"
    )
    with _pytest.raises(ValueError, match="NaN"):
        relational.keyed_percentiles_exact(df, "k", "v", [0.5])


def test_keyed_percentiles_degenerate_inputs(spark):
    """All-identical values resolve entirely on the driver (single-value
    cells — no extract job rows); all-NULL input yields an empty result
    like the builtin returning NULL per group."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 50 + ["b"] * 30, "v": [7.25] * 80})
    )
    got = {
        (r["k"], r["p"]): r["value"]
        for r in relational.keyed_percentiles_exact(
            df, "k", "v", [0.0, 0.5, 1.0]
        ).collect()
    }
    assert got == {(k, p): 7.25 for k in ("a", "b") for p in (0.0, 0.5, 1.0)}
    nulls = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [None, None]}),
        "k string, v double",
    )
    assert relational.keyed_percentiles_exact(nulls, "k", "v", [0.5]).count() == 0


def test_keyed_rank_and_percentiles_empty_input(spark):
    """Degenerate inputs: empty frame -> empty ranks / empty percentile
    table (no driver error from the empty counts collect)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    empty = spark.createDataFrame([], schema)
    assert (
        relational.keyed_prefix_sum(
            empty, "k", ["v"], out_name="rk", total_name="n"
        ).count()
        == 0
    )
    assert (
        relational.keyed_percentiles_exact(empty, "k", "v", [0.5]).count() == 0
    )


def test_synthetic_docs_datasource_batch(spark):
    """Custom Python DataSource (Spark 4 API): deterministic rows born
    on executors — same options => byte-identical output; partition
    count honored; schema matches the documents table shape."""
    from henbun_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 5)
        .load()
    )
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    assert df.count() == 500
    a = sorted(df.collect())
    b = sorted(
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 3)  # layout must not change content
        .load()
        .collect()
    )
    assert a == b
    # dedup fodder exists: some exact text duplicates
    n_dup = 500 - df.select("text").distinct().count()
    assert n_dup > 0
    # degenerate rows=0 reads as an empty frame (review fix: pyspark
    # turns an empty partition list into [None])
    assert (
        spark.read.format("synthetic_docs").option("rows", 0).load().count()
        == 0
    )


def test_synthetic_docs_datasource_stream(spark, tmp_path):
    """Streaming side under a processing-time trigger: the incremental
    latestOffset hands the engine ONE rowsPerBatch id-range per poll
    (never the whole cap in batch 0), and the drained total is exactly
    maxBatches * rowsPerBatch deterministic rows — contiguous id range,
    no dups, no gaps."""
    import time as _time

    from henbun_spark.sources import pydatasource

    pydatasource.register(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("synthetic_docs")
        .option("rowsPerBatch", 200)
        .option("maxBatches", 3)
        .option("partitions", 2)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = _time.time() + 120
    try:
        while _time.time() < deadline:
            done = [
                p for p in q.recentProgress if p["numInputRows"] > 0
            ]
            if sum(p["numInputRows"] for p in done) >= 600:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 600
    # no micro-batch ingested more than one poll's worth
    assert max(p["numInputRows"] for p in done) <= 200
    ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    assert ids == list(range(600))
    # streamed rows == batch rows for the same id range (same generator)
    batch = (
        spark.read.format("synthetic_docs").option("rows", 600).load()
    )
    assert got.exceptAll(batch).count() == 0


def test_synthetic_docs_offset_protocol_unit():
    """Offset protocol without the engine: contiguous non-overlapping
    ranges per (start, end) window; replayed windows regenerate
    identical rows (exactly-once replay contract)."""
    from henbun_spark.sources.pydatasource import _DocsStreamReader

    r = _DocsStreamReader({"rowsPerBatch": "100", "maxBatches": "3",
                           "partitions": "2"})
    assert r.initialOffset() == {"row": 0}
    # incremental polls: one rowsPerBatch step per poll, capped — a
    # processing-time trigger ingests rowsPerBatch ids per micro-batch
    assert r.latestOffset() == {"row": 100}
    assert r.latestOffset() == {"row": 200}
    assert r.latestOffset() == {"row": 300}
    assert r.latestOffset() == {"row": 300}  # cap reached, stays put
    # a restarted reader resumes from the engine's committed range
    # (partitions() syncs the cursor), not from 0
    r2 = _DocsStreamReader({"rowsPerBatch": "100", "maxBatches": "3",
                            "partitions": "2"})
    r2.partitions({"row": 100}, {"row": 200})
    assert r2.latestOffset() == {"row": 300}
    seen = []
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        parts = r.partitions({"row": lo}, {"row": hi})
        rows = [row for p in parts for row in r.read(p)]
        assert sorted(x[0] for x in rows) == list(range(lo, hi))
        seen.extend(rows)
    # replay of the middle window is byte-identical
    replay = [
        row
        for p in r.partitions({"row": 100}, {"row": 200})
        for row in r.read(p)
    ]
    assert sorted(replay) == sorted(x for x in seen if 100 <= x[0] < 200)
    # empty window -> no rows (one empty-range sentinel partition:
    # pyspark would replace a bare [] with [None])
    empty = r.partitions({"row": 50}, {"row": 50})
    assert [row for p in empty for row in r.read(p)] == []
    # CLEAN RESTART: fresh reader's first poll sits below the committed
    # offset -> the engine plans a backwards batch (committed, below).
    # It must emit nothing, and the later catch-up batch must not
    # re-emit the committed range (row-level exactly-once).
    r3 = _DocsStreamReader({"rowsPerBatch": "100", "maxBatches": "4",
                            "partitions": "2"})
    assert r3.latestOffset() == {"row": 100}
    back = r3.partitions({"row": 300}, {"row": 100})
    assert [row for p in back for row in r3.read(p)] == []
    # catch-up overlaps the committed range: only ids >= 300 come out
    catch = r3.partitions({"row": 100}, {"row": 400})
    ids = sorted(row[0] for p in catch for row in r3.read(p))
    assert ids == list(range(300, 400))
    # cursor resumed: next poll advances past the committed offset
    assert r3.latestOffset() == {"row": 400}


def test_tdigest_grouped_rank_error_and_bounds(spark):
    """Grouped t-digest: per-group p-estimates within 2.5% rank error of
    the group's own distribution; merged state bounded by ~2*delta
    centroids per group; grouped estimates equal the ungrouped path on a
    single-group input (same compression, same interpolation)."""
    import pandas as pd

    from henbun_spark.operators import sketch

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "g": np.repeat(["a", "b", "c"], 4000),
            "v": np.concatenate(
                [
                    rng.normal(0, 1, 4000),
                    rng.exponential(5.0, 4000),  # skewed tail
                    rng.uniform(-10, 10, 4000),
                ]
            ),
        }
    )
    df = spark.createDataFrame(pdf).repartition(6)
    dig = sketch.tdigest_merge(
        sketch.tdigest_build(df, "v", delta=100, n_buckets=8, group_cols=["g"]),
        delta=100,
        group_cols=["g"],
    )
    per_group = {r["g"]: r["n"] for r in dig.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per_group) == {"a", "b", "c"}
    assert all(n <= 220 for n in per_group.values())
    qs = [0.01, 0.5, 0.99]
    ests = sketch.tdigest_quantile(dig, qs, group_cols=["g"]).collect()
    assert len(ests) == 9
    for r in ests:
        vals = pdf.loc[pdf["g"] == r["g"], "v"].to_numpy()
        frac = float((vals <= r["est"]).mean())
        assert abs(frac - r["q"]) <= 0.025, (r["g"], r["q"], frac)

    # single-group parity with the ungrouped estimator
    one = spark.createDataFrame(pdf[pdf["g"] == "a"])
    d1 = sketch.tdigest_merge(sketch.tdigest_build(one, "v", delta=100))
    exp = {r["q"]: r["est"] for r in sketch.tdigest_quantile(d1, qs).collect()}
    dg = sketch.tdigest_merge(
        sketch.tdigest_build(one, "v", delta=100, group_cols=["g"]),
        delta=100,
        group_cols=["g"],
    )
    got = {
        r["q"]: r["est"]
        for r in sketch.tdigest_quantile(dg, qs, group_cols=["g"]).collect()
    }
    for q in qs:
        assert got[q] == exp[q], q


def test_keyed_prefix_sum_matches_window(spark):
    """Weighted keyed running sum == the keyed `sum() OVER` window,
    bitwise (integer weights), exclusive (offset semantics) over a
    permutation order, on random data across partitions."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], size=400),
            "o": rng.permutation(400),
            "w": rng.integers(1, 50, size=400),
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    got = relational.keyed_prefix_sum(
        df, "k", [F.col("o").asc()], "w", out_name="s", n_bins=4
    )
    win = (
        Window.partitionBy("k")
        .orderBy(F.col("o").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = df.withColumn(
        "s", F.sum(F.col("w").cast("long")).over(win) - F.col("w").cast("long")
    )
    assert (
        got.select("k", "o", "s").exceptAll(exp.select("k", "o", "s")).count()
        == 0
    )


def test_binned_prefix_sum_matches_window(spark):
    """Weighted running sum == the ordering window bitwise, for: global
    DESC inclusive (budget semantics), keyed ASC exclusive (offset
    semantics), and rank mode (weight None), a 1-based rank whatever
    ``inclusive`` says; NULL scores sort like the window (DESC -> last)."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(41)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], size=600),
            "s": rng.normal(size=600),
            "w": rng.integers(1, 30, size=600),
            "id": np.arange(600),
        }
    )
    pdf.loc[::71, "s"] = None
    df = spark.createDataFrame(pdf).repartition(5)

    # global DESC inclusive
    got = relational.keyed_prefix_sum(
        df, [], [F.col("s").desc(), "id"], "w", out_name="c", inclusive=True,
        n_bins=16,
    )
    wg = (
        Window.orderBy(F.col("s").desc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = df.withColumn("c", F.sum(F.col("w").cast("long")).over(wg))
    assert got.select("id", "c").exceptAll(exp.select("id", "c")).count() == 0

    # keyed ASC exclusive
    got2 = relational.keyed_prefix_sum(
        df, "k", ["s", "id"], "w", out_name="c", n_bins=8
    )
    wk = (
        Window.partitionBy("k")
        .orderBy(F.col("s").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp2 = df.withColumn(
        "c", F.sum(F.col("w").cast("long")).over(wk) - F.col("w").cast("long")
    )
    assert (
        got2.select("k", "id", "c").exceptAll(exp2.select("k", "id", "c")).count()
        == 0
    )

    # rank mode (weight None) == row_number, exclusive or inclusive
    wr = Window.partitionBy("k").orderBy(F.col("s").asc(), F.col("id").asc())
    exp3 = df.withColumn("r", F.row_number().over(wr).cast("long"))
    for inclusive in (False, True):
        got3 = relational.keyed_prefix_sum(
            df, "k", ["s", "id"], out_name="r", inclusive=inclusive, n_bins=8
        )
        assert (
            got3.select("k", "id", "r").exceptAll(exp3.select("k", "id", "r")).count()
            == 0
        ), inclusive


def test_sample_per_group_distributed_matches_window_route(spark):
    """Both routes of deterministic_sample_per_group keep identical
    rows."""
    import pandas as pd

    from henbun_spark.operators import sampling

    pdf = pd.DataFrame(
        {"g": ["x"] * 200 + ["y"] * 100, "id": range(300)}
    )
    df = spark.createDataFrame(pdf).repartition(4)
    a = sorted(
        (r["g"], r["id"])
        for r in sampling.deterministic_sample_per_group(
            df, ["g"], "id", k=7
        ).collect()
    )
    b = sorted(
        (r["g"], r["id"])
        for r in sampling.deterministic_sample_per_group(
            df, ["g"], "id", k=7, distributed_ranks=True
        ).collect()
    )
    assert a == b and len(a) == 14


def test_md5_bucketed_prefix_sum_null_keys_and_ids(spark):
    """NULL group keys and NULL hashes are kept (null-safe offset join)
    and rank exactly like the keyed window: nulls-first ordering, NULL
    key its own group — the two sampling routes agree on NULL rows."""
    import pandas as pd
    from pyspark.sql import Window

    from henbun_spark.operators import sampling

    pdf = pd.DataFrame(
        {
            "g": ["a"] * 6 + [None] * 4 + ["b"] * 5,
            "id": [f"d{i}" for i in range(14)] + [None],
        }
    )
    df = spark.createDataFrame(pdf).repartition(3)
    h = F.md5(F.concat(F.lit("s"), F.lit("|"), F.col("id").cast("string")))
    b = df.withColumn("__h", h)
    got = relational.md5_bucketed_prefix_sum(
        b, "g", "__h", "id", None, out_name="rn"
    )
    assert got.count() == 15  # nothing dropped
    w = Window.partitionBy("g").orderBy(F.col("__h").asc(), F.col("id").asc())
    exp = b.withColumn("rn", F.row_number().over(w))
    assert (
        got.select("g", "id", "rn").exceptAll(exp.select("g", "id", "rn")).count()
        == 0
    )
    # and the sampling wrapper keeps NULL-key groups on both routes
    a_route = sampling.deterministic_sample_per_group(df, ["g"], "id", k=3)
    b_route = sampling.deterministic_sample_per_group(
        df, ["g"], "id", k=3, distributed_ranks=True
    )
    key = lambda t: tuple("" if x is None else x for x in t)
    assert sorted(
        ((r["g"], r["id"]) for r in a_route.collect()), key=key
    ) == sorted(((r["g"], r["id"]) for r in b_route.collect()), key=key)


def test_keyed_prefix_sum_rejects_fractional_weights(spark):
    import pandas as pd
    import pytest as _pytest

    df = spark.createDataFrame(pd.DataFrame({"k": ["a"], "o": [1], "w": [1.5]}))
    with _pytest.raises(ValueError, match="integer weight"):
        relational.keyed_prefix_sum(df, "k", ["o"], "w")


def test_md5_bucketed_prefix_sum_matches_window(spark):
    """Order-aligned hash-prefix cells: prefix sums AND ranks bitwise
    equal to the naive keyed window, across partitionings."""
    import pandas as pd
    from pyspark.sql import Window

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], size=600),
            "id": np.arange(600),
            "w": rng.integers(1, 9, size=600),
        }
    )
    df = (
        spark.createDataFrame(pdf)
        .withColumn("__h", F.md5(F.col("id").cast("string")))
        .repartition(7)
    )
    win = (
        Window.partitionBy("k")
        .orderBy(F.col("__h").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp_sum = df.withColumn(
        "s", F.sum(F.col("w").cast("long")).over(win) - F.col("w").cast("long")
    )
    got_sum = relational.md5_bucketed_prefix_sum(
        df, "k", "__h", "id", "w", out_name="s"
    )
    assert (
        got_sum.select("k", "id", "s").exceptAll(exp_sum.select("k", "id", "s")).count()
        == 0
    )
    wrk = Window.partitionBy("k").orderBy(F.col("__h").asc(), F.col("id").asc())
    exp_rank = df.withColumn("r", F.row_number().over(wrk).cast("long"))
    got_rank = relational.md5_bucketed_prefix_sum(
        df, "k", "__h", "id", None, out_name="r"
    )
    assert (
        got_rank.select("k", "id", "r").exceptAll(exp_rank.select("k", "id", "r")).count()
        == 0
    )


def test_upsample_epochs_copy_counts_and_stability(spark):
    """Multi-epoch mixing: rate 3.0 -> exactly 3 copies of every row;
    rate 2.5 -> 2 or 3 copies with ~half getting the 3rd; rate 0 -> all
    rows dropped; unlisted source -> default 1 copy; and decisions are
    stable under corpus growth (old ids keep their counts)."""
    import pandas as pd

    from henbun_spark.operators import pipeline

    pdf = pd.DataFrame(
        {
            "src": ["a"] * 100 + ["b"] * 100 + ["c"] * 50 + ["d"] * 50,
            "id": range(300),
        }
    )
    df = spark.createDataFrame(pdf)
    out = pipeline.upsample_epochs(
        df, "src", "id", {"a": 3.0, "b": 2.5, "c": 0.0}
    )
    by_src = {
        r["src"]: r["n"]
        for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_src["a"] == 300  # exactly 3 epochs
    assert 200 <= by_src["b"] <= 300 and abs(by_src["b"] - 250) < 40
    assert "c" not in by_src  # rate 0 drops everything
    assert by_src["d"] == 50  # default rate 1.0
    # epoch index is dense per doc
    mx = {
        r["id"]: r["m"]
        for r in out.where(F.col("src") == "b")
        .groupBy("id")
        .agg(F.max("epoch").alias("m"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(mx.values()) <= {1, 2}
    # stability: adding rows never changes existing copy counts
    bigger = spark.createDataFrame(
        pd.DataFrame({"src": ["b"] * 400, "id": range(1000, 1400)})
    )
    out2 = pipeline.upsample_epochs(
        df.unionByName(bigger), "src", "id", {"a": 3.0, "b": 2.5, "c": 0.0}
    )
    first = {
        (r["src"], r["id"]): r["n"]
        for r in out.groupBy("src", "id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    second = {
        (r["src"], r["id"]): r["n"]
        for r in out2.where(F.col("id") < 300)
        .groupBy("src", "id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert first == second


def test_materialize_packed_sequences_budget_and_order(spark):
    """Materialized sequences: every bin's token mass is near the budget
    (except each shard's last bin), docs appear exactly once across
    bins, and member order inside a sequence is the deterministic
    stream order."""
    import pandas as pd

    from henbun_spark.operators import pipeline

    pdf = pd.DataFrame(
        {
            "shard": ["s1"] * 40 + ["s2"] * 20,
            "id": range(60),
            "text": [f"doc{i}" for i in range(60)],
            "tok": [17] * 60,
        }
    )
    df = spark.createDataFrame(pdf)
    out = pipeline.materialize_packed_sequences(
        df, "id", "text", "tok", budget=100, part_col="shard"
    ).collect()
    total_docs = sum(r["n_docs"] for r in out)
    assert total_docs == 60
    per_shard_last = {}
    for r in out:
        per_shard_last.setdefault(r["shard"], 0)
        per_shard_last[r["shard"]] = max(per_shard_last[r["shard"]], r["bin"])
    for r in out:
        if r["bin"] < per_shard_last[r["shard"]]:
            # a full bin holds ceil(100/17)=6 docs' starts (17*6=102 > 100)
            assert 85 <= r["seq_tokens"] <= 120, r
        assert r["seq_text"].count("\x1e") == r["n_docs"] - 1


def test_keyed_weighted_percentiles_match_builtin(spark):
    """Weighted order-statistics percentiles == percentile(v, p, freq)
    bitwise, with duplicate values, weight > 1 rows straddling targets,
    NULLs and zero-weight rows ignored."""
    import pandas as pd

    rng = np.random.default_rng(17)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], 600),
            "v": rng.integers(0, 60, 600) / 3.0,
            "w": rng.integers(0, 15, 600),
        }
    )
    pdf.loc[::101, "v"] = None
    df = spark.createDataFrame(pdf).repartition(5)
    ps = [0.0, 0.25, 0.5, 0.95, 1.0]
    exp = df.where(F.col("w") > 0).groupBy("k").agg(
        *[F.expr(f"percentile(v, {p}, w)").alias(f"q{i}") for i, p in enumerate(ps)]
    ).collect()
    # histogram_cap=None -> one-job weighted-histogram fast path;
    # histogram_cap=0 -> the cell-pruned mass-rank path.
    for cap in (None, 0):
        got = {
            (r["k"], r["p"]): r["value"]
            for r in relational.keyed_percentiles_exact(
                df, "k", "v", ps, weight_col="w", histogram_cap=cap
            ).collect()
        }
        for r in exp:
            for i, p in enumerate(ps):
                assert got[(r["k"], p)] == r[f"q{i}"], (cap, r["k"], p)


def test_percentile_paths_bitwise_random_ps(spark):
    """Adversarial bitwise parity (round-5 review regression): RANDOM
    percentile fractions, mixed-magnitude values, weights 1..7, 40 keys
    — both distributed percentile paths must equal the builtins exactly
    (0-based position arithmetic + the equal-key short-circuit; a
    1-based position shift loses a ulp and can even flip floor/ceil)."""
    import pandas as pd

    rng = np.random.default_rng(23)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 40, 2000).astype(str),
            "v": np.where(
                rng.random(2000) < 0.5,
                rng.normal(0, 1, 2000),
                rng.normal(1000, 300, 2000),
            ),
            "w": rng.integers(1, 8, 2000),
        }
    )
    df = spark.createDataFrame(pdf).repartition(6)
    ps = sorted(set([0.0, 1.0] + list(rng.random(13))))
    got_w = {
        (r["k"], r["p"]): r["value"]
        for r in relational.keyed_percentiles_exact(
            df, "k", "v", ps, weight_col="w"
        ).collect()
    }
    exp_w = df.groupBy("k").agg(
        *[F.expr(f"percentile(v, {p!r}, w)").alias(f"q{i}") for i, p in enumerate(ps)]
    ).collect()
    for r in exp_w:
        for i, p in enumerate(ps):
            assert got_w[(r["k"], p)] == r[f"q{i}"], ("weighted", r["k"], p)
    got_u = {
        (r["k"], r["p"]): r["value"]
        for r in relational.keyed_percentiles_exact(df, "k", "v", ps).collect()
    }
    exp_u = df.groupBy("k").agg(
        *[F.expr(f"percentile(v, {p!r})").alias(f"q{i}") for i, p in enumerate(ps)]
    ).collect()
    for r in exp_u:
        for i, p in enumerate(ps):
            assert got_u[(r["k"], p)] == r[f"q{i}"], ("unweighted", r["k"], p)


def test_percentile_paths_reject_bad_fractions(spark):
    import pandas as pd
    import pytest as _pytest

    df = spark.createDataFrame(pd.DataFrame({"k": ["a"], "v": [1.0], "w": [1]}))
    with _pytest.raises(ValueError, match="percentages"):
        relational.keyed_percentiles_exact(df, "k", "v", [50])
    with _pytest.raises(ValueError, match="percentages"):
        relational.keyed_percentiles_exact(df, "k", "v", [1.5], weight_col="w")


def test_merge_agg_states_min_max_spec(spark):
    """agg_spec min/max merges elect extrema across delta folds; unknown
    specs raise."""
    import pandas as pd
    import pytest as _pytest

    mv = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "lo": [5, 9], "n": [2, 1]})
    )
    delta = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "c"], "lo": [3, 7], "n": [4, 1]})
    )
    out = {
        r["k"]: (r["lo"], r["n"])
        for r in relational.merge_agg_states(
            mv, delta, ["k"], agg_spec={"lo": "min"}
        ).collect()
    }
    assert out == {"a": (3, 6), "b": (9, 1), "c": (7, 1)}
    with _pytest.raises(ValueError, match="agg_spec"):
        relational.merge_agg_states(mv, delta, ["k"], agg_spec={"lo": "median"})
    with _pytest.raises(ValueError, match="agg_spec"):
        relational.merge_agg_states(mv, delta, ["k"], agg_spec={"k": "min"})


def test_phash_affine_robust_and_deterministic(spark):
    """pHash on a low-frequency-rich image: small Hamming movement under
    a clip-free affine relevel (DC excluded + median threshold absorb
    level changes up to uint8 rounding) and under small noise;
    deterministic across invocations. (pHash and aHash have DIFFERENT
    failure modes — neither dominates on adversarial synthetic images —
    so the pair is the standard belt-and-braces fingerprint set; the
    contract query proves end-to-end recovery of shifted+noisy copies.)
    """
    import pandas as pd

    from henbun_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    img = 120 + 50 * np.sin(i / 6.0) + 40 * np.cos(j / 5.0) + rng.normal(
        0, 2, (32, 32)
    )
    base = np.clip(np.stack([img] * 3, axis=2), 30, 225).astype(np.uint8)
    aff = (base.astype(float) * 1.1 - 15).astype(np.uint8)  # clip-free
    noisy = np.clip(
        base.astype(int) + rng.integers(-5, 6, base.shape), 0, 255
    ).astype(np.uint8)
    rows = [
        (0, bytearray(mm.encode_bmp(base))),
        (1, bytearray(mm.encode_bmp(aff))),
        (2, bytearray(mm.encode_bmp(noisy))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    ph = {r["media_id"]: r["phash"] for r in mm.phash_images(df).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(ph[0], ph[1]) <= 6  # affine relevel: uint8-rounding bits only
    assert ham(ph[0], ph[2]) <= 12  # small noise stays under pair threshold
    ph2 = {r["media_id"]: r["phash"] for r in mm.phash_images(df).collect()}
    assert ph == ph2
    # the banded pair join pairs base with both variants via hash_col
    pairs = mm.hamming_near_pairs(
        spark.createDataFrame(
            [(k, v) for k, v in ph.items()], "media_id long, phash long"
        ),
        max_hamming=12,
        hash_col="phash",
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(0, 1), (0, 2)}



# ---------------------------------------------------------------------------
# r9 late additions: sparse TF-IDF retrieval, LTTB, TWA, CMS inner product
# ---------------------------------------------------------------------------


def test_shingle_tfidf_cosine_vs_numpy(spark):
    # 4 docs over a tiny vocab; verify the full weighted-cosine pipeline
    # against a straight numpy computation of the same formula
    texts = {
        1: "a b c d e",
        2: "a b c d f",      # shares shingles 'a b c' (and 'b c d' with 1)
        3: "a b c d e",      # identical to 1
        4: "x y z w v",      # no overlap with anyone
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        (r["doc_id"], r["neighbor_id"]): r["cos"]
        for r in text.shingle_tfidf_cosine_topk(
            df, "text", "doc_id", n=3, k=3, max_df=100
        ).collect()
    }

    import math

    def shingles(t, n=3):
        w = t.split()
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    tf = {d: {} for d in texts}
    for d, t in texts.items():
        for s in shingles(t):
            tf[d][s] = tf[d].get(s, 0) + 1
    dfreq = {}
    for d in tf:
        for s in tf[d]:
            dfreq[s] = dfreq.get(s, 0) + 1
    n_docs = len(texts)
    w = {
        d: {
            s: round(c * (math.log((n_docs + 1.0) / (dfreq[s] + 1.0)) + 1.0), 6)
            for s, c in tf[d].items()
        }
        for d in tf
    }
    norms = {
        d: math.sqrt(float(sum(round(x * x, 9) for x in wd.values())))
        for d, wd in w.items()
    }
    for (a, b), cos in got.items():
        dot = float(
            sum(
                round(w[a][s] * w[b][s], 9)
                for s in set(w[a]) & set(w[b])
            )
        )
        assert cos == round(dot / (norms[a] * norms[b]), 6)
    # identical docs are each other's rank-1 neighbor at cos 1.0
    assert got[(1, 3)] == 1.0 and got[(3, 1)] == 1.0
    # the disjoint doc never appears
    assert not any(4 in pair for pair in got)


def test_shingle_tfidf_max_df_drops_boilerplate(spark):
    # every doc shares the same boilerplate shingle; with max_df=2 that
    # shingle is dropped, so docs whose ONLY overlap is boilerplate pair no
    # more
    df = spark.createDataFrame(
        [(1, "p q r s"), (2, "p q r t"), (3, "p q r u")],
        ["doc_id", "text"],
    )
    # 'p q r' has df=3 -> dropped at max_df=2; remaining shingles ('q r s',
    # 'q r t', 'q r u') are df=1 each -> no pairs at all
    out = text.shingle_tfidf_cosine_topk(
        df, "text", "doc_id", n=3, k=3, max_df=2
    )
    assert out.count() == 0


def _lttb_reference(points, buckets):
    """Python reference of the averaged-anchor LTTB variant (exact-sum
    mean arithmetic mirroring the operator's decimal accumulators)."""
    from decimal import ROUND_HALF_UP, Decimal

    def r6(v):  # Spark F.round semantics: HALF_UP on the shortest repr
        return Decimal(repr(float(v))).quantize(
            Decimal("1e-6"), ROUND_HALF_UP
        )

    pts = sorted(points)
    n = len(pts)
    if n < buckets:
        return pts
    def bucket_of(rnk):
        if rnk == 1:
            return 0
        if rnk == n:
            return buckets - 1
        return 1 + ((rnk - 2) * (buckets - 2)) // (n - 2)
    binned = {}
    for i, p in enumerate(pts, start=1):
        binned.setdefault(bucket_of(i), []).append(p)
    avgs = {
        b: (
            float(sum(x for x, _ in v)) / len(v),
            float(sum(r6(y) for _, y in v)) / len(v),
        )
        for b, v in binned.items()
    }
    out = []
    for b, v in binned.items():
        if b in (0, buckets - 1):
            out.append(v[0])
            continue
        lx, ly = avgs[b - 1]
        rx, ry = avgs[b + 1]
        best = max(
            v,
            key=lambda p: (
                abs((lx - rx) * (p[1] - ly) - (lx - p[0]) * (ry - ly)),
                -p[0],
                -p[1],
            ),
        )
        out.append(best)
    return sorted(out)


def test_lttb_downsample_matches_reference(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    # a spiky deterministic series: LTTB must keep the extrema
    pts = [
        (base + datetime.timedelta(seconds=i * 37), float((i * 7919) % 101) + i * 0.01)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        [(1, t, v) for t, v in pts], ["user_id", "ts", "value"]
    )
    got = sorted(
        (r["ts_epoch_us"], r["value"])
        for r in relational.lttb_downsample(
            df, "ts", "user_id", "value", buckets=12
        ).collect()
    )
    ref = _lttb_reference(
        [(int(t.timestamp() * 1_000_000), v) for t, v in pts], 12
    )
    assert got == ref
    assert len(got) == 12
    # endpoints pinned
    assert got[0][0] == int(pts[0][0].timestamp() * 1_000_000)
    assert got[-1][0] == int(pts[-1][0].timestamp() * 1_000_000)


def test_lttb_small_key_passes_through(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (7, base + datetime.timedelta(seconds=i), float(i)) for i in range(5)
    ]
    out = relational.lttb_downsample(
        spark.createDataFrame(rows, ["user_id", "ts", "value"]),
        "ts",
        "user_id",
        "value",
        buckets=12,
    ).collect()
    assert len(out) == 5
    assert sorted(r["bucket"] for r in out) == [0, 1, 2, 3, 4]
    assert sorted(r["value"] for r in out) == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_time_weighted_avg_hand_computed(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: v=0 at t=0, v=10 at t=10s -> trapezoid 50, span 10 -> twa 5
        (1, base, 0.0),
        (1, base + datetime.timedelta(seconds=10), 10.0),
        # user 2: constant 3.0 over irregular gaps -> twa exactly 3.0
        (2, base, 3.0),
        (2, base + datetime.timedelta(seconds=1), 3.0),
        (2, base + datetime.timedelta(seconds=100), 3.0),
        # user 3: single point -> dropped (no span)
        (3, base, 42.0),
    ]
    got = {
        r["user_id"]: r
        for r in relational.time_weighted_avg(
            spark.createDataFrame(rows, ["user_id", "ts", "value"]),
            "ts",
            "user_id",
            "value",
        ).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["twa"] == 5.0 and got[1]["span_secs"] == 10.0
    assert got[2]["twa"] == 3.0 and got[2]["n_points"] == 3
    # a plain AVG would NOT be 3-biased-free for user 1: avg=5 == twa only
    # because the series is linear; check the linear case holds exactly
    assert got[1]["n_points"] == 2


def test_cms_inner_product_bounds_join_size(spark):
    from henbun_spark.operators import sketch

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 9]], ["k"]
    )
    right = spark.createDataFrame([(k,) for k in [1, 2, 2, 4]], ["k"])
    exact = left.join(right, "k").count()  # 3*1 + 2*2 = 7
    assert exact == 7
    sa = sketch.cms_build(left, "k", depth=4, width=256)
    sb = sketch.cms_build(right, "k", depth=4, width=256)
    est = sketch.cms_inner_product(sa, sb, depth=4).collect()[0]["est"]
    # CM inner product never underestimates, and at width 256 with 5 keys
    # there are no collisions -> exact
    assert est == 7


def test_cms_inner_product_is_upper_bound_under_collisions(spark):
    from henbun_spark.operators import sketch

    left = spark.createDataFrame([(k,) for k in range(200)], ["k"])
    right = spark.createDataFrame([(k,) for k in range(100, 300)], ["k"])
    exact = left.join(right, "k").count()
    sa = sketch.cms_build(left, "k", depth=4, width=16)
    sb = sketch.cms_build(right, "k", depth=4, width=16)
    est = sketch.cms_inner_product(sa, sb, depth=4).collect()[0]["est"]
    assert est >= exact


def test_counter_delta_hand_computed(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: 0 -> 10 -> 3 (reset, +3) -> 8 (+5): increase 18, 1 reset
        (1, base, 0.0),
        (1, base + datetime.timedelta(seconds=1), 10.0),
        (1, base + datetime.timedelta(seconds=2), 3.0),
        (1, base + datetime.timedelta(seconds=3), 8.0),
        # user 2: single point -> 0 increase, 0 resets, kept
        (2, base, 99.0),
        # user 3: monotone 1 -> 4 -> 4: increase 3 (max-min agrees here)
        (3, base, 1.0),
        (3, base + datetime.timedelta(seconds=1), 4.0),
        (3, base + datetime.timedelta(seconds=2), 4.0),
    ]
    got = {
        r["user_id"]: r
        for r in relational.counter_delta(
            spark.createDataFrame(rows, ["user_id", "ts", "value"]),
            "ts",
            "user_id",
            "value",
        ).collect()
    }
    assert got[1]["total_increase"] == 18.0 and got[1]["n_resets"] == 1
    assert got[2]["total_increase"] == 0.0 and got[2]["n_resets"] == 0
    assert got[2]["n_points"] == 1
    assert got[3]["total_increase"] == 3.0 and got[3]["n_resets"] == 0


def test_ohlc_bucket_tie_determinism(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # bucket 0: open at t=0 (two values tie on ts -> smaller value
        # wins open), close at t=30 (tie -> larger value wins close)
        (base, 5.0),
        (base, 2.0),
        (base + datetime.timedelta(seconds=30), 9.0),
        (base + datetime.timedelta(seconds=30), 7.0),
        # bucket 1: single point
        (base + datetime.timedelta(hours=1), 4.0),
    ]
    got = {
        r["bucket_epoch"]: r
        for r in relational.ohlc_bucket(
            spark.createDataFrame(rows, ["ts", "value"]),
            "ts",
            "value",
            bucket_secs=3600,
        ).collect()
    }
    b0 = int(base.timestamp())
    assert got[b0]["open"] == 2.0 and got[b0]["close"] == 9.0
    assert got[b0]["high"] == 9.0 and got[b0]["low"] == 2.0
    assert got[b0]["n_points"] == 4
    assert got[b0 + 3600]["open"] == got[b0 + 3600]["close"] == 4.0


def test_ohlc_bucket_pre_epoch_floor_semantics(spark):
    """Bucket assignment is floor division, not truncate-toward-zero: a
    reading 1s BEFORE the epoch belongs to bucket -3600, not bucket 0
    (where truncation would misfile it and merge it with post-epoch
    readings)."""
    import datetime

    utc = datetime.timezone.utc
    rows = [
        (datetime.datetime(1969, 12, 31, 23, 59, 59, tzinfo=utc), 1.0),
        (datetime.datetime(1970, 1, 1, 0, 0, 1, tzinfo=utc), 2.0),
    ]
    got = {
        r["bucket_epoch"]: r
        for r in relational.ohlc_bucket(
            spark.createDataFrame(rows, ["ts", "value"]),
            "ts",
            "value",
            bucket_secs=3600,
        ).collect()
    }
    assert set(got) == {-3600, 0}
    assert got[-3600]["open"] == got[-3600]["close"] == 1.0
    assert got[0]["open"] == got[0]["close"] == 2.0


def test_hll_overlap_inclusion_exclusion(spark):
    from henbun_spark.operators import sketch

    a = spark.createDataFrame([(k,) for k in range(0, 600)], ["k"])
    b = spark.createDataFrame([(k,) for k in range(400, 1000)], ["k"])
    ra = sketch.hll_registers(a, "k", b=8)
    rb = sketch.hll_registers(b, "k", b=8)
    row = sketch.hll_overlap(ra, rb, b=8).collect()[0]
    # identity holds exactly by construction
    assert row["est_intersection"] == round(
        row["est_a"] + row["est_b"] - row["est_union"], 6
    )
    # estimates land near truth (HLL at b=8 is ~6.5% rel error; the
    # intersection inherits both operands' error -> loose bounds)
    assert abs(row["est_a"] - 600) / 600 < 0.25
    assert abs(row["est_b"] - 600) / 600 < 0.25
    assert abs(row["est_union"] - 1000) / 1000 < 0.25
    assert 50 < row["est_intersection"] < 350  # truth 200
    # disjoint segments: union ~ a + b -> intersection estimate near 0
    c = spark.createDataFrame([(k,) for k in range(5000, 5600)], ["k"])
    rc = sketch.hll_registers(c, "k", b=8)
    row2 = sketch.hll_overlap(ra, rc, b=8).collect()[0]
    assert abs(row2["est_intersection"]) < 120


def test_cms_inner_product_disjoint_rows_count_as_zero(spark):
    """A hash row where the two sketches share no buckets has inner
    product 0 — the tightest bound. The estimator must anchor on the
    full d axis (an inner join would silently drop those rows and
    overestimate from colliding rows only, or return an empty frame for
    fully disjoint inputs)."""
    from henbun_spark.operators import sketch

    left = spark.createDataFrame([(1,)], ["k"])
    right = spark.createDataFrame([(2,)], ["k"])
    sa = sketch.cms_build(left, "k", depth=4, width=256)
    sb = sketch.cms_build(right, "k", depth=4, width=256)
    # with one key per side, row d collides only if md5 buckets match;
    # compute the truth from the sketches themselves
    ab = {(r["d"], r["bucket"]) for r in sa.collect()}
    bb = {(r["d"], r["bucket"]) for r in sb.collect()}
    expected = 0 if len(ab & bb) < 4 else 1
    est = sketch.cms_inner_product(sa, sb, depth=4).collect()[0]["est"]
    assert est == expected == 0  # md5 is fixed; these keys do not fully collide


def test_counter_delta_telescopes_without_resets(spark):
    """On integer-valued monotone series the rounded per-step deltas
    telescope exactly: total_increase == last - first, n_resets == 0 —
    for ANY seeded random walk and any key."""
    import datetime
    import random

    rng = random.Random(7)
    base = datetime.datetime(2024, 1, 1)
    rows, expect = [], {}
    for uid in range(5):
        n = rng.randint(2, 40)
        vals = [0.0]
        for _ in range(n - 1):
            vals.append(vals[-1] + rng.randint(0, 9))
        for i, v in enumerate(vals):
            rows.append((uid, base + datetime.timedelta(seconds=i * 11), v))
        expect[uid] = vals[-1] - vals[0]
    got = {
        r["user_id"]: r
        for r in relational.counter_delta(
            spark.createDataFrame(rows, ["user_id", "ts", "value"]),
            "ts",
            "user_id",
            "value",
        ).collect()
    }
    for uid, inc in expect.items():
        assert got[uid]["n_resets"] == 0
        assert got[uid]["total_increase"] == float(inc)


def test_lttb_invariants_random_series(spark):
    """For seeded random multi-key series: per-key output size is
    min(n, buckets), endpoints are always kept, and every selected
    point is an input point of that key."""
    import datetime
    import random

    rng = random.Random(13)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    sizes = {1: 5, 2: 12, 3: 80, 4: 300}
    inputs = {}
    for uid, n in sizes.items():
        pts = []
        t = 0
        for _ in range(n):
            t += rng.randint(1, 500)
            pts.append((t, float(rng.randint(-1000, 1000))))
        inputs[uid] = {
            (int((base + datetime.timedelta(seconds=s)).timestamp() * 1e6), v)
            for s, v in pts
        }
        rows += [
            (uid, base + datetime.timedelta(seconds=s), v) for s, v in pts
        ]
    out = relational.lttb_downsample(
        spark.createDataFrame(rows, ["user_id", "ts", "value"]),
        "ts",
        "user_id",
        "value",
        buckets=12,
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r["user_id"], []).append(
            (r["ts_epoch_us"], r["value"])
        )
    for uid, n in sizes.items():
        got = per[uid]
        assert len(got) == min(n, 12), uid
        assert set(got) <= inputs[uid], uid
        assert min(got)[0] == min(inputs[uid])[0]  # first point kept
        assert max(got)[0] == max(inputs[uid])[0]  # last point kept


def test_twa_constant_series_is_exact(spark):
    """Time-weighted average of a constant-valued series is exactly the
    constant, whatever the (irregular, seeded-random) gaps — and twa
    always lies within [min, max] of the values."""
    import datetime
    import random

    rng = random.Random(29)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    t = 0
    for _ in range(25):
        t += rng.randint(1, 4000)
        rows.append((1, base + datetime.timedelta(seconds=t), 7.25))
    # a varying series for the bounds check (integer values)
    t = 0
    vals = []
    for _ in range(30):
        t += rng.randint(1, 4000)
        v = float(rng.randint(-50, 50))
        vals.append(v)
        rows.append((2, base + datetime.timedelta(seconds=t), v))
    got = {
        r["user_id"]: r
        for r in relational.time_weighted_avg(
            spark.createDataFrame(rows, ["user_id", "ts", "value"]),
            "ts",
            "user_id",
            "value",
        ).collect()
    }
    assert got[1]["twa"] == 7.25
    assert min(vals) <= got[2]["twa"] <= max(vals)


def test_profile_drift_detects_shape_changes(spark):
    from henbun_spark import sources as src

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["id", "cat", "v"],
    )
    # new: one row dropped, one cat collapsed, one v NULLed, range moved
    new = spark.createDataFrame(
        [(1, "a", None), (2, "a", 20.0)],
        ["id", "cat", "v"],
    )
    got = {
        r["column"]: r
        for r in src.profile_drift(old, new, ["id", "cat", "v"]).collect()
    }
    assert got["id"]["n_rows_old"] == 3 and got["id"]["n_rows_new"] == 2
    assert got["cat"]["distinct_delta"] == -2  # {a,b,c} -> {a}
    assert got["cat"]["range_changed"]  # max c -> a
    assert got["v"]["n_nulls_new"] == 1 and got["v"]["n_nulls_old"] == 0
    assert got["v"]["null_rate_delta"] == 0.5
    assert got["v"]["range_changed"]  # max 30 -> 20
    assert got["id"]["range_changed"]  # max 3 -> 2 (the dropped row)


def test_event_cooccurrence_and_transitions_hand_computed(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    # user 1: a -> b -> a ; user 2: a -> c ; user 3: b only
    rows = [
        (1, 1, base, "a"),
        (2, 1, base + datetime.timedelta(seconds=1), "b"),
        (3, 1, base + datetime.timedelta(seconds=2), "a"),
        (4, 2, base, "a"),
        (5, 2, base + datetime.timedelta(seconds=1), "c"),
        (6, 3, base, "b"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])

    from pyspark.sql import Window

    # PMI on the same shapes the contract query uses (inline rebuild:
    # the contract fn reads parquet, so compute via the same operators)
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = {
        (r["type_a"], r["type_b"]): r["n_both"]
        for r in a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .collect()
    }
    # users with both a and b: {1}; a: {1,2}, b: {1,3}, c: {2}; n=3
    assert pairs == {("a", "b"): 1, ("a", "c"): 1}

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    steps = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    trans = {
        (r["cur"], r["nxt"]): r["n"]
        for r in steps.groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # transitions: a->b, b->a (user 1), a->c (user 2)
    assert trans == {("a", "b"): 1, ("b", "a"): 1, ("a", "c"): 1}


def test_cms_inner_product_empty_sketch_estimates_zero(spark):
    from henbun_spark.operators import sketch

    empty = spark.createDataFrame([], "k bigint")
    right = spark.createDataFrame([(1,), (2,)], ["k"])
    sa = sketch.cms_build(empty, "k", depth=4, width=256)
    sb = sketch.cms_build(right, "k", depth=4, width=256)
    row = sketch.cms_inner_product(sa, sb, depth=4).collect()
    assert len(row) == 1 and row[0]["est"] == 0  # not NULL, not empty


def test_cms_inner_product_no_bigint_wrap_on_huge_counters(spark):
    """At fact-to-fact scale a per-bucket counter product exceeds 2^63;
    the accumulation must run in decimal(38,0) so the estimate never
    wraps negative. Hand-built sketch frames with 2^40-scale counters:
    the true inner product per row is 2^40 * 2^40 = 2^80 >> 2^63."""
    from henbun_spark.operators import sketch

    big = 1 << 40
    rows = [(d, 0, big) for d in range(4)]
    sa = spark.createDataFrame(rows, "d int, bucket int, cnt bigint")
    sb = spark.createDataFrame(rows, "d int, bucket int, cnt bigint")
    est = sketch.cms_inner_product(sa, sb, depth=4).collect()[0]["est"]
    # 2^80 exceeds long range — the contract is the bound saturates to
    # Long.MaxValue ("bigger than representable"), never a wrapped
    # negative and never NULL.
    assert est == 2**63 - 1
    # And the decimal accumulation stays exact at a magnitude where the
    # OLD long path already produced each product near the limit: one
    # shared bucket per row with cnt 3e9 → product 9e18, just inside
    # long, must round-trip exactly through decimal.
    mid = 3_000_000_000
    rows2 = [(d, 0, mid) for d in range(4)]
    sa2 = spark.createDataFrame(rows2, "d int, bucket int, cnt bigint")
    sb2 = spark.createDataFrame(rows2, "d int, bucket int, cnt bigint")
    est2 = sketch.cms_inner_product(sa2, sb2, depth=4).collect()[0]["est"]
    assert est2 == mid * mid


def test_lttb_rejects_too_few_buckets(spark):
    import datetime

    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 1.0)], ["user_id", "ts", "value"]
    )
    with _pytest.raises(ValueError, match="at least 3"):
        relational.lttb_downsample(df, "ts", "user_id", "value", buckets=2)


def test_counter_delta_and_twa_null_values_are_absent_observations(spark):
    """A NULL reading is an absent observation (the hypertable
    convention): it is dropped up front, so it neither counts in
    n_points nor breaks the delta/trapezoid chain between its
    neighbors — 1.0 at t=0 and 5.0 at t=2 behave as adjacent."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 1.0),
        (1, base + datetime.timedelta(seconds=1), None),
        (1, base + datetime.timedelta(seconds=2), 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    c = relational.counter_delta(df, "ts", "user_id", "value").collect()[0]
    assert c["n_points"] == 2 and c["n_resets"] == 0
    assert c["total_increase"] == 4.0  # the 1 -> 5 step survives the NULL
    t = relational.time_weighted_avg(df, "ts", "user_id", "value").collect()[0]
    assert t["n_points"] == 2 and t["span_secs"] == 2.0
    assert t["twa"] == 3.0  # trapezoid (1+5)/2 over the full span
    # OHLC: the NULL must not be electable as open/close
    o = relational.ohlc_bucket(df, "ts", "value", 3600).collect()[0]
    assert (o["open"], o["close"], o["n_points"]) == (1.0, 5.0, 2)


def test_shingle_tfidf_null_and_short_texts_drop_out(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, "x y z w"), (4, "x y z w")],
        "doc_id long, text string",
    )
    out = text.shingle_tfidf_cosine_topk(df, "text", "doc_id", n=3, k=3).collect()
    # docs 1 (NULL) and 2 (<n tokens) produce no shingles -> no pairs;
    # identical docs 3 and 4 pair at cos 1.0
    got = {(r["doc_id"], r["neighbor_id"]): r["cos"] for r in out}
    assert got == {(3, 4): 1.0, (4, 3): 1.0}


def test_shingle_tfidf_scaffold_pin_is_bounded(spark):
    """Direct callers who never release scaffolds must not accumulate
    pinned caches: each call releases the previous call's weighted-
    postings scaffold, so repeated calls pin at most ONE."""
    from henbun_spark.operators import relational

    relational.release_scaffold_caches()
    df = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w"), (3, "p q r s")],
        "doc_id long, text string",
    )
    for _ in range(3):
        text.shingle_tfidf_cosine_topk(df, "text", "doc_id", n=3, k=3).count()
    assert len(relational._SCAFFOLD_CACHES) == 1
    relational.release_scaffold_caches()
    # a harness release in between must not double-unpersist on the
    # next call (the slot may point at an already-released frame)
    text.shingle_tfidf_cosine_topk(df, "text", "doc_id", n=3, k=3).count()
    assert len(relational._SCAFFOLD_CACHES) == 1
    relational.release_scaffold_caches()


def test_centroid_drift_hand_computed(spark):
    """Planted drift: label 0's centroid moves by exactly (0.5, 0) —
    drift 0.5 on the 1024 grid; label 1 is unchanged — drift 0.0.
    Counts differ across sides to exercise the count-scaling."""
    from henbun_spark.operators import clustering

    old = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (0, [1.0, 1.0]),
            (1, [0.25, 0.25]),
        ],
        "label int, embedding array<double>",
    )
    new = spark.createDataFrame(
        [
            (0, [0.5, 0.0]),
            (0, [1.5, 1.0]),
            (0, [1.0, 0.5]),  # extra member, same +0.5 x-shifted pattern
            (1, [0.25, 0.25]),
        ],
        "label int, embedding array<double>",
    )
    got = {
        r["label"]: r
        for r in clustering.centroid_drift(
            old, new, "embedding", "label", grid=1024
        ).collect()
    }
    # label 0: mu_old=(0.5,0.5), mu_new=(1.0,0.5) -> drift 0.5 exactly
    assert got[0]["n_old"] == 2 and got[0]["n_new"] == 3
    assert got[0]["drift"] == 0.5
    assert got[1]["drift"] == 0.0 and got[1]["n_old"] == got[1]["n_new"] == 1


def test_centroid_drift_null_embeddings_are_absent(spark):
    """A NULL/empty embedding is an absent observation: it must not
    inflate the member count and fabricate a drift for identical
    vector sets."""
    from henbun_spark.operators import clustering

    old = spark.createDataFrame(
        [(0, [1.0, 1.0]), (0, [0.0, 0.0]), (0, None), (0, [])],
        "label int, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(0, [1.0, 1.0]), (0, [0.0, 0.0])],
        "label int, embedding array<double>",
    )
    row = clustering.centroid_drift(old, new, "embedding", "label").collect()[0]
    assert (row["n_old"], row["n_new"], row["drift"]) == (2, 2, 0.0)


def test_session_top_paths_shape(spark):
    """The path assembly is order-pinned: first-3 events in (ts,
    event_id) order, joined with '>' — verified on a crafted two-session
    user where collect_list order alone would be ambiguous."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # session 1: a, b, c, d (4th event must not appear in the path)
        (1, 1, base, "a"),
        (2, 1, base + datetime.timedelta(seconds=10), "b"),
        (3, 1, base + datetime.timedelta(seconds=20), "c"),
        (4, 1, base + datetime.timedelta(seconds=30), "d"),
        # session 2 (gap > 30 min): single event
        (5, 1, base + datetime.timedelta(hours=2), "x"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    from pyspark.sql import Window

    s = relational.sessionize(ev, gap_minutes=30, tiebreak="event_id")
    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    first3 = s.withColumn("step", F.row_number().over(w)).where(F.col("step") <= 3)
    paths = sorted(
        r["path"]
        for r in first3.groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                    lambda x: x.getField("event_type"),
                ),
                ">",
            ).alias("path")
        )
        .collect()
    )
    assert paths == ["a>b>c", "x"]
