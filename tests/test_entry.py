"""Driver-contract smoke tests: entry(), queries()/oracle_sql() consistency,
and a fast q1-vs-DuckDB check at sf0.001 (the full 30-query sweep lives in
tools/check_oracle.py and runs at sf0.01)."""

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entry_mod
from henbun_spark import sources

ROWS_ONLY: set = set()  # empty since r9 — see the history below
HISTORY = """
    # r7 retired the t-digest family + media dedups into oracle_sql();
    # r8 retired semantic_dedup_emb (planted dup components),
    # kmeans_embeddings (planted clusters, exact dyadic sums) and
    # pca_embeddings (planted Walsh axes, exactly diagonal covariance).
    # (r8 also converted streaming_ivf_ingest via the ann_topk_ivf
    # exact-payload + recall-bound recipe, logreg via teacher-label
    # counts + an accuracy-bound boolean, bpe via the lossless roundtrip
    # invariant, and streaming_vi_training via the exact decimal target
    # + contraction bound.) r9 retired the LAST seven: the VI
    # regression pair via exact OLS moments + OLS-proximity bounds,
    # staged training via exact payload + freeze-contract booleans,
    # the GP training flagships via exact payload + noise-damped
    # improvement and NaN-guard range booleans, the amortized encoder
    # via exact row count + finite/bounded posterior booleans, and the
    # deterministic-input sparse-GP posterior via a constant VALUES
    # oracle + a 6-sigma noise-bound boolean. EVERY registry query is
    # now oracle-backed; the empty set stays as the guard that it
    # remains so.
"""


def test_approx_distinct_events_tracks_exact(spark, sf_dir):
    """The contract query carries its own ground truth (r7: as an
    oracle-checked boolean): the HLL estimate must stay within the
    configured 2% rsd (5% slack, min 2) of the exact countDistinct —
    approx_ok must be TRUE for every type, and the exact side real."""
    rows = entry_mod.queries()["approx_distinct_events"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["approx_ok"] is True, r
        assert r["exact_users"] > 0 and r["n_events"] >= r["exact_users"], r


def test_query_oracle_keys_consistent():
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert oracles <= qs
    assert qs - oracles == ROWS_ONLY


def test_queries_dict_has_no_duplicate_keys():
    """The registry is a literal dict: a duplicate key is silently dead
    (first occurrence wins) but misleading — a rotation edit that
    deletes the first-50 occurrence while trusting a visible tail
    duplicate would silently shift the hash-checked window (the r8
    self-review found four such leftovers). Parse the source so
    duplicates can't hide behind dict semantics."""
    import ast

    src = open(entry_mod.__file__).read()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef) and node.name == "queries":
            dicts = [
                n.value
                for n in ast.walk(node)
                if isinstance(n, ast.Assign) and isinstance(n.value, ast.Dict)
            ]
            assert len(dicts) == 1, "queries() should build one dict literal"
            keys = [k.value for k in dicts[0].keys]
            dupes = sorted({k for k in keys if keys.count(k) > 1})
            assert not dupes, f"duplicate queries() keys: {dupes}"
            # the explicit window list must be 50 unique, known names
            lists = [
                n.value
                for n in ast.walk(node)
                if isinstance(n, ast.Assign)
                and isinstance(n.value, ast.List)
            ]
            assert len(lists) == 1, "queries() should set one window list"
            win = [e.value for e in lists[0].elts]
            assert len(win) == 50 and len(set(win)) == 50
            missing = [n for n in win if n not in keys]
            assert not missing, f"window names not in registry: {missing}"
            return
    raise AssertionError("queries() literal not found")


def _spark_graft_env_reads(tree):
    """Line numbers of the env reads of a ``SPARK_GRAFT_*`` literal in
    ``tree``: ``os.environ.get/pop/setdefault(...)``, ``os.getenv(...)``,
    ``os.environ[...]`` and ``... in os.environ`` (also through a bare
    ``environ``/``getenv`` name)."""
    import ast

    def is_environ(n):
        return (isinstance(n, ast.Name) and n.id == "environ") or (
            isinstance(n, ast.Attribute) and n.attr == "environ"
            and isinstance(n.value, ast.Name) and n.value.id == "os"
        )

    def is_getenv(n):
        return (isinstance(n, ast.Name) and n.id == "getenv") or (
            isinstance(n, ast.Attribute) and n.attr == "getenv"
            and isinstance(n.value, ast.Name) and n.value.id == "os"
        )

    def graft(n):
        return (
            isinstance(n, ast.Constant) and isinstance(n.value, str)
            and n.value.startswith("SPARK_GRAFT_")
        )

    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and n.args and graft(n.args[0]):
            f = n.func
            if is_getenv(f) or (
                isinstance(f, ast.Attribute) and is_environ(f.value)
                and f.attr in ("get", "pop", "setdefault")
            ):
                yield n.lineno
        elif isinstance(n, ast.Subscript) and is_environ(n.value) and graft(n.slice):
            yield n.lineno
        elif isinstance(n, ast.Compare) and graft(n.left) and any(
            is_environ(c) for c in n.comparators
        ):
            yield n.lineno


def test_no_inline_spark_graft_env_knobs():
    """Settings live in `config.Settings`, not in `SPARK_GRAFT_*` env
    lookups spread over the library: only `sources.get_spark` reads the
    deployment settings (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_DRIVER_MEM`)."""
    import ast
    from pathlib import Path

    root = Path(entry_mod.__file__).resolve().parent
    allowed = root / "henbun_spark" / "sources" / "__init__.py"
    files = [root / "__spark_entry__.py", *sorted((root / "henbun_spark").rglob("*.py"))]
    hits = [
        f"{path.relative_to(root)}:{line}"
        for path in files
        if path != allowed
        for line in _spark_graft_env_reads(ast.parse(path.read_text()))
    ]
    assert not hits, f"inline SPARK_GRAFT_* env reads: {hits}"
    # the scan sees the reads it must allow
    assert len(list(_spark_graft_env_reads(ast.parse(allowed.read_text())))) == 2


def _partial_fold_uses(tree):
    """Line numbers of `treeAggregate` calls and `TREE_DEPTH_CUTOVER`
    reads (by name or as a module attribute)."""
    import ast

    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "treeAggregate"):
            yield node.lineno
        elif isinstance(node, ast.Name) and node.id == "TREE_DEPTH_CUTOVER":
            if isinstance(node.ctx, ast.Load):
                yield node.lineno
        elif isinstance(node, ast.Attribute) and node.attr == "TREE_DEPTH_CUTOVER":
            yield node.lineno
        elif isinstance(node, ast.ImportFrom) and any(
                a.name == "TREE_DEPTH_CUTOVER" for a in node.names):
            yield node.lineno


def test_partial_sums_fold_in_one_place():
    """The iterative fits (SparkTrainer, k-means, PCA) add their
    per-partition partials through `local_replay.sum_partials` alone: no
    other library module calls `treeAggregate` or reads the cutover that
    picks its depth."""
    import ast
    from pathlib import Path

    root = Path(entry_mod.__file__).resolve().parent
    allowed = root / "henbun_spark" / "local_replay.py"
    hits = [
        f"{path.relative_to(root)}:{line}"
        for path in sorted((root / "henbun_spark").rglob("*.py"))
        if path != allowed
        for line in _partial_fold_uses(ast.parse(path.read_text()))
    ]
    assert not hits, f"partial-sum folds outside local_replay: {hits}"
    # the scan sees the fold it must allow: one call, two cutover reads
    assert len(list(_partial_fold_uses(ast.parse(allowed.read_text())))) == 3


def _band_join_parts(tree):
    """(line, kind) of each `stack(...) as (bi, blk)` band unpivot and
    each `bit_count(x.bitwiseXOR(y))` Hamming distance, with the name of
    the top-level function holding it."""
    import ast
    import re

    unpivot = re.compile(r"stack\(.*\)\s*as\s*\(\s*bi\s*,\s*blk\s*\)")
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.JoinedStr):
                text = "".join(
                    v.value if isinstance(v, ast.Constant) else "{}"
                    for v in node.values
                )
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = node.value
            else:
                text = None
            if text is not None and unpivot.search(text):
                yield getattr(top, "name", None), node.lineno, "unpivot"
            func = getattr(node, "func", None)
            name = getattr(func, "attr", getattr(func, "id", None))
            if isinstance(node, ast.Call) and name == "bit_count" and any(
                isinstance(a, ast.Call)
                and getattr(a.func, "attr", None) == "bitwiseXOR"
                for a in node.args
            ):
                yield getattr(top, "name", None), node.lineno, "hamming"


def test_hamming_band_join_in_one_place():
    """SimHash pairs and neighbours, the media fingerprints and the
    streaming degree index share one pigeonhole band join: the `(bi,
    blk)` unpivot lives in `dedup.hamming_band_blocks` and the Hamming
    distance in `dedup.hamming_band_pairs`, nowhere else in the library.
    (The multiprobe `bitwiseXOR` masks of similarity.py are bucket
    perturbations, not a distance, and are not flagged.)"""
    import ast
    from pathlib import Path

    root = Path(entry_mod.__file__).resolve().parent
    helper = root / "henbun_spark" / "operators" / "dedup.py"
    allowed = {"hamming_band_blocks", "hamming_band_pairs"}
    hits = [
        f"{path.relative_to(root)}:{line} {kind}"
        for path in sorted((root / "henbun_spark").rglob("*.py"))
        for fn, line, kind in _band_join_parts(ast.parse(path.read_text()))
        if not (path == helper and fn in allowed)
    ]
    assert not hits, f"band-join copies outside dedup.hamming_band_*: {hits}"
    # the scan sees the helper it must allow: one unpivot, one distance
    seen = sorted(
        (fn, kind) for fn, _l, kind in _band_join_parts(ast.parse(helper.read_text()))
    )
    assert seen == [("hamming_band_blocks", "unpivot"),
                    ("hamming_band_pairs", "hamming")], seen


def test_operators_inventory_is_generated():
    """docs/OPERATORS.md is exactly what `tools/gen_inventory.py`
    renders from the registry: an entry docstring edited without
    regenerating the file fails here."""
    import importlib.util
    from pathlib import Path

    root = Path(entry_mod.__file__).resolve().parent
    spec = importlib.util.spec_from_file_location(
        "gen_inventory", root / "tools" / "gen_inventory.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    committed = (root / "docs" / "OPERATORS.md").read_text()
    assert committed == gen.render(), "run python tools/gen_inventory.py"


def test_sketch_families_have_no_twins():
    """Each sketch family is one keyed function: exact percentiles take
    ``weight_col`` and ``key_cols=[]``, t-digest and heavy hitters take
    ``group_cols`` — no operator defines a `*_grouped` or
    `keyed_weighted_*` twin."""
    import ast
    import fnmatch
    from pathlib import Path

    root = Path(entry_mod.__file__).resolve().parent
    twins = [
        f"{path.relative_to(root)}:{node.lineno} {node.name}"
        for path in sorted((root / "henbun_spark" / "operators").glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef)
        and (fnmatch.fnmatch(node.name, "*_grouped")
             or fnmatch.fnmatch(node.name, "keyed_weighted_*"))
    ]
    assert not twins, f"keyed/grouped twins of a sketch family: {twins}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_approx_count_distinct_within_5pct(spark, sf_dir):
    """approx_count_distinct (HLL++ sketch) tracks the exact distinct count
    — sketches can't hash-match a SQL oracle, so the contract query is the
    exact COUNT(DISTINCT) twin and this bounds the approximate path."""
    from pyspark.sql import functions as F

    li = sources.load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.05 * row["exact"], row


def test_q1_matches_duckdb_sf0001(spark, sf_dir):
    got = (
        entry_mod.q1_pricing_summary(spark, sf_dir)
        .orderBy("l_returnflag", "l_linestatus")
        .toPandas()
    )
    con = duckdb.connect()
    for t in sources.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    exp = (
        con.sql(entry_mod.oracle_sql()["q1_pricing_summary"])
        .df()
        .sort_values(["l_returnflag", "l_linestatus"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ["sum_qty", "sum_disc_price", "sum_charge", "avg_qty"]:
        np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy())


def test_readme_counts_match_registry():
    import re

    readme = open("/root/repo/README.md").read()
    m = re.search(r"exposes (\d+) queries \((\d+) hash-checked", readme)
    assert m, "README contract sentence missing"
    assert int(m.group(1)) == len(entry_mod.queries())
    assert int(m.group(2)) == len(entry_mod.oracle_sql())
    b = re.search(r"`bench\.py` times the (\d+)-query", readme)
    import bench

    assert b and int(b.group(1)) == len(bench.HEADLINE)


def test_bench_headline_names_resolve_and_are_unique():
    """Every HEADLINE name must be a registered query (a rename or
    registry edit that orphans a bench entry otherwise only surfaces as
    a -1 failure in the official per-round bench run), and no name may
    be timed twice."""
    import bench

    qs = set(entry_mod.queries())
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"HEADLINE names not in queries(): {missing}"
    dupes = {n for n in bench.HEADLINE if bench.HEADLINE.count(n) > 1}
    assert not dupes, f"duplicate HEADLINE entries: {dupes}"


def test_bench_stdout_line_fits_driver_capture():
    """Round 4's official bench signal was lost because the stdout JSON
    outgrew the driver's ~2000-char tail capture. Guard: for the full
    current HEADLINE (worst-case long names, 4-digit times) the compact
    line parses as JSON and stays under 1900 chars."""
    import json as _json

    import bench

    times = {n: 123.456 for n in bench.HEADLINE}
    times[bench.HEADLINE[0]] = -1.0  # a failed query still fits
    full, line = bench.format_output(times, 0.1)
    assert len(line) <= 1900
    d = _json.loads(line)
    assert d["metric"] == "headline_suite_total"
    assert d["n_queries"] == len(bench.HEADLINE)
    assert d["n_failed"] == 1
    assert 0 < len(d["queries"]) <= 20
    assert full["queries"] == times


def test_bench_throttle_threshold_discriminates_bursts():
    """The sentinel threshold must sit far below the multi-second burst
    signature (BENCH_r09 published 10-14s for 3-row queries) but above
    quiet-regime probe jitter, for any plausible calibrated floor."""
    import bench

    for floor in (0.01, 0.05, 0.12, 0.3):
        th = bench.probe_threshold(floor)
        assert th >= bench.PROBE_ABS_FLOOR  # jitter guard
        assert th <= 2.0  # a throttling burst (>=2s probes) always trips
        assert th >= floor  # a quiet probe at the floor never trips


def test_driver_sampled_window_rotation_invariant():
    """The driver checks the FIRST 50 registry entries each round. The
    r6 lesson (CORRECTNESS_r06.json): the driver answers a rows-only
    query with `err: no_oracle` — a red-looking row that verifies
    NOTHING — so rows-only queries must NEVER occupy a window slot.
    The window is 100% oracle-backed, and its scarce re-check budget
    goes to queries with the fewest committed GREEN driver rows:
    nothing in the window may already have 2+ green rows while an
    oracle-backed query with none sits outside it."""
    import glob
    import json
    import os

    window = list(entry_mod.queries())[:50]
    oracles = entry_mod.oracle_sql()
    rows_only_in_window = [n for n in window if n not in oracles]
    assert not rows_only_in_window, (
        "rows-only queries burn driver slots with err:no_oracle rows: "
        f"{rows_only_in_window}"
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    greens: dict = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            for name, rec in json.load(f).items():
                # err rows (no_oracle / crashes) verified nothing, and a
                # FAILED hash check is a red row, not coverage — a red
                # query must be able to hold its window slot for the
                # re-check after a fix
                if rec.get("err") is None and rec.get("hash_match") is not False:
                    greens[name] = greens.get(name, 0) + 1
    never_checked_outside = [
        n
        for n in list(entry_mod.queries())[50:]
        if n in oracles and greens.get(n, 0) == 0
    ]
    over_checked_inside = [n for n in window if greens.get(n, 0) >= 2]
    assert not (never_checked_outside and over_checked_inside), (
        "window wastes re-checks on already-covered queries while "
        f"never-checked oracle-backed queries wait: in={over_checked_inside} "
        f"out={never_checked_outside}"
    )
