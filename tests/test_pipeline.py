"""End-to-end pipeline gates (BASELINE.json):
* pairwise F1 >= 0.99 on labeled pairs at the pipeline's blocking key
* deterministic output across parallelism levels (the reference's
  backend-differential sweep, test/sz_helpers.py:1360 — same clusters at
  local[2] vs local[8] / different shuffle-partition counts)
* checkpoint resume reproduces identical output
"""

from __future__ import annotations

import os
import shutil

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from sz_spark.session import build_session

    s = build_session(master="local[8]", shuffle_partitions=8, app_name="pipe-tests")
    yield s
    s.stop()


def test_f1_gate(spark):
    from sz_spark.pipeline import PipelineConfig, run_on_sf_dir

    res = run_on_sf_dir(spark, SF_DIR, PipelineConfig())
    m = res["metrics"]
    assert m["precision"] >= 0.99, m
    assert m["recall"] >= 0.99, m
    assert m["f1"] >= 0.99, m


def test_deterministic_across_parallelism(spark):
    """Same clusters regardless of shuffle-partition count (stand-in for
    executor-count invariance)."""
    from pyspark.sql import functions as F

    from sz_spark.pipeline import PipelineConfig, run_pipeline
    from sz_spark.transcripts import build_transcripts

    outs = []
    for n_part in (3, 17):
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        tr = build_transcripts(spark, SF_DIR)
        stages = run_pipeline(spark, tr, PipelineConfig())
        outs.append(
            stages["clusters"]
            .orderBy("conv_id")
            .toPandas()
            .reset_index(drop=True)
        )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert outs[0].equals(outs[1])


def test_block_salting(spark):
    """Oversized blocks get salted sub-keys that spread the work across
    reducers WITHOUT losing any in-block pair (replicated-side salted
    self-join); small blocks stay intact; huge blocks are suppressed
    and logged."""
    from pyspark.sql import functions as F

    from sz_spark import blocking

    rows = (
        [("small%d" % i, 0, 111) for i in range(5)]
        + [("hot%02d" % i, 0, 222) for i in range(40)]
        + [("huge%d" % i, 0, 333) for i in range(200)]
    )
    bands = spark.createDataFrame(rows, "conv_id string, band_id int, band_hash long")
    kept, suppressed = blocking.cap_blocks(bands, max_block_size=8, salt_up_to=64)
    sup = suppressed.collect()
    assert len(sup) == 1 and sup[0]["block_size"] == 200
    k = kept.toPandas()
    assert (k[k.conv_id.str.startswith("small")]["salt"] == 0).all()
    assert (k[k.conv_id.str.startswith("small")]["n_salts"] == 1).all()
    hot = k[k.conv_id.str.startswith("hot")]
    assert hot["salt"].nunique() > 1  # split across salts
    assert (hot["n_salts"] == 5).all()  # ceil(40/8)
    pairs = blocking.candidate_pairs(kept).toPandas()
    # salting preserves recall exactly: ALL 40C2 hot pairs + 5C2 small
    n_hot_pairs = len(pairs[pairs.id_a.str.startswith("hot")])
    assert n_hot_pairs == 40 * 39 // 2
    n_small_pairs = len(pairs[pairs.id_a.str.startswith("small")])
    assert n_small_pairs == 5 * 4 // 2
    # suppressed block contributes no pairs at all
    assert not pairs.id_a.str.startswith("huge").any()


def test_block_pairs_fused_equals_salted_join(spark):
    """The fused two-shuffle block_pairs (window cap + in-array pair
    emission) produces EXACTLY the salted self-join's pair set and the
    same suppressed stats, on the skew fixture (intact block, salted-
    tier block, suppressed block) plus multi-band overlap for the
    cross-band dedup."""
    from sz_spark import blocking

    rows = (
        [("small%d" % i, 0, 111) for i in range(5)]
        + [("hot%02d" % i, 0, 222) for i in range(40)]
        + [("huge%d" % i, 0, 333) for i in range(200)]
        # same ids colliding again in another band: dedup must collapse
        + [("small%d" % i, 1, 444) for i in range(5)]
        + [("hot%02d" % i, 1, 555) for i in range(3)]
    )
    bands = spark.createDataFrame(rows, "conv_id string, band_id int, band_hash long")
    kept, sup_old = blocking.cap_blocks(bands, max_block_size=8, salt_up_to=64)
    old = blocking.candidate_pairs(kept).toPandas()
    new, sup_new = blocking.block_pairs(bands, max_block_size=8, salt_up_to=64)
    new = new.toPandas()
    key = lambda df: set(map(tuple, df[["id_a", "id_b"]].itertuples(index=False)))
    assert key(new) == key(old) and len(new) == len(old)  # set AND no dups
    assert (
        sup_new.orderBy("band_hash").toPandas().to_dict("records")
        == sup_old.orderBy("band_hash").toPandas().to_dict("records")
    )


def test_resume_identical(spark, tmp_path):
    from sz_spark.pipeline import PipelineConfig, run_pipeline
    from sz_spark.transcripts import build_transcripts

    ck = str(tmp_path / "ckpt")
    tr = build_transcripts(spark, SF_DIR)
    cfg = PipelineConfig(checkpoint_dir=ck)
    r1 = run_pipeline(spark, tr, cfg)
    c1 = r1["clusters"].orderBy("conv_id").toPandas().reset_index(drop=True)
    # simulated mid-run failure: later stages lost, earlier kept
    for stage in ("pairs", "scored", "clusters"):
        shutil.rmtree(os.path.join(ck, stage), ignore_errors=True)
    r2 = run_pipeline(spark, tr, cfg)
    c2 = r2["clusters"].orderBy("conv_id").toPandas().reset_index(drop=True)
    assert c1.equals(c2)
    # lineage metrics exist per stage
    metrics = r2["clusters"].sparkSession.read.parquet(os.path.join(ck, "_metrics"))
    stages_logged = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert {"canonical_docs", "doc_features", "pairs", "scored"} <= stages_logged
    # each run's rows of a stage add up to the stage's row count
    for r in metrics.groupBy("stage", "run_id").sum("rows").collect():
        stage_rows = spark.read.parquet(os.path.join(ck, r["stage"], "data")).count()
        assert r["sum(rows)"] == stage_rows, (r["stage"], r["run_id"])


def _jobs_in_group(spark, group, fn):
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lineage_rows_match_spark_oracle(spark, tmp_path):
    """Every stage's metric rows (read off the parquet footers) equal a
    Spark aggregate over the stage's files: per file, the row count and
    the native-order min/max of the first column, rendered with str."""
    from pyspark.sql import functions as F

    from sz_spark.pipeline import PipelineConfig, run_pipeline
    from sz_spark.transcripts import build_transcripts

    ck = str(tmp_path / "ckpt")
    run_pipeline(spark, build_transcripts(spark, SF_DIR), PipelineConfig(checkpoint_dir=ck))
    metrics = spark.read.parquet(os.path.join(ck, "_metrics")).toPandas()
    assert {"canonical_docs", "doc_features", "pairs", "scored", "clusters"} <= set(metrics.stage)
    assert metrics.run_id.nunique() == 1

    def rendered(v):
        return None if v is None else str(v)

    for stage, got in metrics.groupby("stage"):
        data = spark.read.parquet(os.path.join(ck, stage, "data"))
        first = data.columns[0]
        oracle = {
            os.path.basename(r["f"]): (r["rows"], rendered(r["lo"]), rendered(r["hi"]))
            for r in data.groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("rows"), F.min(first).alias("lo"), F.max(first).alias("hi"))
            .collect()
        }
        files = sorted(os.path.basename(f) for f in data.inputFiles())
        want = [(pid, *oracle.get(f, (0, None, None))) for pid, f in enumerate(files)]
        got = got.sort_values("partition_id")[["partition_id", "rows", "min_key", "max_key"]]
        assert [tuple(r) for r in got.astype(object).itertuples(index=False)] == want, stage


def test_checkpoint_runs_only_its_write_jobs(spark, tmp_path):
    """A checkpointed stage launches exactly the jobs of its parquet
    write: the re-read infers no schema and the metric rows need no
    job."""
    from sz_spark.lineage import CheckpointManager

    df = (
        spark.range(0, 5000, numPartitions=4)
        .selectExpr("id * 7919 % 5000 AS did", "id AS v")
        .repartition(3, "did")
    )
    mgr = CheckpointManager(spark, str(tmp_path / "ckpt"))
    plain = str(tmp_path / "plain")
    write_jobs = _jobs_in_group(spark, "ckpt-write", lambda: df.write.parquet(plain))
    out = []
    mat_jobs = _jobs_in_group(spark, "ckpt-materialize", lambda: out.append(mgr.materialize("s", df)))
    assert write_jobs >= 1 and mat_jobs == write_jobs
    assert _jobs_in_group(spark, "ckpt-metrics", lambda: mgr._write_metrics("s", out[0])) == 0
    rows = mgr.metrics().collect()
    assert sum(r["rows"] for r in rows) == 5000
    assert min(int(r["min_key"]) for r in rows) == 0
    assert max(int(r["max_key"]) for r in rows) == 4999


@pytest.mark.parametrize(
    "keys",
    [
        [],
        [None, None],
        ["x" * 5000, "y" * 5000],
        [f"a{i:03d}" for i in range(100)] + ["z" * 5000] * 100,
    ],
    ids=["empty", "all_null", "over_4kb", "over_4kb_in_second_row_group"],
)
def test_checkpoint_lineage_null_key_range(spark, tmp_path, keys):
    """A file whose footer holds no key range — an empty stage, only
    null keys, or keys too long for parquet-mr to keep statistics of,
    in any of its row groups — gets null min/max keys and still its
    row count."""
    from sz_spark.lineage import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "ckpt"))
    df = spark.createDataFrame([(k,) for k in keys], "k string").coalesce(1)
    # parquet-mr closes a row group at its first size check (100 rows)
    spark.conf.set("parquet.block.size", "1")
    try:
        assert mgr.materialize("s", df).count() == len(keys)
    finally:
        spark.conf.unset("parquet.block.size")
    rows = mgr.metrics().collect()
    assert sum(r["rows"] for r in rows) == len(keys)
    assert all(r["min_key"] is None and r["max_key"] is None for r in rows)


def test_checkpoint_rerun_replaces_metric_file(spark, tmp_path):
    """A stage rerun under a pinned run_id replaces its metric file
    instead of adding rows; no hidden temporary file is left behind."""
    from sz_spark.lineage import CheckpointManager

    root = str(tmp_path / "ckpt")
    mgr = CheckpointManager(spark, root, run_id="pinned")
    for n in (300, 200):
        mgr.materialize("s", spark.range(n).selectExpr("id AS did"))
    names = os.listdir(os.path.join(root, "_metrics"))
    assert names == ["part-pinned-s.parquet"]
    assert sum(r["rows"] for r in mgr.metrics().collect()) == 200


@pytest.mark.parametrize("root", ["s3a://bucket/ckpt", "bogus://host/ckpt"])
def test_checkpoint_root_unsupported_scheme(spark, root):
    from sz_spark.lineage import CheckpointManager

    scheme = root.split(":")[0]
    with pytest.raises(ValueError, match=f"'{scheme}'.*local path, file://, hdfs://, s3://, gs://"):
        CheckpointManager(spark, root)


def test_surrogate_collision_guard(spark, monkeypatch):
    """ADVICE r4: a did collision must fail loudly, not corrupt clusters.
    Real xxhash64 collisions are ~2e-9 at 1M docs, so force one by
    patching the surrogate to a constant and assert the guard raises."""
    from pyspark.sql import functions as F

    import sz_spark.pipeline as P
    from sz_spark.transcripts import build_transcripts

    tr = build_transcripts(spark, SF_DIR)
    monkeypatch.setattr(P.F, "xxhash64", lambda *cols: F.lit(7).cast("long"))
    with pytest.raises(RuntimeError, match="collision"):
        P.run_pipeline(spark, tr, P.PipelineConfig())


def test_arrow_transport_parity(spark):
    """The r5 mapInArrow transport (flat-buffer kernels) must produce
    exactly the pandas-UDF twins' outputs: band keys from
    blocking.minhash_bands == make_band_keys_udf, and bounded-lev
    scoring == make_bounded_levenshtein_udf."""
    from pyspark.sql import functions as F

    from sz_spark import blocking, canonicalize as canon, scoring
    from sz_spark.transcripts import build_transcripts
    from sz_spark.udfs import make_band_keys_udf, make_bounded_levenshtein_udf

    docs = canon.canonicalize(build_transcripts(spark, SF_DIR)).limit(200)

    # bands: arrow path (production) vs pandas twin
    got = (
        blocking.minhash_bands(docs, ndim=32, n_bands=8, rows_per_band=4,
                               widths=None, prefix_len=0)
        .orderBy("conv_id", "band_id")
        .toPandas()
    )
    keys = make_band_keys_udf(ndim=32, n_bands=8, rows_per_band=4)
    exp = (
        docs.select(
            "conv_id", keys(F.encode(F.col("doc"), "utf-8")).alias("bk")
        )
        .select("conv_id", F.posexplode("bk").alias("band_id", "band_hash"))
        .orderBy("conv_id", "band_id")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(exp.reset_index(drop=True))

    # scoring: arrow bounded path vs pandas bounded twin
    pairs = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("id_a"), F.col("b.conv_id").alias("id_b")
        )
        .limit(500)
    )
    wt = scoring.attach_texts(pairs, docs)
    tau = 0.3  # low enough that pairs land on both sides of the bound
    got_s = (
        scoring.score_pairs(wt, bounded=tau)
        .select("id_a", "id_b", "edit_distance", F.round("sim", 9).alias("sim"))
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    lev = make_bounded_levenshtein_udf(tau)
    exp_s = (
        wt.withColumn(
            "edit_distance",
            lev(F.encode(F.col("doc_a"), "utf-8"), F.encode(F.col("doc_b"), "utf-8")),
        )
        .withColumn(
            "sim",
            F.round(
                F.lit(1.0)
                - F.col("edit_distance") / F.greatest("len_a", "len_b").cast("double"),
                9,
            ),
        )
        .select("id_a", "id_b", "edit_distance", "sim")
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    # bounded contract: sub-τ pairs come back CLAMPED, and the clamp value
    # depends on chunk composition (both paths chunk independently) — so
    # compare exactly what consumers rely on: identical pair set, and for
    # every pair either both sides agree exactly (kept pairs are exact
    # below the bound) or both sides score it below τ (dropped either way)
    m = got_s.merge(exp_s, on=["id_a", "id_b"], suffixes=("_a", "_p"))
    assert len(m) == len(got_s) == len(exp_s)
    kept = (m.sim_a >= tau) | (m.sim_p >= tau)
    assert (m.loc[kept, "edit_distance_a"] == m.loc[kept, "edit_distance_p"]).all()
    assert (m.loc[kept, "sim_a"] == m.loc[kept, "sim_p"]).all()
    assert ((m.sim_a < tau) == (m.sim_p < tau)).all()
    assert kept.sum() > 0  # the parity check must not be vacuous


def test_prune_first_scored_flow_parity(spark):
    """The production scored flow (attach_prune_attrs -> prunes ->
    attach_texts on survivors) must select exactly the pair set of the
    attach-everything-first flow, and score it identically — the
    restructure only moves WHEN the doc bytes join, never WHAT is
    scored."""
    from pyspark.sql import functions as F

    from sz_spark import canonicalize as canon, scoring
    from sz_spark.queries import _md5_band_pairs
    from sz_spark.transcripts import build_transcripts

    tau = 0.94
    docs = canon.canonicalize(build_transcripts(spark, SF_DIR))
    pairs = _md5_band_pairs(docs)

    # old flow: texts + hists attached up front
    wt_old = scoring.attach_texts(pairs, docs, with_histogram=True)
    pruned_old = scoring.histogram_prune(
        scoring.length_prune(wt_old, tau), tau
    )
    old = (
        scoring.score_pairs(pruned_old, bounded=tau)
        .select("id_a", "id_b", "edit_distance", F.round("sim", 9).alias("sim"))
        .orderBy("id_a", "id_b")
        .toPandas()
    )

    # production flow: prune on (len, hist) only, texts join survivors
    attrs = scoring.attach_prune_attrs(pairs, docs)
    pruned = scoring.histogram_prune(scoring.length_prune(attrs, tau), tau)
    wt_new = scoring.attach_texts(pruned.select("id_a", "id_b"), docs)
    new = (
        scoring.score_pairs(wt_new, bounded=tau)
        .select("id_a", "id_b", "edit_distance", F.round("sim", 9).alias("sim"))
        .orderBy("id_a", "id_b")
        .toPandas()
    )

    assert len(old) > 0  # non-vacuous
    m = old.merge(new, on=["id_a", "id_b"], suffixes=("_o", "_n"))
    assert len(m) == len(old) == len(new)
    # kept pairs (>= tau on either side) must agree exactly; sub-tau
    # pairs may clamp differently (chunk composition) but must agree on
    # which side of tau they land
    kept = (m.sim_o >= tau) | (m.sim_n >= tau)
    assert (m.loc[kept, "edit_distance_o"] == m.loc[kept, "edit_distance_n"]).all()
    assert (m.loc[kept, "sim_o"] == m.loc[kept, "sim_n"]).all()
    assert ((m.sim_o < tau) == (m.sim_n < tau)).all()


def test_prune_pairs_arrow_matches_expression_twin(spark):
    """Fused Arrow prune == histogram_prune(length_prune(...)) on the
    real candidate frame (same comparisons, f64-identical bounds)."""
    import os

    from pyspark.sql import functions as F

    from sz_spark import blocking, canonicalize as canon, scoring
    from sz_spark.transcripts import build_transcripts

    docs = canon.canonicalize(
        build_transcripts(spark, "/root/testdata/sf0.001")
    ).withColumn("did", F.xxhash64("conv_id"))
    bands = blocking.minhash_bands(docs, id_col="did", ndim=96, n_bands=24)
    pairs, _ = blocking.block_pairs(
        bands, id_col="did", max_block_size=64, salt_up_to=1024
    )
    attrs = scoring.attach_prune_attrs(pairs, docs, id_col="did")
    got = sorted(map(tuple, scoring.prune_pairs_arrow(attrs, 0.94).collect()))
    os.environ["SZ_JVM_PRUNE"] = "1"
    try:
        want = sorted(map(tuple, scoring.prune_pairs_arrow(attrs, 0.94).collect()))
    finally:
        del os.environ["SZ_JVM_PRUNE"]
    assert got == want
    assert len(got) > 0


def test_prune_packed_matches_array_path(spark):
    """attach_prune_attrs(packed=True) + prune must make the IDENTICAL
    keep/drop decisions as the array-histogram path on a real candidate
    frame: the u16 packing only clamps bins above 65535, which no
    document here reaches, so the L1 values (and the f64 bound
    comparisons) are the same numbers."""
    from pyspark.sql import functions as F

    from sz_spark import blocking, canonicalize as canon, scoring
    from sz_spark.transcripts import build_transcripts

    docs = canon.canonicalize(
        build_transcripts(spark, SF_DIR)
    ).withColumn("did", F.xxhash64("conv_id"))
    bands = blocking.minhash_bands(docs, id_col="did", ndim=96, n_bands=24)
    pairs, _ = blocking.block_pairs(
        bands, id_col="did", max_block_size=64, salt_up_to=1024
    )
    arr = scoring.attach_prune_attrs(pairs, docs, id_col="did")
    pk = scoring.attach_prune_attrs(pairs, docs, id_col="did", packed=True)
    got_arr = sorted(map(tuple, scoring.prune_pairs_arrow(arr, 0.94).collect()))
    got_pk = sorted(map(tuple, scoring.prune_pairs_arrow(pk, 0.94).collect()))
    assert got_arr == got_pk
    assert len(got_pk) > 0


def _gather_fixture(spark):
    """cfg / docs / materialized feats at SF_DIR — the inputs both
    pairs tiers consume."""
    from pyspark.sql import functions as F

    from sz_spark import blocking, canonicalize as canon
    from sz_spark.pipeline import PipelineConfig
    from sz_spark.transcripts import build_transcripts

    cfg = PipelineConfig()
    docs = canon.canonicalize(
        build_transcripts(spark, SF_DIR)
    ).withColumn("did", F.xxhash64("conv_id"))
    feats = blocking.doc_features(
        docs, id_col="did", ndim=cfg.ndim, widths=cfg.fp_widths,
        seed=cfg.seed, n_bands=cfg.n_bands, rows_per_band=cfg.rows_per_band,
    )
    return cfg, docs, feats.localCheckpoint()


def _join_tier_pairs(bands, docs, feats, threshold, **block_kw):
    """The join tier's pairs stage: dedup, attach (len, hist), prune."""
    from sz_spark import blocking, scoring

    cand, _ = blocking.block_pairs(bands, id_col="did", **block_kw)
    attrs = scoring.attach_prune_attrs(
        cand, docs, id_col="did", attrs_frame=feats.select("did", "len", "hist")
    )
    return scoring.prune_pairs_arrow(attrs, threshold)


def _pair_rows(df):
    return [tuple(r) for r in df.select("id_a", "id_b").collect()]


def _gathered_pairs(spark, feats, threshold, **block_kw):
    """The gather tier's pairs from a feature table, its broadcast
    released once collected."""
    from sz_spark import blocking, scoring

    bc = scoring.build_prune_broadcast(feats)
    try:
        return _pair_rows(
            blocking.block_pairs_gathered(spark, bc, threshold, **block_kw)
        )
    finally:
        bc.unpersist()


def _pairs_dealt(bc_value, n_tasks, threshold, max_block_size, salt_up_to):
    """The gather tier's worker function called directly, with the key
    rows dealt to ``n_tasks`` tasks."""
    from sz_spark import blocking

    drop_above = blocking._drop_above(max_block_size, salt_up_to)
    out = []
    for task in range(n_tasks):
        for a, b in blocking._gathered_task_pairs(
            bc_value, task, n_tasks, drop_above, threshold
        ):
            out.extend(zip(a.tolist(), b.tolist()))
    return out


@pytest.mark.parametrize(
    "max_block_size,salt_up_to,shuffled",
    [(64, 1024, False), (8, 16, False), (4, 0, False), (64, 1024, True)],
)
def test_fused_pairs_match_join_tier(spark, max_block_size, salt_up_to, shuffled):
    """blocking.block_pairs_gathered (blocks rebuilt from the broadcast
    keys, first-kept-block emission + in-pass prune) must keep EXACTLY
    the join tier's pair set — block_pairs' dedup, then
    attach_prune_attrs + prune_pairs_arrow — with no duplicate rows,
    including under a cap that suppresses blocks (a pair whose first
    collision is suppressed must come from its next kept band) and
    under shuffled input order."""
    from pyspark.sql import functions as F

    from sz_spark import blocking

    cfg, docs, feats = _gather_fixture(spark)
    kw = dict(max_block_size=max_block_size, salt_up_to=salt_up_to)
    want = set(_pair_rows(_join_tier_pairs(
        blocking.bands_from_features(feats, id_col="did"),
        docs, feats, cfg.threshold, **kw,
    )))
    if shuffled:
        # every downstream list and broadcast order changes with it
        feats = feats.orderBy(F.rand(7)).localCheckpoint()
    got = _gathered_pairs(spark, feats, cfg.threshold, **kw)
    assert set(got) == want and len(got) == len(want) > 0
    assert all(a < b for a, b in got)
    if salt_up_to == 0:
        bands = blocking.bands_from_features(feats, id_col="did")
        _, sup = blocking.block_pairs(bands, id_col="did", **kw)
        assert sup.count() > 0  # the suppressed-block leg is not vacuous


@pytest.mark.parametrize("max_block_size,salt_up_to", [(64, 1024), (4, 0)])
def test_gathered_pairs_independent_of_task_count(
    spark, max_block_size, salt_up_to
):
    """The key rows dealt to one task, to the session's width, and to
    more tasks than there are key rows give the same pair set, each
    pair once: results must not depend on core count."""
    from sz_spark import scoring

    cfg, _, feats = _gather_fixture(spark)
    kw = dict(max_block_size=max_block_size, salt_up_to=salt_up_to)
    want = sorted(_gathered_pairs(spark, feats, cfg.threshold, **kw))
    assert want
    bc = scoring.build_prune_broadcast(feats)
    try:
        n_rows = len(bc.value[3])
        for n_tasks in (1, n_rows + 3):
            got = _pairs_dealt(bc.value, n_tasks, cfg.threshold, **kw)
            assert sorted(got) == want, n_tasks
    finally:
        bc.unpersist()


def test_fused_pairs_first_collision_in_suppressed_block(spark):
    """Hand-built keys: docs 1-5 share a prefix block of 5 > cap 4
    (suppressed); docs 1,2 also share bands 0 AND 1, docs 3,4 band 1.
    Each pair must leave exactly once, from its first KEPT band."""
    from sz_spark import blocking, scoring

    hist = bytes(192)
    bk = {1: [7, 9], 2: [7, 9], 3: [11, 13], 4: [12, 13], 5: [14, 15]}
    feats = spark.createDataFrame(
        [(d, 10, 100, k, hist) for d, k in bk.items()],
        "did long, len int, pk long, bk array<long>, hist binary",
    )
    bands = blocking.bands_from_features(feats, id_col="did")
    kw = dict(max_block_size=4, salt_up_to=0)
    got = _gathered_pairs(spark, feats, 0.9, **kw)
    want = _pair_rows(_join_tier_pairs(bands, None, feats, 0.9, **kw))
    assert sorted(got) == sorted(want) == [(1, 2), (3, 4)]
    # an empty corpus broadcasts empty tables and emits nothing
    empty = feats.limit(0)
    bc = scoring.build_prune_broadcast(empty)
    assert blocking.block_pairs_gathered(spark, bc, 0.9, **kw).count() == 0
    bc.unpersist()


def test_gathered_pairs_hot_doc_and_stop_band(spark):
    """Hand-built feature table: doc 0 shares a key with other docs in
    EVERY key row (a hot document), and band 2 holds one block larger
    than the cap (a stop-band).  The gather tier must emit exactly the
    join tier's pair set, each pair once."""
    from sz_spark import blocking

    cap = 8
    n = 40
    rows = []
    for d in range(n):
        # prefix: doc 0 with docs 1-3; others alone
        pk = 500 if d < 4 else 1000 + d
        bk = [
            # band 0: doc 0 with 4-6; band 1: doc 0 with 7-9 and also
            # docs 1,2 again (their second collision)
            100 if d == 0 or 4 <= d <= 6 else 2000 + d,
            200 if d in (0, 1, 2, 7, 8, 9) else 3000 + d,
            # band 2: 30 docs incl. doc 0 in one stop-band block
            300 if d < 30 else 4000 + d,
            # band 3: doc 0 with 10-12, 30-33 (a block at the cap)
            400 if d == 0 or 10 <= d <= 12 or 30 <= d <= 33 else 5000 + d,
        ]
        # near-identical lengths and histograms, except doc 5's length,
        # so the prune drops exactly doc 5's pairs
        hist = bytes([d % 3]) + bytes(191)
        rows.append((d + 1, 300 if d == 5 else 100 + d % 2, pk, bk, hist))
    feats = spark.createDataFrame(
        rows, "did long, len int, pk long, bk array<long>, hist binary"
    )
    bands = blocking.bands_from_features(feats, id_col="did")
    kw = dict(max_block_size=cap, salt_up_to=0)
    _, sup = blocking.block_pairs(bands, id_col="did", **kw)
    assert [r["block_size"] for r in sup.collect()] == [30]
    want = _pair_rows(_join_tier_pairs(bands, None, feats, 0.9, **kw))
    got = _gathered_pairs(spark, feats, 0.9, **kw)
    assert len(got) == len(set(got))
    assert sorted(got) == sorted(want)
    hot = [p for p in got if 1 in p]
    # doc 0 (did 1) pairs with 1-3 (prefix), 4-9 but not 5 (bands 0-1),
    # 10-12 and 30-33 (band 3); the stop-band adds nothing
    assert len(hot) == 3 + 5 + 7


def test_gathered_pairs_plan_has_no_exchange(spark):
    """The gather-tier pairs plan is one narrow pass: no Exchange, no
    Window and no aggregate."""
    from sz_spark.pipeline import pairs_stage

    cfg, docs, feats = _gather_fixture(spark)
    pairs, bcs = pairs_stage(docs, feats, cfg)
    assert bcs, "the fixture must take the gather tier"
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    for bc in bcs:
        bc.unpersist()
    for op in ("Exchange", "Window", "Aggregate"):
        assert op not in plan, plan
    assert "MapInArrow" in plan, plan


def test_gather_gate_malformed_env(spark, monkeypatch, caplog):
    """A malformed SZ_GATHER_MAX_DOCS falls back to the default gate
    with one warning naming the variable and the value."""
    import logging

    from sz_spark import scoring

    monkeypatch.delenv("SZ_NO_GATHER", raising=False)
    monkeypatch.setenv("SZ_GATHER_MAX_DOCS", "1e6")
    with caplog.at_level(logging.WARNING, logger="sz_spark.scoring"):
        assert scoring.gather_gate(spark.range(3)) is True
    msgs = [r.getMessage() for r in caplog.records if r.name == "sz_spark.scoring"]
    assert len(msgs) == 1
    assert "SZ_GATHER_MAX_DOCS" in msgs[0] and "1e6" in msgs[0]


def test_prewarm_failure_is_logged(caplog):
    """A failing worker prewarm leaves the session usable but says so."""
    import logging

    from sz_spark import session

    class NoContext:
        @property
        def sparkContext(self):
            raise RuntimeError("no python workers")

    with caplog.at_level(logging.WARNING, logger="sz_spark.session"):
        session._prewarm_python_workers(NoContext())
    msgs = [r.getMessage() for r in caplog.records if r.name == "sz_spark.session"]
    assert len(msgs) == 1 and "no python workers" in msgs[0]


def test_pipeline_gather_tiers_identical(spark):
    """run_pipeline with the gathered tier (default at this corpus
    size) and the join tier (SZ_NO_GATHER=1) must produce identical
    pairs-stage survivors, clusters and kept scored pairs."""
    import os

    from pyspark.sql import functions as F

    from sz_spark.pipeline import PipelineConfig, run_pipeline
    from sz_spark.transcripts import build_transcripts

    cfg = PipelineConfig()
    outs = {}
    saved = os.environ.get("SZ_NO_GATHER")
    try:
        for label, no_gather in (("gather", None), ("join", "1")):
            # each leg sets EXACTLY its own knob: a pre-existing
            # SZ_NO_GATHER=1 in the environment must not silently turn
            # the gather leg into a join-tier run
            os.environ.pop("SZ_NO_GATHER", None)
            if no_gather:
                os.environ["SZ_NO_GATHER"] = no_gather
            tr = build_transcripts(spark, SF_DIR)
            stages = run_pipeline(spark, tr, cfg)
            kept = (
                stages["scored"]
                .filter(F.col("sim") >= cfg.threshold)
                .select("id_a", "id_b", "edit_distance", "sim")
            )
            outs[label] = (
                sorted(map(tuple, kept.collect())),
                sorted(map(tuple, stages["clusters"].collect())),
                sorted(_pair_rows(stages["pairs"])),
            )
    finally:
        os.environ.pop("SZ_NO_GATHER", None)
        if saved is not None:
            os.environ["SZ_NO_GATHER"] = saved
    assert outs["gather"] == outs["join"]
    assert len(outs["gather"][0]) > 0
