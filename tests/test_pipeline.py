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

    s = build_session(master="local[8]", app_name="pipe-tests")
    yield s
    s.stop()


def test_f1_gate(spark):
    from sz_spark import canonicalize as canon
    from oracles import evaluate_pairs

    from sz_spark.pipeline import PipelineConfig, run_pipeline
    from sz_spark.transcripts import build_transcripts

    cfg = PipelineConfig()
    transcripts = build_transcripts(spark, SF_DIR, with_entity_id=True)
    stages = run_pipeline(spark, transcripts.drop("entity_id"), cfg)
    docs_ent = canon.canonicalize(transcripts, carry=["entity_id"]).select(
        "conv_id", "entity_id"
    )
    m = evaluate_pairs(stages["scored"], docs_ent, cfg.threshold)
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


def test_clusters_independent_of_input_row_order(spark):
    """The same transcript rows in a seeded shuffled order (and another
    partitioning) give the same clusters and the same kept scored
    pairs."""
    from sz_spark.pipeline import PipelineConfig, run_pipeline
    from sz_spark.transcripts import build_transcripts

    tr = build_transcripts(spark, SF_DIR)
    shuffled = spark.createDataFrame(
        tr.toPandas().sample(frac=1.0, random_state=1234), schema=tr.schema
    )
    outs = []
    for frame in (tr, shuffled):
        stages = run_pipeline(spark, frame, PipelineConfig())
        outs.append(
            tuple(
                stages[name].orderBy(*keys).toPandas().reset_index(drop=True)
                for name, keys in (("clusters", ["conv_id"]), ("scored", ["id_a", "id_b"]))
            )
        )
    for got, want in zip(outs[1], outs[0]):
        assert len(want) > 0
        assert got.equals(want)


def test_canonicalize_orders_turns_by_index_without_lambdas(spark):
    """Turns given out of order, with turn_idx 0-11 (a lexical sort
    would put 10 and 11 before 2), join in turn_idx order; the
    aggregate's plan holds no interpreted lambda."""
    import contextlib
    import io
    import random

    from sz_spark.canonicalize import SEP, canonicalize

    rng = random.Random(7)
    rows = [(f"c{c}", i, f"conv {c} turn {i}") for c in range(3) for i in range(12)]
    rng.shuffle(rows)
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    docs = canonicalize(tr)
    got = {r["conv_id"]: (r["doc"], r["n_turns"]) for r in docs.collect()}
    want = {
        f"c{c}": (SEP.join(f"conv {c} turn {i}" for i in range(12)), 12) for c in range(3)
    }
    assert got == want
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        docs.explain("extended")
    assert "sort_array" in plan.getvalue()
    assert "lambdafunction" not in plan.getvalue(), plan.getvalue()


def test_empty_conversations_cluster_together(spark):
    """Two empty conversations (one empty turn each) next to two
    identical ones: the run completes under ANSI mode (a pair of empty
    docs scores sim 1.0, not 0/0) and each pair forms one cluster."""
    from sz_spark.pipeline import PipelineConfig, run_pipeline

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    tr = spark.createDataFrame(
        [("e1", 0, ""), ("e2", 0, ""), ("d1", 0, text), ("d2", 0, text)],
        "conv_id string, turn_idx int, text string",
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    stages = run_pipeline(spark, tr, PipelineConfig())
    got = {r["conv_id"]: r["cluster_id"] for r in stages["clusters"].collect()}
    assert got == {"e1": "e1", "e2": "e1", "d1": "d1", "d2": "d1"}
    sims = {(r["id_a"], r["id_b"]): r["sim"] for r in stages["scored"].collect()}
    assert sims[("e1", "e2")] == 1.0


def test_block_pairs_fused_equals_salted_join(spark):
    """block_pairs (window cap + in-array pair emission + cross-band
    dedup) == itertools.combinations over every block that survives
    the cap, on the skew fixture (a small block, a 40-member block
    under the cap, one suppressed) plus multi-band overlap for the
    dedup; suppressed_blocks lists exactly the blocks above the cap."""
    import itertools
    from collections import defaultdict

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
    blocks = defaultdict(list)
    for conv_id, band_id, band_hash in rows:
        blocks[band_id, band_hash].append(conv_id)
    cap = 64
    want = {
        pair
        for ids in blocks.values()
        if len(ids) <= cap
        for pair in itertools.combinations(sorted(ids), 2)
    }
    assert len(want) == 40 * 39 // 2 + 5 * 4 // 2  # no huge%d pair
    new = blocking.block_pairs(bands, max_block_size=cap)
    got = [tuple(r) for r in new.select("id_a", "id_b").collect()]
    assert set(got) == want and len(got) == len(want)  # set AND no dups
    sup = blocking.suppressed_blocks(bands, cap)
    assert [tuple(r) for r in sup.collect()] == [
        (b, h, len(ids)) for (b, h), ids in blocks.items() if len(ids) > cap
    ] == [(0, 333, 200)]


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


def test_driver_tier_clustering_runs_one_job(spark):
    """The driver tier of connected_components is one Arrow collect:
    the size gate and the edges come from the same job."""
    from sz_spark.clustering import connected_components

    edges = spark.createDataFrame(
        [(f"a{i}", f"a{i + 1}") for i in range(50)] + [("b", "c"), ("c", "c")],
        "src string, dst string",
    )
    out = []
    assert _jobs_in_group(spark, "cc-driver", lambda: out.append(connected_components(edges))) == 1
    assert len(out[0].collect()) == 53


def test_scored_stage_joins_only_the_texts(spark):
    """conv_id rides through the two text joins: the scored stage's
    executed plan holds exactly those 2 joins, and its rows are keyed
    by conv_id."""
    import re

    from sz_spark.pipeline import pairs_stage, scored_stage

    cfg, docs, feats = _gather_fixture(spark)
    docs = docs.localCheckpoint()  # as the pipeline's stages are
    pairs, bcs = pairs_stage(feats, cfg)
    try:
        scored = scored_stage(pairs.localCheckpoint(), docs, cfg)
        plan = scored._jdf.queryExecution().executedPlan().toString()
        rows = scored.collect()
    finally:
        for bc in bcs:
            bc.unpersist()
    joins = re.findall(r"\b(\w*Join|CartesianProduct)\b", plan)
    assert len(joins) == 2, plan
    assert scored.columns == ["id_a", "id_b", "edit_distance", "sim"]
    conv_ids = {r["conv_id"] for r in docs.select("conv_id").collect()}
    assert rows and all(r["id_a"] in conv_ids and r["id_b"] in conv_ids for r in rows)


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


@pytest.mark.parametrize("tier", ["gather", "join"])
def test_surrogate_collision_guard(spark, monkeypatch, tmp_path, tier):
    """ADVICE r4: a did collision must fail loudly, not corrupt clusters,
    on both pairs tiers, and before the ``pairs`` checkpoint is written
    (a resume would otherwise skip the check).  Real xxhash64 collisions
    are ~2e-9 at 1M docs, so force one by patching the surrogate to a
    constant and assert the guard raises."""
    from pyspark.sql import functions as F

    import sz_spark.pipeline as P
    from sz_spark.transcripts import build_transcripts

    if tier == "join":
        monkeypatch.setenv("SZ_GATHER_MAX_DOCS", "0")
    else:
        monkeypatch.delenv("SZ_GATHER_MAX_DOCS", raising=False)
    ck = str(tmp_path / "ckpt")
    tr = build_transcripts(spark, SF_DIR)
    monkeypatch.setattr(P.F, "xxhash64", lambda *cols: F.lit(7).cast("long"))
    with pytest.raises(RuntimeError, match="collision"):
        P.run_pipeline(spark, tr, P.PipelineConfig(checkpoint_dir=ck))
    assert os.path.exists(os.path.join(ck, "doc_features", "data", "_SUCCESS"))
    assert not os.path.exists(os.path.join(ck, "pairs", "data", "_SUCCESS"))


def test_gather_broadcast_released_when_pairs_fail(spark, monkeypatch):
    """A ``pairs`` stage that fails after the gather tier broadcast its
    keys still unpersists the broadcast: a session that outlives the
    failed run must not keep its executor blocks."""
    from pyspark.broadcast import Broadcast

    import sz_spark.pipeline as P
    from sz_spark import scoring
    from sz_spark.lineage import CheckpointManager
    from sz_spark.transcripts import build_transcripts

    built, released = [], []
    build, materialize, unpersist = (
        scoring.build_prune_broadcast, CheckpointManager.materialize, Broadcast.unpersist
    )

    def spy_build(feats):
        built.append(build(feats))
        return built[-1]

    def failing_materialize(self, stage, df):
        if stage == "pairs":
            raise OSError("pairs write failed")
        return materialize(self, stage, df)

    def spy_unpersist(self, *args, **kwargs):
        released.append(self)
        return unpersist(self, *args, **kwargs)

    monkeypatch.delenv("SZ_GATHER_MAX_DOCS", raising=False)
    monkeypatch.setattr(scoring, "build_prune_broadcast", spy_build)
    monkeypatch.setattr(CheckpointManager, "materialize", failing_materialize)
    monkeypatch.setattr(Broadcast, "unpersist", spy_unpersist)
    with pytest.raises(OSError, match="pairs write failed"):
        P.run_pipeline(spark, build_transcripts(spark, SF_DIR), P.PipelineConfig())
    assert len(built) == 1 and built[0] in released


def test_arrow_transport_parity(spark):
    """Bounded Arrow scoring (score_pairs) == the full-DP reference
    kernels.levenshtein_batch and oracles.normalized_edit_similarity on
    every pair it keeps (sim >= τ), and every pair it drops really scores
    below τ."""
    import oracles
    from pyspark.sql import functions as F

    from sz_spark import canonicalize as canon, kernels as K, scoring
    from sz_spark.transcripts import build_transcripts

    docs = canon.canonicalize(build_transcripts(spark, SF_DIR)).limit(200)
    pairs = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("id_a"), F.col("b.conv_id").alias("id_b")
        )
        .limit(500)
    )
    wt = scoring.attach_texts(pairs, docs).localCheckpoint()
    tau = 0.3  # low enough that pairs land on both sides of the bound
    got = {
        (r["id_a"], r["id_b"]): (r["edit_distance"], r["sim"])
        for r in scoring.score_pairs(wt, bounded=tau).collect()
    }
    ref = wt.select("id_a", "id_b", "doc_a", "doc_b", "len_a", "len_b").collect()
    assert len(got) == len(ref) > 0
    a, b = [r["doc_a"].encode() for r in ref], [r["doc_b"].encode() for r in ref]
    dist = K.levenshtein_batch(a, b)
    sims = oracles.normalized_edit_similarity(a, b)
    n_kept = 0
    for r, d, sim in zip(ref, dist.tolist(), sims.tolist()):
        g_dist, g_sim = got[r["id_a"], r["id_b"]]
        if g_sim >= tau:
            # kept pairs are exact below the bound
            assert (g_dist, g_sim) == (d, sim)
            n_kept += 1
        else:
            # sub-τ pairs may come back clamped; below τ either way
            assert sim < tau
    assert n_kept > 0  # the parity check must not be vacuous


def test_scored_rows_do_not_depend_on_batch_layout(spark):
    """score_pairs gives the same rows whether the pairs share one Arrow
    batch or sit one per batch, and each distance is min(exact, own
    bound + 1), own bound = int((1-τ) * max byte length) + 1: a 100-byte
    pair with 10 substitutions at τ = 0.94 (own bound 7) reads 8 in both
    layouts, not 10 where a 1,000-byte pair shares its batch."""
    import random

    from pyspark.sql import functions as F

    from sz_spark import kernels as K, scoring

    rng = random.Random(7)

    def text(n):
        return "".join(rng.choice("abcdefghij ") for _ in range(n))

    def substitute(s, k):
        chars = list(s)
        for i in rng.sample(range(len(s)), k):
            chars[i] = "Z"
        return "".join(chars)

    short, long_ = text(100), text(1000)
    rows = [("short", "short2", short, substitute(short, 10)),
            ("long", "long2", long_, substitute(long_, 20))]
    for i in range(30):
        s = text(rng.randrange(20, 400))
        rows.append((f"r{i}", f"r{i}b", s, substitute(s, rng.randrange(len(s) // 8 + 1))))
    wt = (
        spark.createDataFrame(rows, "id_a string, id_b string, doc_a string, doc_b string")
        .withColumn("len_a", F.length("doc_a"))
        .withColumn("len_b", F.length("doc_b"))
    )
    tau = 0.94
    keys = ("spark.sql.execution.arrow.maxRecordsPerBatch", "spark.sql.shuffle.partitions")
    saved = [spark.conf.get(k) for k in keys]
    layouts = []
    try:
        # one partition: the default batch holds every pair
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        for per_batch in ("4096", "1"):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", per_batch)
            layouts.append(sorted(map(tuple, scoring.score_pairs(wt, bounded=tau).collect())))
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    assert layouts[0] == layouts[1]
    got = {r[0]: r[4] for r in layouts[0]}
    assert len(got) == len(rows)
    exact = K.levenshtein_batch([r[2].encode() for r in rows], [r[3].encode() for r in rows])
    for r, d in zip(rows, exact.tolist()):
        own_bound = int((1.0 - tau) * max(len(r[2]), len(r[3]))) + 1
        assert got[r[0]] == min(d, own_bound + 1), r[0]
    assert (got["short"], got["long"]) == (8, 20)


def test_prune_first_scored_flow_parity(spark):
    """The production scored flow (doc_features (len, hist) ->
    attach_prune_attrs -> prune_pairs_arrow -> attach_texts on the
    survivors) must select exactly the pair set of the
    attach-everything-first flow pruned by the expression oracles, and
    score it identically — pruning first only moves WHEN the doc bytes
    join, never WHAT is scored."""
    import oracles
    from pyspark.sql import functions as F

    from sz_spark import blocking, canonicalize as canon, scoring
    from sz_spark.queries import _md5_band_pairs
    from sz_spark.transcripts import build_transcripts

    tau = 0.94
    docs = canon.canonicalize(build_transcripts(spark, SF_DIR))
    pairs = _md5_band_pairs(docs)

    def scored(df):
        return (
            scoring.score_pairs(df, bounded=tau)
            .select("id_a", "id_b", "edit_distance", F.round("sim", 9).alias("sim"))
            .orderBy("id_a", "id_b")
            .toPandas()
        )

    # reference flow: texts + driver-side histograms attached up front
    hists = oracles.prune_attrs_frame(spark, docs).select(
        "conv_id", "hist"
    )
    wt_old = (
        scoring.attach_texts(pairs, docs)
        .join(hists.withColumnRenamed("conv_id", "id_a"), "id_a")
        .withColumnRenamed("hist", "hist_a")
        .join(hists.withColumnRenamed("conv_id", "id_b"), "id_b")
        .withColumnRenamed("hist", "hist_b")
    )
    old = scored(oracles.histogram_prune(oracles.length_prune(wt_old, tau), tau))

    # production flow: prune on (len, hist) only, texts join survivors
    feats = blocking.doc_features(docs).select("conv_id", "len", "hist")
    pruned = scoring.prune_pairs_arrow(
        scoring.attach_prune_attrs(pairs, feats), tau
    )
    new = scored(scoring.attach_texts(pruned, docs))

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
    """Fused Arrow prune over doc_features' packed u16 histograms ==
    the expression oracles histogram_prune(length_prune(...)) over
    unclamped driver-side bincounts, on the real candidate frame (same
    comparisons, f64-identical bounds; no bin here reaches the clamp)."""
    import oracles
    from pyspark.sql import functions as F

    from sz_spark import blocking, canonicalize as canon, scoring
    from sz_spark.transcripts import build_transcripts

    docs = canon.canonicalize(
        build_transcripts(spark, "/root/testdata/sf0.001")
    ).withColumn("did", F.xxhash64("conv_id"))
    feats = blocking.doc_features(docs, id_col="did")
    pairs = blocking.block_pairs(
        blocking.bands_from_features(feats, id_col="did"),
        id_col="did", max_block_size=1024,
    )
    attrs = scoring.attach_prune_attrs(pairs, feats.select("did", "len", "hist"))
    got = sorted(map(tuple, scoring.prune_pairs_arrow(attrs, 0.94).collect()))
    ref_attrs = scoring.attach_prune_attrs(
        pairs, oracles.prune_attrs_frame(spark, docs, id_col="did")
    )
    want = sorted(
        map(
            tuple,
            oracles.histogram_prune(oracles.length_prune(ref_attrs, 0.94), 0.94)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    assert got == want
    assert 0 < len(got) < pairs.count()  # the prune drops some, keeps some


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
    feats = blocking.doc_features(docs, id_col="did")
    return cfg, docs, feats.localCheckpoint()


def _join_tier_pairs(bands, docs, feats, threshold, **block_kw):
    """The join tier's pairs stage: dedup, attach (len, hist), prune."""
    from sz_spark import blocking, scoring

    cand = blocking.block_pairs(bands, id_col="did", **block_kw)
    attrs = scoring.attach_prune_attrs(cand, feats.select("did", "len", "hist"))
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


def _pairs_dealt(bc_value, n_tasks, threshold, max_block_size):
    """The gather tier's worker function called directly, with the key
    rows dealt to ``n_tasks`` tasks."""
    from sz_spark import blocking

    out = []
    for task in range(n_tasks):
        for a, b in blocking._gathered_task_pairs(
            bc_value, task, n_tasks, max_block_size, threshold
        ):
            out.extend(zip(a.tolist(), b.tolist()))
    return out


@pytest.mark.parametrize(
    "max_block_size,shuffled",
    [(1024, False), (16, False), (4, False), (1024, True)],
)
def test_fused_pairs_match_join_tier(spark, max_block_size, shuffled):
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
    kw = dict(max_block_size=max_block_size)
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


@pytest.mark.parametrize("max_block_size", [1024, 4])
def test_gathered_pairs_independent_of_task_count(spark, max_block_size):
    """The key rows dealt to one task, to the session's width, and to
    more tasks than there are key rows give the same pair set, each
    pair once: results must not depend on core count."""
    from sz_spark import scoring

    cfg, _, feats = _gather_fixture(spark)
    kw = dict(max_block_size=max_block_size)
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
    kw = dict(max_block_size=4)
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
    join tier's pair set, each pair once, and suppressed_blocks must
    list the stop-band block alone."""
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
    kw = dict(max_block_size=cap)
    sup = blocking.suppressed_blocks(bands, cap)
    assert sup.schema.simpleString() == (
        "struct<band_id:int,band_hash:bigint,block_size:bigint>"
    )
    assert [tuple(r) for r in sup.collect()] == [(2, 300, 30)]
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

    cfg, _, feats = _gather_fixture(spark)
    pairs, bcs = pairs_stage(feats, cfg)
    assert bcs, "the fixture must take the gather tier"
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    for bc in bcs:
        bc.unpersist()
    for op in ("Exchange", "Window", "Aggregate"):
        assert op not in plan, plan
    assert "MapInArrow" in plan, plan


def test_gather_gate_malformed_env(spark, monkeypatch):
    """A malformed SZ_GATHER_MAX_DOCS raises a ValueError naming the
    variable and the value; a well-formed one sets the gate."""
    from sz_spark import scoring

    monkeypatch.setenv("SZ_GATHER_MAX_DOCS", "1e6")
    with pytest.raises(ValueError, match=r"SZ_GATHER_MAX_DOCS.*'1e6'"):
        scoring.gather_gate(spark.range(3))
    monkeypatch.setenv("SZ_GATHER_MAX_DOCS", "2")
    assert scoring.gather_gate(spark.range(3)) is False
    monkeypatch.setenv("SZ_GATHER_MAX_DOCS", "0")
    assert scoring.gather_gate(spark.range(1)) is False


def test_prewarm_failure_raises():
    """A failing worker prewarm fails loudly, not inside the first
    real query (tests/test_session.py launches one for real)."""
    from sz_spark import session

    class NoContext:
        @property
        def sparkContext(self):
            raise RuntimeError("no python workers")

    with pytest.raises(RuntimeError, match="no python workers"):
        session._prewarm_python_workers(NoContext())


def _task_rows(spark, fn, fields, n_tasks=8):
    """Run ``fn(task_index) -> tuple`` once in each of ``n_tasks``
    Python tasks and collect the rows it returns."""
    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(name, typ) for name, typ in fields])

    def run(batches):
        for batch in batches:
            for task in batch.column(0).to_pylist():
                row = fn(task)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([v]) for v in row], schema.names
                )

    df = spark.range(n_tasks, numPartitions=n_tasks).mapInArrow(run, schema)
    return sorted(map(tuple, df.collect()))


def test_add_py_file_after_first_python_job_imports_in_task(spark, tmp_path):
    """Workers skip re-reading UNCHANGED archives on each task, so a
    module and a zip package shipped with addPyFile after the workers
    already ran Python tasks must still import inside a task -- and a
    shipped archive that then changes on disk must be re-read."""
    import zipfile

    from pyspark import SparkFiles
    from pyspark.sql import types as T

    def warm(task):
        from sz_spark import kernels  # noqa: F401

        return (task,)

    assert len(_task_rows(spark, warm, [("t", T.LongType())])) == 8

    mod = tmp_path / "szt_shipped_mod.py"
    mod.write_text("VALUE = 'module'\n")
    pkg = tmp_path / "szt_shipped_pkg.zip"
    with zipfile.ZipFile(pkg, "w") as zf:
        zf.writestr("szt_shipped_pkg/__init__.py", "VALUE = 'package'\n")
    spark.sparkContext.addPyFile(str(mod))
    spark.sparkContext.addPyFile(str(pkg))

    def shipped(task):
        import szt_shipped_mod
        import szt_shipped_pkg

        return (task, szt_shipped_mod.VALUE, szt_shipped_pkg.VALUE)

    rows = _task_rows(
        spark, shipped,
        [("t", T.LongType()), ("mod", T.StringType()), ("pkg", T.StringType())],
    )
    assert rows == [(t, "module", "package") for t in range(8)]

    # the workers' zipimporters over the fetched copy are stamped now;
    # rewrite it with one more module (local mode: the executor's files
    # root is the driver's)
    with zipfile.ZipFile(SparkFiles.get(pkg.name), "w") as zf:
        zf.writestr("szt_shipped_pkg/__init__.py", "VALUE = 'package'\n")
        zf.writestr("szt_shipped_pkg/extra.py", "VALUE = 'extra'\n")

    def changed(task):
        from szt_shipped_pkg import extra

        return (task, extra.VALUE)

    rows = _task_rows(spark, changed, [("t", T.LongType()), ("v", T.StringType())])
    assert rows == [(t, "extra") for t in range(8)]


def test_workers_keep_the_checked_zip_invalidation(spark):
    """A worker that ran an sz_spark task has the checked
    zipimporter.invalidate_caches installed for its later tasks."""
    from pyspark.sql import types as T

    def warm(task):
        from sz_spark import kernels  # noqa: F401

        return (task,)

    def probe(task):
        import sys
        import zipimport

        method = zipimport.zipimporter.invalidate_caches
        return (
            task,
            "sz_spark" in sys.modules,
            bool(getattr(method, "_sz_checked", False)),
        )

    _task_rows(spark, warm, [("t", T.LongType())])
    rows = _task_rows(
        spark, probe,
        [("t", T.LongType()), ("imported", T.BooleanType()),
         ("checked", T.BooleanType())],
    )
    imported = [r for r in rows if r[1]]
    assert imported, "no task ran in a worker that had imported sz_spark"
    assert all(checked for _, _, checked in imported), rows


def test_partition_width_policy(spark):
    """Widths come from the session conf, never from the plan:
    score_pairs round-robins attach_texts' output to min(4 x cores,
    spark.sql.shuffle.partitions), AQE coalescing or not;
    doc_features and shingle_minhash_bands run on their input's
    partitions; dedup_minhash_lsh spreads its documents scan to
    defaultParallelism."""
    import re

    from sz_spark import blocking, scoring
    from sz_spark.queries import dedup_minhash_lsh

    def round_robin(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [int(n) for n in re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)]

    docs = spark.createDataFrame(
        [(i, f"doc {i} says hello to the world") for i in range(6)],
        "conv_id long, doc string",
    )
    pairs = spark.createDataFrame([(0, 1), (2, 3), (4, 5)], "id_a long, id_b long")
    assert spark.sparkContext.defaultParallelism == 8
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for width, coalesce, n in (
            (8, "false", 8), (3, "false", 3), (64, "false", 32), (8, "true", 8),
        ):
            spark.conf.set(keys[0], str(width))
            spark.conf.set(keys[1], coalesce)
            wt = scoring.attach_texts(pairs, docs)
            assert round_robin(scoring.score_pairs(wt, bounded=0.5)) == [n], (
                width, coalesce,
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    assert round_robin(blocking.doc_features(docs)) == []
    assert round_robin(blocking.shingle_minhash_bands(docs)) == []
    assert round_robin(dedup_minhash_lsh(spark, SF_DIR)) == [8]


def test_pipeline_gather_tiers_identical(spark, monkeypatch):
    """run_pipeline with the gathered tier (default at this corpus
    size) and the join tier (SZ_GATHER_MAX_DOCS=0) must produce
    identical pairs-stage survivors, clusters and kept scored pairs."""
    from pyspark.sql import functions as F

    from sz_spark.pipeline import PipelineConfig, run_pipeline
    from sz_spark.transcripts import build_transcripts

    cfg = PipelineConfig()
    outs = {}
    for label, max_docs in (("gather", None), ("join", "0")):
        # each leg sets EXACTLY its own gate: a SZ_GATHER_MAX_DOCS in
        # the environment must not silently turn the gather leg into a
        # join-tier run
        if max_docs is None:
            monkeypatch.delenv("SZ_GATHER_MAX_DOCS", raising=False)
        else:
            monkeypatch.setenv("SZ_GATHER_MAX_DOCS", max_docs)
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
    assert outs["gather"] == outs["join"]
    assert len(outs["gather"][0]) > 0
