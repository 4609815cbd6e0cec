"""Round-15 additions: the k≠8 second-Lloyd-chain oracle branches
exercised end-to-end (r14 ADVICE item 3 — the ``cb``/``ib`` prefixed
chains only activate above 2048 vectors and no prior gate reached
them), plus the sampled-trainer gates added later this round."""

from __future__ import annotations

import os
import sys

import duckdb

from test_round14_ops import _clustered_fixture

sys.path.insert(0, "/root/repo/tools")


# ------------------------------------------- cb chain (dispatched rung, k != 8)


def test_dispatched_oracle_cb_chain_at_k9(spark, tmp_path):
    """r14 ADVICE item 3, apply-full side: a 2304-vector clustered
    fixture derives `_centroid_k_for` = 9 ≠ 8, so `_sem_dispatch_ctes`
    must emit the ``cb``-prefixed SECOND unrolled-Lloyd chain (the k=8
    chooser chain is no longer reusable as the centroid leg), and the
    composed three-rung manifest must still value-match the dispatched
    DuckDB oracle through that chain. Before this gate the cb branch
    composed but was never executed by any committed test."""
    from check_correctness import run_corpus

    from heroku_kafka_connect_spark.operators.llm import (
        _blocking_choice_for,
        _centroid_k_for,
        _sem_dispatch_ctes,
    )

    d = _clustered_fixture(tmp_path, n=2304)
    assert _centroid_k_for(2304) == 9
    sql = _sem_dispatch_ctes(d)
    assert "cbc3" in sql and "cba3" in sql  # the second chain is emitted
    n_pass, n_fail, n_rows_only, failures = run_corpus(
        d, ["llm_dedup_apply_full"], spark=spark
    )
    assert failures == [] and n_fail == 0 and n_pass == 1
    # the decision both engines replayed is the centroid branch — the
    # cb chain is the leg that produced the compared rows, not dead SQL
    assert _blocking_choice_for(spark, d)["blocking"] == "centroid"


# ------------------------------------------- ib chain (incremental rung, k != 8)


def test_incremental_oracle_ib_chain_at_k9(spark, tmp_path):
    """r14 ADVICE item 3, incremental side: with an INDEX larger than
    2048 vectors (split = 2176 → k = 9) `_inc_sem_ctes` must emit the
    ``ib``-prefixed indexed-side Lloyd chain, and the engine's
    dispatched delta classifier (`_inc_semantic_best`) must row-match
    the composed SQL — the direct chain-composition twin of the
    probe-3 parity gate. The registered query's split = 400 floors k
    at 8 on every driver fixture, so this is the only executable path
    to the ib branch."""
    from heroku_kafka_connect_spark.operators.llm import (
        _centroid_k_for,
        _inc_sem_ctes,
        _inc_semantic_best,
    )

    d = _clustered_fixture(tmp_path, n=2304)
    split = 2176
    assert _centroid_k_for(split) == 9
    sql = _inc_sem_ctes(d, split)
    assert "ibc3" in sql and "iba3" in sql  # the ib chain is emitted
    df = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
    eng = sorted(
        (r["a"], r["sem_id"], float(r["cos_sim"]))
        for r in _inc_semantic_best(spark, d, df, split).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    duck = sorted(
        (int(a), int(b), float(c))
        for a, b, c in con.execute(
            "WITH " + _inc_sem_ctes(d, split) + " SELECT a, b, cos_sim FROM isem_best"
        ).fetchall()
    )
    assert len(eng) > 0
    assert eng == duck


# ------------------------------------------- sampled k-means trainer (r15 item 1)


def _clustered_range_corpus(spark, n, n_clusters=32, mix=0.55):
    """The r13 shape-sweep 'clustered' constructor (SQL-side md5
    Gaussian-mixture), sized past the sampled-trainer threshold."""
    base = (
        "transform(sequence(0, 63), j -> "
        "cast(conv(substr(md5(concat(cast({i} as string), ':', cast(j as string))), 1, 8), 16, 10) as double)"
        " / 4294967296.0E0 - 0.5E0)"
    )
    center = base.format(i=f"concat('ct:', cast(id % {n_clusters} as string))")
    emb = (
        f"zip_with({center}, {base.format(i='id')}, "
        f"(c, f) -> {mix}E0 * c + {1 - mix}E0 * f)"
    )
    return spark.range(n).selectExpr("id AS vec_id", emb + " AS embedding")


def test_kmeans_sampled_exact_passthrough_and_determinism(spark):
    """k ≤ KMEANS_EXACT_MAX_K must be the EXACT `kmeans_lloyd` path —
    identical centroids, no coarse index — so every committed fixture
    plan and unrolled-Lloyd oracle is untouched by the r15 trainer
    swap; and the sampled path must be run-to-run deterministic (the
    md5-order idiom, not RNG sampling)."""
    from heroku_kafka_connect_spark import llmops

    corpus = _clustered_range_corpus(spark, 2048).localCheckpoint(eager=True)
    cs, coarse = llmops.kmeans_sampled(corpus, k=8, iters=3)
    _, cl = llmops.kmeans_lloyd(corpus, k=8, iters=3)
    assert coarse is None
    assert sorted((r["cid"], tuple(r["cv"])) for r in cs.collect()) == sorted(
        (r["cid"], tuple(r["cv"])) for r in cl.collect()
    )

    big = _clustered_range_corpus(spark, 10240).localCheckpoint(eager=True)
    c1, ix1 = llmops.kmeans_sampled(big, k=40, iters=2)
    c2, ix2 = llmops.kmeans_sampled(big, k=40, iters=2)
    assert ix1 is not None and c1.count() == 40
    assert sorted((r["cid"], tuple(r["cv"])) for r in c1.collect()) == sorted(
        (r["cid"], tuple(r["cv"])) for r in c2.collect()
    )
    # every fine centroid lives in exactly one coarse cell
    cells = ix1[1]
    assert cells.count() == 40 and cells.select("cid").distinct().count() == 40


def test_sampled_trainer_holds_dedup_grade_recall_floor(spark):
    """THE r15 acceptance gate (verdict item 1): on the clustered
    shape-sweep corpus sized past the exact-trainer threshold
    (n = 8448 → k = 34, sampled path), md5-sample-trained centroids
    with the ⌈√k⌉-cell coarse-accelerated 2-probe rank must hold the
    dedup-grade recall floor (≥ 0.87) that the exact trainer held —
    i.e. the α-1.88 fix does not buy its linearity with recall."""
    from scaling_curves import centroid_recall_point

    from heroku_kafka_connect_spark import llmops

    p = centroid_recall_point(spark, 8448, shape="clustered")
    assert p["trainer"] == "sampled"
    assert p["k"] > llmops.KMEANS_EXACT_MAX_K
    assert p["chooser_blocking"] == "centroid"
    assert p["recall_centroid_probe2_dedup_grade"] >= 0.87


# ------------------------------------------- incremental curation entry (r15 item 2)


def test_curation_incremental_schema_unions_with_snapshot_manifest(spark, sf_dir):
    """The delta manifest must be UNION-COMPATIBLE with the one-shot
    showcase's (same columns, same dtypes) — the property that lets a
    daily batch append manifest rows to a snapshot's — and its
    verdict columns must be internally consistent."""
    from heroku_kafka_connect_spark.operators.llm import (
        llm_curation_incremental,
        llm_curation_pipeline,
        llm_dedup_incremental_semantic,
    )

    inc = llm_curation_incremental(spark, sf_dir)
    full = llm_curation_pipeline(spark, sf_dir)
    assert inc.schema == full.schema

    rows = inc.collect()
    docs = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    batch_ids = {
        i for i, r in docs.items() if i >= 400 and r["source"] != "src1"
    }
    assert {r["doc_id"] for r in rows} == batch_ids
    tiers = {
        r["doc_id"]: r["status"]
        for r in llm_dedup_incremental_semantic(spark, sf_dir).collect()
    }
    for r in rows:
        assert r["dedup_reason"] in ("exact", "near", "semantic", "unique")
        want = tiers[r["doc_id"]]
        assert r["dedup_reason"] == ("unique" if want == "new" else want)
        assert r["dedup_keep"] == (r["dedup_reason"] == "unique")
        assert r["final_keep"] == (
            r["dedup_keep"]
            and r["quality_keep"]
            and r["contam_keep"]
            and r["near_contam_keep"]
        )
        assert (r["pack_id"] is not None) == bool(r["final_keep"])
    # at least one batch doc must actually match the index (the
    # fixture plants cross-split dups), else the tier columns are
    # vacuous
    assert any(not r["dedup_keep"] for r in rows)
    assert any(r["final_keep"] for r in rows)


# ------------------------------------------- dispatched-branch plan divergence


def test_dispatched_legs_produce_different_physical_plans(spark, tmp_path, monkeypatch):
    """r14 verdict item 7: the two legs of `_sem_pairs_dispatched_for`
    must be distinguishable in the PHYSICAL plan — a silent chooser
    regression that routed both corpus shapes down one leg would
    otherwise pass every value gate on fixtures where both legs find
    the same pairs. LSH leg: the per-table signature explode
    (Generate). Centroid leg: the top-probe rank window over the
    broadcast centroid cross join, no signature explode. The pair
    memos eagerly localCheckpoint (which collapses any plan to Scan
    ExistingRDD), so checkpointing is stubbed out and the memos are
    cleared around the capture — THROUGH the dispatcher, not by
    calling the leg builders directly, so a mis-route cannot hide."""
    from heroku_kafka_connect_spark.operators import llm as L
    from heroku_kafka_connect_spark.session import load_tables

    lsh_dir = "/root/testdata/sf0.001"  # md5-uniform -> chooser says lsh
    cen_dir = _clustered_fixture(tmp_path, n=800)  # macro-clustered -> centroid
    assert L._blocking_choice_for(spark, lsh_dir)["blocking"] == "lsh"
    assert L._blocking_choice_for(spark, cen_dir)["blocking"] == "centroid"

    # patch the CONCRETE runtime class: Spark 4's classic DataFrame
    # subclasses pyspark.sql.DataFrame and overrides localCheckpoint,
    # so patching the base class silently misses (measured: the plan
    # still came back as Scan ExistingRDD)
    concrete = type(load_tables(spark, lsh_dir).embeddings)
    monkeypatch.setattr(
        concrete, "localCheckpoint", lambda self, eager=True: self
    )
    for memo in (L._SEM_PAIRS_MEMO, L._CENTROID2_PAIRS_MEMO):
        memo.clear()
    try:

        def pplan(d):
            from heroku_kafka_connect_spark.session import load_tables

            df = L._sem_pairs_dispatched_for(
                spark, d, load_tables(spark, d).embeddings
            )
            return df._jdf.queryExecution().executedPlan().toString()

        p_lsh, p_cen = pplan(lsh_dir), pplan(cen_dir)
    finally:
        # the memos now hold UNcheckpointed frames — evict so later
        # consumers rebuild with the real eager checkpoint
        for memo in (L._SEM_PAIRS_MEMO, L._CENTROID2_PAIRS_MEMO):
            memo.clear()
    assert "Generate explode" in p_lsh  # signature-table explode = LSH leg
    assert "Generate explode" not in p_cen
    assert "row_number" in p_cen  # top-probe centroid rank = centroid leg


# ------------------------------------------- 256x octave + trainer-alpha artifact


def test_sampled_trainer_artifact_octave_facts():
    """The r15 sweep facts the SCALE.md narrative states, pinned
    (verdict items 1 + 5): the 16x-256x clustered points now run the
    SAMPLED trainer; its train wall scales ~linearly on the last
    octave (alpha ~1.0 vs the filed exact-trainer 1.88 — 227 s at 64x
    then became 22.9 s); the k-conditional probe rule survived the
    trainer swap (probe-2 holds >= 0.87 at k=503, crosses below at
    k=1003 where probe-3 restores >= 0.92); and at 256x (k=2003)
    probe-3 still holds the dedup-grade floor — at 0.875, close
    enough to 0.87 that the NEXT octave is the probe-4 watchpoint."""
    import json
    import math

    with open(os.path.join(os.path.dirname(__file__), "..", "SCALING_CURVES.json")) as f:
        art = json.load(f)
    pts = {
        p["scale"]: p
        for p in art["sweeps"]["emb_shape_clustered"]["centroid_recall"]
    }
    for s in (16, 64, 128, 256):
        assert pts[s]["trainer"] == "sampled"
        assert pts[s]["k_coarse"] >= 2
    a, b = pts[128], pts[256]
    train_alpha = math.log(b["train_wall_sec"] / a["train_wall_sec"]) / math.log(
        b["n_corpus"] / a["n_corpus"]
    )
    assert train_alpha < 1.15  # the quadratic is gone (exact was 1.88)
    assert b["train_wall_sec"] < 120  # exact extrapolates to ~2000 s here
    # probe rule unchanged under the sampled trainer
    assert pts[64]["recall_centroid_probe2_dedup_grade"] >= 0.87
    assert pts[128]["recall_centroid_probe2_dedup_grade"] < 0.87
    assert pts[128]["recall_centroid_probe3_dedup_grade"] >= 0.92
    # the 256x answer: probe-3 holds dedup grade, margin ~0
    assert pts[256]["recall_centroid_probe3_dedup_grade"] >= 0.87
    assert pts[256]["chooser_blocking"] == "centroid"
    # the 512x answer (optimization round, Arrow-kernel-affordable):
    # probe-3 crosses below the floor at k = 4003 and probe-4 restores
    # it at a constant-factor (<2x) mass price — the facts behind
    # `_centroid_probe_for`'s third rung
    p512 = pts[512]
    assert p512["trainer"] == "sampled" and p512["k"] == 4003
    assert p512["recall_centroid_probe3_dedup_grade"] < 0.87
    assert p512["recall_centroid_probe4_dedup_grade"] >= 0.87
    assert (
        p512["candidate_mass_probe4"] / p512["candidate_mass_probe3"] <= 2.0
    )
    assert p512["chooser_blocking"] == "centroid"


# ------------------------------------------- Arrow rank kernel (optimization round)


def test_coarse_rank_arrow_kernel_matches_expression_backend(spark):
    """r15 optimization round: `coarse_rank_centroids` dispatches to
    the Arrow tile kernel (`coarse_rank_centroids_arrow`, NumPy
    matmuls per Arrow batch) by default — SCALE.md's "assignment
    kernel must be a batched matrix product" item. Contract parity is
    pinned ROW-IDENTICAL against the retained expression backend
    (SPARK_GRAFT_RANK_BACKEND=expr) on the clustered corpus at a
    sampled-branch k, same centroids under both backends: same
    (id, cid, rn) rows, same schema, for both the dedup probe depth
    (2) and the sweep depth (3)."""
    import os

    from pyspark.sql import functions as F

    from heroku_kafka_connect_spark import llmops

    big = _clustered_range_corpus(spark, 10240).localCheckpoint(eager=True)
    os.environ["SPARK_GRAFT_RANK_BACKEND"] = "expr"
    try:
        cents, coarse = llmops.kmeans_sampled(big, k=40, iters=2)
        cents = cents.localCheckpoint(eager=True)
        coarse = (
            coarse[0].localCheckpoint(eager=True),
            coarse[1].localCheckpoint(eager=True),
        )
        v = big.select(
            F.col("vec_id").alias("__id"),
            F.col("embedding").cast("array<double>").alias("__v"),
        )
        for probe in (2, 3):
            os.environ["SPARK_GRAFT_RANK_BACKEND"] = "expr"
            ref = llmops.coarse_rank_centroids(v, cents, coarse, probe)
            os.environ["SPARK_GRAFT_RANK_BACKEND"] = "arrow"
            ker = llmops.coarse_rank_centroids(v, cents, coarse, probe)
            # names + types must agree; NULLABILITY flags may not (the
            # expression path derives them from join/window lineage,
            # mapInArrow from the declared schema) — an internal
            # relation's consumers (posexplode, joins, selects) are
            # indifferent to them
            assert ker.schema.simpleString() == ref.schema.simpleString()
            ref_rows = sorted(
                (r["__id"], r["cid"], r["__rn"]) for r in ref.collect()
            )
            ker_rows = sorted(
                (r["__id"], r["cid"], r["__rn"]) for r in ker.collect()
            )
            assert len(ref_rows) > 0
            assert ker_rows == ref_rows
    finally:
        os.environ.pop("SPARK_GRAFT_RANK_BACKEND", None)
