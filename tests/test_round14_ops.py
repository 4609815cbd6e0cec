"""Round-14 additions: the blocking chooser DISPATCHED into the
semantic rung of the three-rung manifest (r13 verdict item 1), the
chooser/monitor silhouette NaN guard (r13 ADVICE item 3), and
SEM_THRESHOLD single-sourcing for the LSH-leg oracle CTEs (r13
ADVICE item 2)."""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from heroku_kafka_connect_spark.session import TABLES

SF001 = "/root/testdata/sf0.001"

sys.path.insert(0, "/root/repo/tools")


def _h(s: str) -> float:
    """md5-derived double in [-0.5, 0.5) — the same hash→unit-interval
    construction as the r13 shape sweep's corpora, in plain Python so
    the fixture is built without a Spark job."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 4294967296.0 - 0.5


def _clustered_fixture(tmp_path, n=800, n_clusters=32, mix=0.55) -> str:
    """A macro-clustered corpus written as a DRIVER-SHAPED fixture dir:
    Gaussian-mixture-style embeddings (the r13 shape frontier's
    'clustered' regime, float32 like the real fixtures), documents with
    pairwise-disjoint md5 token streams (the lexical rungs find
    nothing, isolating the semantic rung), and every other table
    symlinked from sf0.001 so load_tables/duck_con see a full dir."""
    emb = []
    for i in range(n):
        c = [_h(f"ct:{i % n_clusters}:{j}") for j in range(64)]
        f = [_h(f"{i}:{j}") for j in range(64)]
        emb.append([mix * x + (1 - mix) * y for x, y in zip(c, f)])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(n)), pa.int64()),
                "embedding": pa.array(emb, pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        os.path.join(tmp_path, "embeddings.parquet"),
    )
    texts = [
        " ".join(
            hashlib.md5(f"{i}:{t}".encode()).hexdigest() for t in range(12)
        )
        for i in range(n)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(n)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array([f"src{i % 4 + 2}" for i in range(n)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(tmp_path, "documents.parquet"),
    )
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            os.symlink(f"{SF001}/{t}.parquet", f"{tmp_path}/{t}.parquet")
    return str(tmp_path)


# ------------------------------------------------ dispatched semantic rung


def test_apply_full_dispatches_centroid_on_clustered(spark, tmp_path):
    """END-TO-END gate for the dispatched semantic rung's CENTROID leg
    (the leg the md5-uniform driver fixtures can never exercise): on a
    macro-clustered corpus the chooser must route the three-rung
    manifest's semantic rung to 2-probe centroid blocking, the engine
    manifest must value-match the dispatched DuckDB oracle (which
    replays the SAME decision in SQL), and the rung must actually
    remove semantic dups."""
    from check_correctness import run_corpus

    from heroku_kafka_connect_spark.operators.llm import (
        _blocking_choice_for,
        llm_dedup_apply_full,
    )

    d = _clustered_fixture(tmp_path)
    # the full COMPOSED pipeline on the clustered shape: three-rung
    # manifest, curation DAG, dataset card — each value-diffed against
    # its dispatched oracle (which must take the centroid branch here)
    n_pass, n_fail, n_rows_only, failures = run_corpus(
        d,
        ["llm_dedup_apply_full", "llm_curation_pipeline", "llm_dataset_card"],
        spark=spark,
    )
    assert failures == [] and n_fail == 0 and n_pass == 3
    from heroku_kafka_connect_spark.operators.llm import llm_dataset_card

    card = llm_dataset_card(spark, d).select("sem_blocking").distinct().collect()
    assert [r["sem_blocking"] for r in card] == ["centroid"]
    # the engine really took the centroid leg (memoized decision row)
    row = _blocking_choice_for(spark, d)
    assert row["blocking"] == "centroid"
    assert row["mean_silhouette"] >= 0.18 and row["max_share"] <= 0.5
    # and the centroid leg did real work: the 32 macro clusters
    # collapse through the semantic rung (intra-cluster cos ≈ 0.6 at
    # mix 0.55 clears SEM_THRESHOLD), far below one survivor per doc
    reasons = {
        r["reason"]: r["count"]
        for r in llm_dedup_apply_full(spark, d).groupBy("reason").count().collect()
    }
    assert reasons.get("semantic", 0) > 0
    assert reasons.get("exact", 0) == 0 and reasons.get("near", 0) == 0


def test_curation_manifest_surfaces_lsh_decision_on_uniform(spark):
    """On the md5-uniform driver fixture the dispatch must pick the
    LSH leg, and the curation audit manifest must carry that decision
    on every row (r13 verdict item 1: 'the chooser's decision row
    surfaced in the manifest/dataset card')."""
    from heroku_kafka_connect_spark.operators.llm import llm_curation_pipeline

    vals = (
        llm_curation_pipeline(spark, SF001)
        .select("sem_blocking")
        .distinct()
        .collect()
    )
    assert [r["sem_blocking"] for r in vals] == ["lsh"]


def test_dispatch_oracle_carries_both_legs():
    """The dispatched apply-full oracle must contain the chooser's
    decision CTE and BOTH pair legs, gated by the same decision — not
    a hard-coded LSH chain (what r13 shipped) nor a hard-coded
    centroid chain."""
    from heroku_kafka_connect_spark.operators import llm as L

    sql = L._apply_full_oracle(SF001)
    assert "ch_decision" in sql
    assert "lsh_pairs" in sql and "c2pairs" in sql
    assert "(SELECT blocking FROM ch_decision) = 'lsh'" in sql
    assert "(SELECT blocking FROM ch_decision) = 'centroid'" in sql


# ------------------------------------------------ incremental semantic tier


def _inc_fixture(tmp_path, shape, n=420, split=400, n_clusters=32, mix=0.55):
    """n docs/vecs with PLANTED cross-split duplicates for the
    three-tier incremental classifier: doc 400 is an exact copy of
    indexed doc 7; doc 401 is a lexical near-dup of doc 9 (one token
    appended, 3-gram Jaccard 10/11); doc 402 is a SEMANTIC-ONLY dup of
    doc 11 (identical embedding, disjoint md5 token stream — no
    shingle overlap); everything else is unique. ``shape`` controls
    the INDEXED side's embedding space: 'uniform' routes the tier's
    dispatch to LSH, 'clustered' (the r13 Gaussian-mixture
    construction) to 2-probe centroid blocking."""
    texts = [
        " ".join(hashlib.md5(f"i:{i}:{t}".encode()).hexdigest() for t in range(12))
        for i in range(n)
    ]
    texts[400] = texts[7]
    texts[401] = texts[9] + " " + hashlib.md5(b"extra").hexdigest()

    def uni(i):
        return [_h(f"iv:{i}:{j}") for j in range(64)]

    emb = []
    for i in range(n):
        if shape == "clustered" and i < split:
            c = [_h(f"ct:{i % n_clusters}:{j}") for j in range(64)]
            f = uni(i)
            emb.append([mix * x + (1 - mix) * y for x, y in zip(c, f)])
        else:
            emb.append(uni(i))
    emb[402] = emb[11]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(n)), pa.int64()),
                "embedding": pa.array(emb, pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        os.path.join(tmp_path, "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(n)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array([f"src{i % 4 + 2}" for i in range(n)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(tmp_path, "documents.parquet"),
    )
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            os.symlink(f"{SF001}/{t}.parquet", f"{tmp_path}/{t}.parquet")
    return str(tmp_path)


def _classify(spark, d):
    from heroku_kafka_connect_spark.registry import all_queries

    rows = all_queries()["llm_dedup_incremental_semantic"].fn(spark, d).collect()
    return {r["doc_id"]: (r["status"], r["match_id"]) for r in rows}


def test_incremental_three_tier_planted_uniform(spark, tmp_path):
    """Planted exact/near/semantic-only dups classify into their tiers
    on a uniform index (dispatch → LSH leg), the semantic match points
    at the right indexed doc, and the engine value-matches the
    dispatched oracle on the constructed fixture."""
    from check_correctness import run_corpus

    d = _inc_fixture(tmp_path, "uniform")
    n_pass, n_fail, n_rows_only, failures = run_corpus(
        d, ["llm_dedup_incremental_semantic"], spark=spark
    )
    assert failures == [] and n_pass == 1
    got = _classify(spark, d)
    assert got[400] == ("exact", 7)
    assert got[401] == ("near", 9)
    assert got[402] == ("semantic", 11)
    assert sum(1 for s, _ in got.values() if s == "new") >= 10


def test_incremental_three_tier_planted_clustered(spark, tmp_path):
    """Same planted dups on a macro-CLUSTERED index: the tier's chooser
    (which runs on the indexed side only) must route to the centroid
    leg, and the identical-embedding semantic dup must still resolve
    through it — the delta twin of the apply-full centroid gate."""
    from check_correctness import run_corpus

    from heroku_kafka_connect_spark.operators.llm import semantic_blocking_choice
    from heroku_kafka_connect_spark.session import load_tables

    d = _inc_fixture(tmp_path, "clustered")
    t = load_tables(spark, d)
    indexed = t.embeddings.filter("vec_id < 400")
    assert semantic_blocking_choice(indexed).collect()[0]["blocking"] == "centroid"
    n_pass, n_fail, n_rows_only, failures = run_corpus(
        d, ["llm_dedup_incremental_semantic"], spark=spark
    )
    assert failures == [] and n_pass == 1
    got = _classify(spark, d)
    assert got[400] == ("exact", 7)
    assert got[401] == ("near", 9)
    assert got[402] == ("semantic", 11)


# ------------------------------------------------ chooser NaN guard


def test_chooser_zero_distance_corpus_is_not_nan(spark, tmp_path):
    """r13 ADVICE item 3: a corpus of IDENTICAL vectors whose
    components are exact 6-dp dyadics ([0.125]*64: Σv² = 1.0 exactly,
    so dist = 1 − 1/(√1·√1) = 0.0 exactly, surviving the centroid
    round-to-6) makes both top-2 distances exactly zero. Unguarded,
    (b−a)/greatest(a,b) is 0/0 → NaN: Spark casts NaN→0L silently
    while DuckDB errors on CAST(ROUND(NaN) AS BIGINT). The 1e-300
    denominator floor makes both engines emit s_micro = 0 — pinned
    here by running BOTH on the same frame."""
    from heroku_kafka_connect_spark.operators.llm import (
        _blocking_chooser_oracle,
        semantic_blocking_choice,
    )

    n = 64
    vec = [0.125] * 64
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<double>"
    )
    row = semantic_blocking_choice(df).collect()[0]
    assert row["mean_silhouette"] == 0.0  # not NaN
    assert row["max_share"] == 1.0  # single point mass
    assert row["blocking"] == "lsh"  # balance veto

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(n)), pa.int64()),
                "embedding": pa.array([vec] * n, pa.list_(pa.float64())),
            }
        ),
        os.path.join(tmp_path, "embeddings.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )
    duck = con.execute(_blocking_chooser_oracle()).fetchone()
    assert duck == (
        row["n_vecs"],
        row["mean_silhouette"],
        row["max_share"],
        row["blocking"],
    )


# ------------------------------------------------ shape-frontier floor (128x)


def test_clustered_frontier_artifact_floors():
    """The r14 octave extension, pinned (r13 verdict item 7): the
    clustered shape sweep now reaches 128x (256k vectors, k=1003).
    Measured facts the SCALE.md narrative states: the chooser picks
    centroid at EVERY clustered scale; single-probe keeps decaying;
    2-probe crossed below the 0.87 dedup-grade floor at 128x (0.83) —
    and the PROBE-3 point restores ≥ 0.92 at ~2.25x the probe-2
    candidate mass, still growing ~linearly in n while clustered LSH
    mass (the alternative) is 5.7x larger and growing ~n^1.8."""
    import json

    with open(os.path.join(os.path.dirname(__file__), "..", "SCALING_CURVES.json")) as f:
        art = json.load(f)
    pts = sorted(
        art["sweeps"]["emb_shape_clustered"]["centroid_recall"],
        key=lambda p: p["scale"],
    )
    assert pts[-1]["scale"] >= 128
    for p in pts:
        assert p["chooser_blocking"] == "centroid"
    # the r15 trainer re-measure REPLACED the 16x-256x points with the
    # sampled trainer's (SCALE.md r15) — the crossing claims below are
    # pinned at their scales by key, not at pts[-1] (which now grows
    # with each octave extension)
    p128 = next(p for p in pts if p["scale"] == 128)
    assert p128["recall_centroid_probe2_dedup_grade"] < 0.87  # the crossing
    assert p128["recall_centroid_probe3_dedup_grade"] >= 0.92  # the answer
    assert (
        p128["candidate_mass_probe3"] / p128["candidate_mass_probe2"] <= 3.0
    )
    # LSH mass dominates probe-3 mass and the gap widens with scale:
    # 4.3x at 128x (sampled-trainer probe-3 mass runs slightly higher
    # than the r14 exact trainer's, so the old 5x claim moved to the
    # octave above), 8x at 256x
    assert p128["candidate_mass_probe3"] * 4 <= p128["lsh_candidate_mass"]
    # LSH mass on the clustered shape keeps exploding (superlinear):
    # per-octave growth ratio > 2 (linear would be == 2)
    lsh = [p["lsh_candidate_mass"] for p in pts[-2:]]
    assert lsh[1] / lsh[0] > 2.5


def test_centroid_probe_rule_and_probe3_parity(spark, tmp_path):
    """The measured probe ladder become behavior: `_centroid_probe_for`
    switches 2-probe → 3-probe above k = 503 (the octave's measured
    crossing), every fixture gate (k = 8) stays 2-probe, and the
    probe-3 leg's engine/oracle parity is pinned on constructed
    clustered data by forcing probe=3 at small k on BOTH sides."""
    import duckdb

    from heroku_kafka_connect_spark.operators.llm import (
        _centroid2_pair_ctes,
        _centroid2_pairs,
        _centroid_probe_for,
        _kmeans_assign_ctes,
    )

    assert _centroid_probe_for(8) == 2
    assert _centroid_probe_for(503) == 2
    assert _centroid_probe_for(504) == 3
    # r15 512x octave: probe-3 holds through k = 2003 (0.875 at 256x),
    # crosses below the 0.87 floor at k = 4003 (0.838), probe-4
    # restores 0.903 at 1.79x the probe-3 mass
    assert _centroid_probe_for(2003) == 3
    assert _centroid_probe_for(2004) == 4

    n, n_clusters, mix = 400, 32, 0.55
    emb = []
    for i in range(n):
        c = [_h(f"ct:{i % n_clusters}:{j}") for j in range(64)]
        f = [_h(f"{i}:{j}") for j in range(64)]
        emb.append([mix * x + (1 - mix) * y for x, y in zip(c, f)])
    path = os.path.join(tmp_path, "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(n)), pa.int64()),
                "embedding": pa.array(emb, pa.list_(pa.float64())),
            }
        ),
        path,
    )
    df = spark.read.parquet(path)
    eng = sorted(
        (r["a"], r["b"])
        for r in _centroid2_pairs(df, k=8, probe=3).select("a", "b").collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    sql = (
        "WITH "
        + _kmeans_assign_ctes(k=8)
        + ","
        + _centroid2_pair_ctes(probe=3)
        + " SELECT a, b FROM c2pairs"
    )
    duck = sorted((int(a), int(b)) for a, b in con.execute(sql).fetchall())
    assert len(eng) > 0
    assert eng == duck
    # and probe-3 admits a superset of probe-2's candidates
    eng2 = {
        (r["a"], r["b"])
        for r in _centroid2_pairs(df, k=8, probe=2).select("a", "b").collect()
    }
    assert eng2 <= set(eng)


# ------------------------------------------------ constant single-sourcing


def test_lsh_leg_oracle_threshold_derives_from_constant():
    """r13 ADVICE item 2: `_emb_pairs_ctes` must derive its default
    verify threshold from SEM_THRESHOLD (not a hard-coded literal), so
    a constant change cannot desync the llm_dedup_embedding /
    llm_dedup_semantic / llm_dedup_apply_full oracles from the
    engine."""
    import inspect

    from heroku_kafka_connect_spark.operators import llm as L

    assert (
        inspect.signature(L._emb_pairs_ctes).parameters["threshold"].default
        is None
    )
    assert f">= {L.SEM_THRESHOLD}" in L._emb_pairs_ctes()
    # and the dispatched chain inherits it on both legs
    sql = L._sem_dispatch_ctes(SF001)
    assert sql.count(f">= {L.SEM_THRESHOLD}") >= 2
