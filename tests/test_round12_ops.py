"""Round-12 pins: recall-holding LSH geometry (L scales with P),
per-sf_dir lazy oracles (callable oracle specs), and the semantic
family's measured recall floor.

r11 ADVICE items 1+2: the oracle used to hardcode P=5 (false-failing
any sf above 512 vectors) and L stayed 10 while P grew (recall decayed
geometrically with corpus size). Both are structural now: ONE geometry
derivation (`_emb_lsh_geometry_for`, parquet-footer row count) feeds
the Spark pair generator AND the lazily-built DuckDB oracles, and
`_emb_lsh_tables_for` holds L·p^P constant so recall survives scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from heroku_kafka_connect_spark.operators.llm import (
    _emb_lsh_geometry_for,
    _emb_lsh_planes_for,
    _emb_lsh_tables_for,
)
from heroku_kafka_connect_spark.registry import all_queries, resolve_oracle

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
SF1 = "/root/testdata/sf0.1"


def test_emb_lsh_tables_hold_recall():
    """L(P) = ceil(10 · q^(5-P)) with q = 0.7468 — per-plane agreement
    at the DESIGN similarity cos 0.7 — holds L·q^P (expected colliding
    tables per dedup-grade pair, recall ≈ 1-exp(-L·q^P)) constant as P
    grows; cost exponent ρ = log2(1/q) ≈ 0.42. Floors at 10 for
    P <= 5 so oracle-gate geometry is bit-identical to pre-r12."""
    assert _emb_lsh_tables_for(4) == 10
    assert _emb_lsh_tables_for(5) == 10
    assert _emb_lsh_tables_for(7) == 18   # sf0.1
    assert _emb_lsh_tables_for(11) == 58  # the 16x sweep corpus
    # the invariant itself, not just point values: L·q^P within one
    # ceil-step of the anchor product for every P the sweeps reach
    q = 0.7468
    anchor = 10 * q**5
    for planes in range(5, 26):
        tables = _emb_lsh_tables_for(planes)
        prod = tables * q**planes
        assert anchor <= prod < anchor + q**planes, (planes, tables, prod)
    # monotone in P
    last = 0
    for planes in range(1, 25):
        t = _emb_lsh_tables_for(planes)
        assert t >= last
        last = t


def test_emb_geometry_from_parquet_footer():
    """Geometry derives from the embeddings parquet FOOTER row count —
    no Spark job — and matches the documented per-fixture values."""
    assert _emb_lsh_geometry_for(SF001) == (5, 10)
    assert _emb_lsh_geometry_for(SF01) == (5, 10)
    assert _emb_lsh_geometry_for(SF1) == (7, 18)


@pytest.mark.parametrize(
    "name",
    [
        "llm_dedup_embedding",
        "llm_dedup_semantic",
        "llm_dedup_apply_full",
        "llm_curation_pipeline",
        "llm_dataset_card",
    ],
)
def test_semantic_oracles_track_fixture_geometry(name):
    """The five semantic-family oracles are callables resolved per
    sf_dir: at the oracle gates they embed exactly 10 tables × 5
    planes (bit-identical to the pre-r12 static strings); at sf0.1
    they embed the (7, 18) geometry the engine derives — the r11
    false-failure above 512 vectors is structurally gone."""
    import re

    q = all_queries()[name]
    assert callable(q.oracle)
    gate = resolve_oracle(q.oracle, SF01)
    big = resolve_oracle(q.oracle, SF1)
    n_tables = lambda s: len(set(re.findall(r"\bsemb(\d+)\b", s)))  # noqa: E731
    assert n_tables(gate) == 10
    assert n_tables(big) == 18
    # plane count shows as weight terms 1,2,4,8,16[,32,64] per table CTE
    assert "THEN 64 ELSE" not in gate and "THEN 16 ELSE" in gate
    assert "THEN 64 ELSE" in big


def test_oracle_sql_contract_still_strings():
    """Driver contract: oracle_sql() resolves callables to plain SQL
    strings at the driver's gate fixture."""
    from heroku_kafka_connect_spark import registry

    osql = registry.oracle_sql()
    assert all(isinstance(s, str) for s in osql.values())
    assert "sem_pairs" in osql["llm_dedup_embedding"]


def test_semantic_recall_holds_on_fixture(spark):
    """Measured recall of the default (recall-holding) geometry vs the
    exact label-block ground truth at the sf0.01 anchor: 19/26 = 0.73.
    This is the number `_EMB_LSH_MATCH_P` was fitted to; the geometry
    exists to keep it ~constant at every scale (the scaling sweep
    records the recall-vs-n curve in SCALING_CURVES.json)."""
    from pyspark.sql import functions as F

    from heroku_kafka_connect_spark.operators.llm import _embedding_cosine_pairs
    from heroku_kafka_connect_spark.session import load_tables

    t = load_tables(spark, SF01)
    got = {
        (r.a, r.b) for r in _embedding_cosine_pairs(t.embeddings).collect()
    }
    e = t.embeddings.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
    a = e.alias("x").join(e.alias("y"), (F.col("x.label") == F.col("y.label")) & (F.col("x.vec_id") < F.col("y.vec_id")))
    dot = F.aggregate(F.zip_with("x.v", "y.v", lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z)
    nrm = lambda side: F.sqrt(F.aggregate(F.transform(side, lambda z: z * z), F.lit(0.0), lambda acc, z: acc + z))  # noqa: E731
    truth = {
        (r.a, r.b)
        for r in a.select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            (dot / (nrm(F.col("x.v")) * nrm(F.col("y.v")))).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    assert truth, "fixture lost its near-dup pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.7, f"semantic blocking recall {recall:.2f} < 0.7 at the anchor"


def test_bounded_collect_guards_ivf_driver_hops(spark):
    """r11 verdict item 7: the k-bounded driver hops in the IVF path
    now go through bounded_collect — a centroid relation larger than
    its declared bound raises instead of silently materializing on
    the driver."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from heroku_kafka_connect_spark.functions.vectors import ivf_assign

    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(0, 7), d -> cast(id + d AS DOUBLE))").alias(
            "embedding"
        ),
    )
    # a centroid relation that VIOLATES the declared n_centroids bound
    bad_cents = spark.range(9).select(
        F.col("id").cast("int").alias("centroid_id"),
        F.expr("transform(sequence(0, 7), d -> cast(id * d AS DOUBLE))").alias("cv"),
    )
    with _pytest.raises(ValueError, match="bounded-collect"):
        ivf_assign(vecs, n_centroids=4, cents=bad_cents).collect()
    # and the legal path still works
    ok = ivf_assign(vecs, n_centroids=4)
    assert ok.select("centroid_id").distinct().count() <= 4


def test_realistic_vocab_generator_invariants():
    """The open-vocabulary corpus mode (r11 verdict item 1): Zipf head,
    vocabulary that GROWS with the corpus (the property the 24-word
    fixture vocab lacks, whose absence made shingle buckets
    birthday-collide quadratically), a constant planted dup rate, and
    byte-identical fixture-mode output."""
    from collections import Counter

    from heroku_kafka_connect_spark.sources.synthetic import doc_row

    n = 20_000
    rows = [doc_row(i, "realistic") for i in range(n)]
    texts = [r[1] for r in rows]

    # fixture mode is untouched (replayed by the src_python_datasource
    # SQL oracle): pin a row generated before this mode existed
    assert doc_row(7)[1].startswith("batch filter scan batch line table part")

    # planted dup mass: ~10% exact clones + their donors => 15-25% of
    # docs sit in exact-dup clusters, at ANY corpus size
    c = Counter(texts)
    in_clusters = sum(v for v in c.values() if v > 1) / n
    assert 0.13 < in_clusters < 0.27, in_clusters

    # open vocabulary: tens of thousands of types at 20k docs (the
    # fixture mode has 24), with a Zipf head
    words = Counter(w for t in texts for w in t.split())
    assert len(words) > 20_000
    top = words.most_common(2)
    assert top[0][0] == "w1" and top[0][1] > 1.5 * top[1][1]

    # vocabulary grows with the corpus (sublinearly, but strictly)
    small = {w for i in range(2_000) for w in doc_row(i, "realistic")[1].split()}
    assert len(small) < len(words)


def test_hot_bucket_cap_routes_overflow_to_exact_path(spark):
    """r11 verdict item 3 (fast twin of tools/hot_bucket_drill.py):
    an adversarial 10%-boilerplate corpus concentrates one hot LSH
    bucket; the cap must (a) emit NO pairs from it, (b) report it via
    minhash_lsh_overflow, and (c) the exact route must recover every
    excluded member as one dup cluster — capped ≠ lost."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from hot_bucket_drill import adversarial_corpus, overflow_exact_route

    from heroku_kafka_connect_spark import llmops

    docs = adversarial_corpus(spark, 2_000, 0.1).localCheckpoint(eager=True)
    pairs = llmops.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=64)
    hot_pairs = pairs.filter(
        (F.col("a") >= 100_000_000) & (F.col("b") >= 100_000_000)
    ).count()
    assert hot_pairs == 0, "capped bucket leaked pairs"

    over = llmops.minhash_lsh_overflow(docs, max_bucket=64)
    assert over.count() > 0 and over.agg(F.max("n_ids")).first()[0] == 200

    route = overflow_exact_route(docs, max_bucket=64)
    assert route.count() == 200
    assert route.select("canonical_id").distinct().count() == 1


def test_memory_cliff_artifact_brackets_budget():
    """r11 verdict item 4: MEMORY_CLIFF.json must hold a measured
    spill point AND a measured clean point, and the no-spill working
    set must sit inside the unified-memory arithmetic the SCALE.md
    sizing rule is built on — above every spilled heap's execution
    budget (else it would not have spilled) and within the smallest
    clean heap's budget. Budget = 0.6 x (heap - 300 MB reserved)."""
    import json

    with open("/root/repo/MEMORY_CLIFF.json") as f:
        cliff = json.load(f)

    def budget(heap: str) -> float:
        gb = float(heap.rstrip("g"))
        return 0.6 * (gb * 1024**3 - 300 * 1024**2)

    pts = [p for p in cliff["points"] if not p.get("failed")]
    spilled = [p for p in pts if p["disk_spilled_bytes"] or p["memory_spilled_bytes"]]
    clean = [p for p in pts if not (p["disk_spilled_bytes"] or p["memory_spilled_bytes"])]
    assert spilled and clean, "sweep must bracket the cliff from both sides"
    assert cliff["first_spill_heap"] is not None

    working_set = min(p["peak_execution_memory"] for p in clean)
    for p in spilled:
        assert working_set > budget(p["heap"]), (
            f"{p['heap']} spilled but the measured working set fits its budget"
        )
    smallest_clean = min(clean, key=lambda p: budget(p["heap"]))
    assert smallest_clean["peak_execution_memory"] <= budget(smallest_clean["heap"])
    # the cliff is soft: even the most undersized heap completed
    assert all(p["wall_sec"] > 0 for p in spilled)


def test_centroid_k_tracks_corpus():
    """`_centroid_k_for` floors at 8 for every fixture gate (500
    vectors at sf0.001/sf0.01, 2000 at sf0.1 — identical unrolled-
    Lloyd oracle geometry everywhere the driver checks), then scales
    k = ceil(n/256) so expected cluster size — and with it the
    within-cluster verify mass per vector — stays ~constant."""
    from heroku_kafka_connect_spark.operators.llm import _centroid_k_for

    assert _centroid_k_for(500) == 8
    assert _centroid_k_for(2000) == 8
    assert _centroid_k_for(2048) == 8
    assert _centroid_k_for(2049) == 9
    assert _centroid_k_for(32_000) == 125
    assert _centroid_k_for(128_000) == 500
    # linear-mass property: expected cluster size bounded by 256
    for n in (10_000, 100_000, 1_000_000):
        assert n / _centroid_k_for(n) <= 256


def test_centroid_dedup_blocked_pairs_are_exact_within_blocks(spark):
    """`_centroid_pairs` must equal brute-force threshold pairs
    RESTRICTED to same-cluster (blocking loses recall, never
    precision): every emitted pair clears the exact cosine threshold,
    and every same-cid brute-force pair is emitted. Also pins the
    manifest contract of `llm_dedup_semantic_centroid`: one keep=1
    survivor per cluster and cluster_id = min member id."""
    from heroku_kafka_connect_spark import llmops
    from heroku_kafka_connect_spark.operators.llm import (
        _centroid_k_for,
        _centroid_pairs,
        _n_embeddings,
    )
    from heroku_kafka_connect_spark.session import load_tables

    t = load_tables(spark, SF001)
    k = _centroid_k_for(_n_embeddings(SF001))
    got = {
        (r.a, r.b): r.cos_sim for r in _centroid_pairs(t.embeddings, k).collect()
    }

    assign, _ = llmops.kmeans_lloyd(t.embeddings, k=k, iters=3)
    rows = assign.select("__id", "cid", "__v").collect()
    import math

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return round(
            d / (math.sqrt(sum(x * x for x in u)) * math.sqrt(sum(x * x for x in v))),
            4,
        )

    brute = {}
    for i, x in enumerate(rows):
        for y in rows[i + 1 :]:
            if x.cid == y.cid:
                c = cos(x["__v"], y["__v"])
                if c >= 0.35:
                    a, b = sorted((x["__id"], y["__id"]))
                    brute[(a, b)] = c
    assert got == brute

    manifest = all_queries()["llm_dedup_semantic_centroid"].fn(spark, SF001)
    m = manifest.collect()
    by_cluster: dict = {}
    for r in m:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert sum(r.keep for r in members) == 1
        assert cid == min(r.vec_id for r in members)


def test_exact_substr_span_boundaries(spark):
    """Constructed ground truth for `llm_exact_substr_spans`: two docs
    sharing exactly one verbatim 20-token run (doc1 tokens 11-30 ==
    doc2 tokens 11-30) and nothing else 8-gram-long must yield exactly
    one maximal span per direction with exact boundaries; a third doc
    with no 12-token overlap must contribute nothing."""
    from heroku_kafka_connect_spark.operators.llm import _exact_substr_spans

    shared = [f"s{i}" for i in range(20)]
    d1 = " ".join([f"a{i}" for i in range(10)] + shared + [f"z{i}" for i in range(10)])
    d2 = " ".join([f"b{i}" for i in range(10)] + shared + [f"y{i}" for i in range(10)])
    d3 = " ".join(f"c{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    spans = _exact_substr_spans(docs).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s.a, s.b) == (1, 2)
    assert s.span_tokens == 20
    # 1-based token positions: the shared run starts at token 11 in both
    assert s.start_a == 11 and s.start_b == 11


def test_exact_substr_apply_cuts_only_the_b_side(spark):
    """Apply semantics on the same constructed corpus as the span
    test: the shared 20-token run survives in doc 1 (the a-side /
    min-id occurrence) and is cut from doc 2; doc 3 is untouched;
    token counts and the rewritten text are exact."""
    from heroku_kafka_connect_spark.operators.llm import _exact_substr_spans

    shared = [f"s{i}" for i in range(20)]
    d1_toks = [f"a{i}" for i in range(10)] + shared + [f"z{i}" for i in range(10)]
    d2_toks = [f"b{i}" for i in range(10)] + shared + [f"y{i}" for i in range(10)]
    d3_toks = [f"c{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(1, " ".join(d1_toks)), (2, " ".join(d2_toks)), (3, " ".join(d3_toks))],
        ["doc_id", "text"],
    )
    # replicate the apply pipeline on the constructed frame (the
    # registered query is fixture-bound; the cut logic is what's pinned)
    spans = _exact_substr_spans(docs)
    tok = (
        docs.select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok")
        )
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    )
    cov = (
        spans.select(
            F.col("b").alias("doc_id"),
            F.explode(
                F.sequence(F.col("start_b"), F.col("start_b") + F.col("span_tokens") - 1)
            ).alias("pos"),
        )
        .distinct()
        .withColumn("covered", F.lit(1))
    )
    out = {
        r.doc_id: r
        for r in tok.join(cov, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.coalesce(F.sum("covered"), F.lit(0)).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("covered").isNull(), F.struct("pos", "tok"))
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text_clean"),
        )
        .collect()
    }
    assert out[1].n_removed == 0 and out[1].text_clean == " ".join(d1_toks)
    assert out[2].n_removed == 20
    assert out[2].text_clean == " ".join(d2_toks[:10] + d2_toks[30:])
    assert out[3].n_removed == 0 and out[3].text_clean == " ".join(d3_toks)
    assert all(out[i].n_tokens == 40 for i in (1, 2, 3))


def test_scaling_artifact_carries_the_blocking_frontier():
    """SCALING_CURVES.json must keep the measured centroid-vs-LSH
    frontier (SCALE.md round-12 section is built on it): 4 centroid
    points with both probe depths, recall + candidate mass + the
    assignment-cost fields, and the monotone facts the SCALE.md
    narrative states — 1-probe dedup-grade recall decays with scale
    while 2-probe stays strictly above it at ~4x candidate mass."""
    import json
    import os

    with open(os.path.join(os.path.dirname(__file__), "..", "SCALING_CURVES.json")) as f:
        art = json.load(f)
    pts = art["sweeps"]["fixture"]["centroid_recall"]
    assert len(pts) >= 4
    for p in pts:
        for key in (
            "k",
            "recall_centroid_dedup_grade",
            "recall_centroid_probe2_dedup_grade",
            "candidate_mass",
            "candidate_mass_probe2",
            "train_assign_wall_sec",
        ):
            assert key in p, key
        assert (
            p["recall_centroid_probe2_dedup_grade"]
            > p["recall_centroid_dedup_grade"]
        )
        assert 3.0 <= p["candidate_mass_probe2"] / p["candidate_mass"] <= 5.0
    by_scale = sorted(pts, key=lambda p: p["scale"])
    r1 = [p["recall_centroid_dedup_grade"] for p in by_scale]
    assert r1[0] > r1[-1], "1-probe recall must show the measured decay"


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    """rel_pagerank_coparts invariants at sf0.001: rank mass sums to
    1.0 (the symmetric co-purchase graph has no dangling nodes, so no
    mass leaks), every rank is positive and bounded by 1, and rank
    correlates with connectivity at the extremes — the top-ranked
    node's co-occurrence strength beats the bottom-ranked one's."""
    q = all_queries()["rel_pagerank_coparts"].fn(spark, SF001)
    rows = q.collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-6, total
    assert all(0 < r.rank < 1 for r in rows)
    by_rank = sorted(rows, key=lambda r: r.rank)
    assert by_rank[-1].co_w > by_rank[0].co_w
