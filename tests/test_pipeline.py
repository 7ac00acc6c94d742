"""Phase-5 pipeline operator behavior beyond the oracle gate: ANN recall
against the exact baseline, multimodal stub contracts, LSH sanity."""

from __future__ import annotations

import pytest

from smartbulkcopy_spark.pipeline import multimodal, similarity


def test_ann_bucketed_recall_vs_exact(spark, sf_dir):
    """The bucketed ANN path multiprobes the query's hyperplane bucket
    plus its Hamming-1 neighbors; its results must be a subset of the
    corpus and come only from the probed buckets (zero false positives
    in candidate generation — LSH admits false negatives by design)."""
    from smartbulkcopy_spark.queries import REGISTRY

    exact = {
        r["vec_id"]
        for r in REGISTRY["q30_cosine_topk"].fn(spark, sf_dir).collect()
    }
    approx_rows = similarity.ann_topk_bucketed(spark, sf_dir, 0, 10).collect()
    approx = {r["vec_id"] for r in approx_rows}
    assert 0 not in approx  # query itself excluded
    assert len(approx) <= 10
    # every returned vec is within Hamming distance 1 of the query bucket
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    buckets = emb.select(
        "vec_id",
        F.expr(similarity.bucket_expr("spark")).cast("bigint").alias("b"),
    )
    qb = int(buckets.where(F.col("vec_id") == 0).first()["b"])
    probed = {qb} | {qb ^ (1 << j) for j in range(similarity.N_PLANES)}
    member = {
        r["vec_id"]
        for r in buckets.where(F.col("b").isin(list(probed))).collect()
    }
    assert approx <= member
    # recall isn't guaranteed, but with 64-dim noise embeddings the
    # probed buckets should still surface at least one true neighbor at
    # sf0.001 (empirically stable; seed-fixed fixtures).
    assert exact, "exact baseline empty?"


def test_ivf_search_probes_only_nearest_lists(spark, sf_dir):
    """IVF search returns vectors only from the probed inverted lists and
    ranks them by exact cosine; with all lists probed it must equal the
    exact top-k (sanity that the rerank is the real metric)."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.queries import REGISTRY, table

    res = similarity.ivf_search(spark, sf_dir, 0, 10, n_probe=2).collect()
    assert 0 < len(res) <= 10
    assert all(r["vec_id"] != 0 for r in res)
    # probed-list discipline: every hit assigned to one of the 2 lists
    cents = similarity._centroids(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    assigned = {
        r["vec_id"]: r["cid"]
        for r in emb.select(
            "vec_id", similarity._assign_expr(cents).alias("cid")
        ).collect()
    }
    hit_lists = {assigned[r["vec_id"]] for r in res}
    assert len(hit_lists) <= 2

    # full probe == exact brute force
    full = similarity.ivf_search(
        spark, sf_dir, 0, 10, n_probe=similarity.N_CENTROIDS
    ).collect()
    exact = REGISTRY["q30_cosine_topk"].fn(spark, sf_dir).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]


def test_decode_accepts_custom_codec(spark):
    """The codec parameter is the real-decoder plug point: a swapped-in
    codec flows through the same Arrow plumbing unchanged."""
    df = spark.createDataFrame(
        [(1, b"xyz")], "doc_id bigint, blob binary"
    )

    def codec(blob):
        return 2, 2, 1, bytes([len(blob)] * 4)

    row = multimodal.decode_image(df, "doc_id", "blob", codec=codec).first()
    assert (row["height"], row["width"], row["channels"]) == (2, 2, 1)
    assert bytes(row["pixels"]) == bytes([3, 3, 3, 3])


def test_resize_invariants(spark):
    """Nearest-neighbor resize: fixed output shape, identity when sizes
    match, corner pixels map to source corners."""
    import numpy as np

    src = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    df = spark.createDataFrame(
        [(1, 4, 6, 3, src.tobytes())],
        multimodal.DECODE_SCHEMA,
    )
    out = multimodal.resize_image(df, 2, 2).first()
    a = np.frombuffer(bytes(out["pixels"]), dtype=np.uint8).reshape(2, 2, 3)
    assert (a[0, 0] == src[0, 0]).all()  # top-left corner preserved
    assert (a[1, 1] == src[2, 3]).all()  # (1*4)//2=2, (1*6)//2=3
    same = multimodal.resize_image(df, 4, 6).first()
    assert bytes(same["pixels"]) == src.tobytes()  # identity resize


def test_audio_frame_sampling(spark):
    """Every-k sampling keeps ceil(n/k) frames, first frame always kept."""
    df = spark.createDataFrame([(1, b"pcm")], "doc_id bigint, blob binary")

    def codec(blob):
        return 5, bytes(range(10))  # 5 int16 frames

    row = multimodal.sample_audio_frames(
        df, "doc_id", "blob", 2, codec=codec
    ).first()
    assert row["n_frames"] == 5
    # frames 0, 2, 4 -> bytes (0,1), (4,5), (8,9)
    assert bytes(row["sampled"]) == bytes([0, 1, 4, 5, 8, 9])


def test_binary_features_roundtrip(spark):
    import hashlib

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, b"hello"), (2, b""), (3, bytes(range(256)))],
        "doc_id bigint, blob binary",
    )
    rows = {
        r["doc_id"]: r
        for r in multimodal.binary_features(df, "doc_id", "blob").collect()
    }
    assert rows[1]["n_bytes"] == 5
    assert rows[2]["n_bytes"] == 0
    assert rows[3]["n_bytes"] == 256
    assert rows[1]["blob_md5"] == hashlib.md5(b"hello").hexdigest()
    assert rows[3]["blob_md5"] == hashlib.md5(bytes(range(256))).hexdigest()


def test_pack_offsets_block_size_invariant(spark, sf_dir):
    """The two-phase cumulative sum must be a pure decomposition: any
    block size (including one so large there is a single block, which
    degenerates to the naive global window) yields identical offsets."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.pipeline.pack import pack_offsets
    from smartbulkcopy_spark.queries import table

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("CAST(length(coalesce(text,'')) % 97 AS BIGINT)").alias(
            "n_tokens"
        ),
    )
    base = {
        r["doc_id"]: (r["global_offset"], r["pack_id"], r["pack_pos"])
        for r in pack_offsets(docs, max_len=128, block=64).collect()
    }
    for block in (7, 10**6):
        alt = {
            r["doc_id"]: (r["global_offset"], r["pack_id"], r["pack_pos"])
            for r in pack_offsets(docs, max_len=128, block=block).collect()
        }
        assert alt == base
    # offsets are the exclusive prefix sum in doc_id order
    rows = sorted(docs.collect(), key=lambda r: r["doc_id"])
    run = 0
    for r in rows:
        assert base[r["doc_id"]][0] == run
        run += r["n_tokens"]


def test_pack_offsets_boundary_flag(spark):
    """spans_boundary is true iff pack_pos + n_tokens overflows max_len;
    oversized docs span, exact fits don't."""
    from smartbulkcopy_spark.pipeline.pack import pack_offsets

    docs = spark.createDataFrame(
        [(0, 6), (1, 4), (2, 25), (3, 10)], "doc_id bigint, n_tokens bigint"
    )
    got = {
        r["doc_id"]: r for r in pack_offsets(docs, max_len=10, block=2).collect()
    }
    assert got[0]["pack_id"] == 0 and not got[0]["spans_boundary"]
    # doc 1 at offset 6, len 4 -> ends exactly at 10: no crossing
    assert got[1]["pack_pos"] == 6 and not got[1]["spans_boundary"]
    # doc 2 at offset 10 -> pack 1 pos 0, len 25 > 10: spans
    assert got[2]["pack_id"] == 1 and got[2]["pack_pos"] == 0
    assert got[2]["spans_boundary"]
    assert got[3]["global_offset"] == 35 and got[3]["pack_id"] == 3


def test_q51_no_corpus_sized_global_window(spark, sf_dir):
    """The corpus-sized shuffle must be keyed by block_id (parallel
    windows); the only SinglePartition exchange feeds the block-TOTALS
    window, which sits downstream of the per-block HashAggregate."""
    import contextlib
    import io

    from smartbulkcopy_spark.queries import REGISTRY

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        REGISTRY["q51_pack_offsets"].fn(spark, sf_dir).explain(mode="formatted")
    plan = buf.getvalue()
    assert "hashpartitioning(block_id" in plan
    assert "partial_sum" in plan  # block totals are map-side combined
    single = [
        ln for ln in plan.splitlines() if "SinglePartition" in ln
    ]
    assert len(single) == 1, single
    assert "BroadcastHashJoin" in plan  # prefix table broadcast back


def test_q53_redaction_is_shuffle_free(spark, sf_dir):
    """The redaction audit must stay a pure row-local projection — no
    Exchange anywhere in the plan, so it pipelines at corpus scale."""
    import contextlib
    import io

    from smartbulkcopy_spark.queries import REGISTRY

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        REGISTRY["q53_blocklist_redaction"].fn(spark, sf_dir).explain(
            mode="formatted"
        )
    assert "Exchange" not in buf.getvalue()


def test_q52_tfidf_rank_contract(spark, sf_dir):
    """At most 3 terms per doc, ranks dense from 1, scores non-increasing
    within a doc, tiebreak by term ascending."""
    from smartbulkcopy_spark.queries import REGISTRY

    rows = REGISTRY["q52_tfidf_top_terms"].fn(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        for a, b in zip(rs, rs[1:]):
            assert (a["score_e4"], b["token"]) >= (b["score_e4"], a["token"])


def test_coverage_counts_localize_missing_side(spark):
    """Reconciliation must attribute mismatches to the correct side."""
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    emb = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 9)], "vec_id bigint"
    )
    row = similarity.coverage_counts(docs, emb).first()
    assert (row["n_matched"], row["n_doc_only"], row["n_vec_only"]) == (
        4,
        2,
        1,
    )


def test_curate_export_roundtrip(spark, sf_dir, tmp_path):
    """The partitioned export must contain exactly the curated docs, be
    prunable by split directory, and report stats equal to q61."""
    from smartbulkcopy_spark.pipeline import curate
    from smartbulkcopy_spark.queries import REGISTRY

    out = str(tmp_path / "curated")
    stats = {
        r["split"]: (r["n_docs"], r["total_tokens"])
        for r in curate.curate(spark, sf_dir, out).collect()
    }
    q61 = {
        r["split"]: (r["n_docs"], r["total_tokens"])
        for r in REGISTRY["q61_curation_stats"].fn(spark, sf_dir).collect()
    }
    assert stats == q61 and stats

    back = spark.read.parquet(out)
    assert back.count() == sum(n for n, _ in stats.values())
    # directory-level split pruning: reading one split touches only it
    import os

    splits = [d for d in os.listdir(out) if d.startswith("split=")]
    assert sorted(splits) == sorted(f"split={s}" for s in stats)
    one = spark.read.parquet(f"{out}/split=train")
    assert one.count() == stats["train"][0]
    # kept ids are a subset of both dedup survivors
    kept_ids = {r["doc_id"] for r in back.select("doc_id").collect()}
    survivors = {
        r["doc_id"]
        for r in REGISTRY["q34_near_dup_dedup"].fn(spark, sf_dir).collect()
    }
    assert kept_ids <= survivors


def test_pack_fill_consistent_with_offsets(spark, sf_dir):
    """Pack rollup must conserve documents and tokens: per-pack counts
    sum to the corpus totals from the per-doc offsets."""
    from smartbulkcopy_spark.queries import REGISTRY

    offs = REGISTRY["q51_pack_offsets"].fn(spark, sf_dir).collect()
    fill = REGISTRY["q62_pack_fill"].fn(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in fill) == len(offs)
    assert sum(r["sum_tokens"] for r in fill) == sum(
        r["n_tokens"] for r in offs
    )
    assert sum(r["n_spanning"] for r in fill) == sum(
        1 for r in offs if r["spans_boundary"]
    )
    # every doc's pack appears in the rollup
    assert {r["pack_id"] for r in offs} == {r["pack_id"] for r in fill}


def test_dedup_clusters_closure_properties(spark, sf_dir):
    """Cluster labels must be a valid connected-component labeling of the
    verified near-dup graph: both ends of every verified pair share one
    label, every label is a member of its own cluster (a real doc_id,
    labeled by itself), and labels are component minima."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.pipeline.dedup import (
        NEAR_DUP_JACCARD_MILLIS,
        jaccard_pairs,
    )
    from smartbulkcopy_spark.queries import REGISTRY

    rep = {
        r["doc_id"]: r["cluster_rep"]
        for r in REGISTRY["q69_dedup_clusters"].fn(spark, sf_dir).collect()
    }
    pairs = [
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(spark, sf_dir)
        .where(F.col("jaccard_millis") >= NEAR_DUP_JACCARD_MILLIS)
        .collect()
    ]
    assert pairs, "fixture must yield verified near-dup pairs"
    members = {x for p in pairs for x in p}
    assert set(rep) == members
    for a, b in pairs:
        assert rep[a] == rep[b], (a, b)
    for doc, label in rep.items():
        assert rep[label] == label  # representative labels itself
        assert label <= doc  # min-id convention


def test_cluster_keep_list_refines_pair_keep_list(spark, sf_dir):
    """q70 must be a refinement of q34: every pair's b_id is a non-min
    component member, so the cluster-correct decision can only drop MORE
    documents than the pair-local one — never keep something q34 drops."""
    from smartbulkcopy_spark.queries import REGISTRY

    pair_keep = {
        r["doc_id"] for r in REGISTRY["q34_near_dup_dedup"].fn(spark, sf_dir).collect()
    }
    cluster_keep = {
        r["doc_id"]
        for r in REGISTRY["q70_cluster_dedup_keep"].fn(spark, sf_dir).collect()
    }
    assert cluster_keep <= pair_keep


def test_dedup_clusters_reliable_checkpoint_matches_local(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The fault-tolerant checkpoint() path (cluster deployments: survives
    executor loss mid-iteration) must produce bit-identical labels to the
    default localCheckpoint() path. The session's checkpoint dir selects
    the path. Both are rounds of the distributed branch, so the fixture
    graph is forced onto it."""
    from smartbulkcopy_spark.pipeline import dedup
    from smartbulkcopy_spark.pipeline.dedup import dedup_clusters

    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)

    assert spark.sparkContext.getCheckpointDir() is None
    local = dedup_clusters(spark, sf_dir).collect()
    assert local, "fixture must yield clusters"
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        assert dedup_clusters(spark, sf_dir).collect() == local
        # the reliable path really ran (it creates the checkpoint base),
        # and every run directory is removed before the call returns
        # (the final labels hop off via localCheckpoint): a long-lived
        # session must not leak one label-table snapshot per call
        assert (tmp_path / "ckpt").exists()
        runs = list((tmp_path / "ckpt").glob("*/cc-*"))
        assert not runs, f"reliable run dirs leaked: {runs}"
    finally:
        # UNSET the session checkpoint dir (no public API): leaving it
        # configured silently flips every later CC call in
        # the shared session onto the checkpoint() path writing into this
        # test's tmp_path — the same shared-session-pollution class as
        # the q27 cache note in CLAUDE.md.
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.empty()
        )
        assert spark.sparkContext.getCheckpointDir() is None


def test_dedup_pair_injection_single_materialization(spark, sf_dir):
    """Injecting one persisted verified-pair set into every consumer must
    (a) leave answers unchanged and (b) actually reuse the cached pairs —
    the consumers' plans read an InMemoryRelation instead of rebuilding
    the LSH+verify pipeline."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.pipeline.curate import curated_docs
    from smartbulkcopy_spark.pipeline.dedup import (
        cluster_keep_docs,
        dedup_clusters,
        verified_pairs,
    )

    spark.catalog.clearCache()  # plan-shape check: no stale caches
    base_labels = dedup_clusters(spark, sf_dir).collect()
    base_curated = sorted(
        r["doc_id"] for r in curated_docs(spark, sf_dir).select("doc_id").collect()
    )

    pairs = verified_pairs(spark, sf_dir).persist()
    try:
        pairs.count()
        cur = curated_docs(spark, sf_dir, pairs=pairs)
        assert "InMemoryTableScan" in cur._jdf.queryExecution().executedPlan().toString()
        assert (
            sorted(r["doc_id"] for r in cur.select("doc_id").collect())
            == base_curated
        )
        labels = dedup_clusters(spark, sf_dir, pairs=pairs)
        got = labels.collect()
        assert got == base_labels
        keep = cluster_keep_docs(
            spark,
            sf_dir,
            labels=spark.createDataFrame(got, ["doc_id", "cluster_rep"]),
        )
        drop_ids = {
            r["doc_id"] for r in got if r["doc_id"] != r["cluster_rep"]
        }
        kept_ids = {r["doc_id"] for r in keep.collect()}
        assert not (kept_ids & drop_ids)
    finally:
        pairs.unpersist()


def test_dedup_report_single_chain_materialization(spark, sf_dir):
    """The composed dedup_report() must (a) answer identically to the four
    registered audit queries and (b) compute the candidates->Jaccard
    verify chain ONCE: every audit plan reads the persisted pair table
    (InMemoryTableScan) and none contains the banding bucket stage
    (collect_list) that a recomputed candidate pipeline would carry."""
    import pandas as pd

    from smartbulkcopy_spark.pipeline.curate import dedup_report
    from smartbulkcopy_spark.queries import REGISTRY, release_caches

    spark.catalog.clearCache()  # plan-shape check: no stale caches
    release_caches()
    expected = {
        "funnel": "q105_curation_funnel",
        "provenance": "q106_dedup_provenance",
        "estimator_quality": "q107_minhash_estimate_quality",
        "threshold_distribution": "q108_jaccard_distribution",
    }
    base = {
        k: REGISTRY[q].fn(spark, sf_dir).toPandas()
        for k, q in expected.items()
    }
    spark.catalog.clearCache()
    release_caches()
    report = dedup_report(spark, sf_dir)
    try:
        assert set(report) == set(expected)

        def node_classes(node, out):
            # real executed tree only: an InMemoryTableScanExec is a LEAF
            # (the cached build plan appears in its toString but not as
            # children), so cached stages are naturally excluded. AQE
            # wrapper nodes hold their plan as a field, not a child.
            name = node.getClass().getSimpleName()
            out.append(name)
            if name == "AdaptiveSparkPlanExec":
                return node_classes(node.inputPlan(), out)
            for i in range(node.children().size()):
                node_classes(node.children().apply(i), out)
            return out

        for k, df in report.items():
            plan = df._jdf.queryExecution().executedPlan()
            classes = node_classes(plan, [])
            assert any(
                c.startswith("InMemoryTableScan") for c in classes
            ), (k, classes)
            # the banding bucket stage (collect_list -> ObjectHashAggregate)
            # must not re-run in ANY audit: the chain is computed once
            assert not any(
                c.startswith("ObjectHashAggregate") for c in classes
            ), (k, classes)
            pd.testing.assert_frame_equal(
                df.toPandas(), base[k], check_dtype=True
            )
    finally:
        release_caches()


def test_release_caches_reclaims_eager_intermediates(spark, sf_dir):
    """Builders that eager()-persist multi-consumer intermediates (q94's
    pair sets, q107's signatures, jaccard_pairs' candidates) must leave
    them reclaimable: release_caches() unpersists every tracked cache so
    a long-lived session doesn't accumulate dead InMemoryRelations (the
    q27 plan-flake class documented in CLAUDE.md)."""
    from smartbulkcopy_spark.queries import REGISTRY, release_caches

    spark.catalog.clearCache()
    release_caches()  # drain anything earlier tests left behind
    jsc = spark.sparkContext._jsc.sc()
    # baseline: earlier tests' localCheckpoint RDDs (untracked by design
    # — they ARE the lineage truncation) may still be registered
    baseline = jsc.getPersistentRDDs().size()
    REGISTRY["q94_ensemble_dedup"].fn(spark, sf_dir).collect()
    assert jsc.getPersistentRDDs().size() > baseline
    assert release_caches() >= 2  # lex + sem at minimum
    # <= not ==: the ContextCleaner may concurrently reap baseline
    # localCheckpoint RDDs whose Python references died
    assert jsc.getPersistentRDDs().size() <= baseline
    assert release_caches() == 0  # idempotent


def test_cc_doubling_fallback_converges_past_budget(
    spark, sf_dir, monkeypatch
):
    """A path graph of diameter far beyond the hash-min budget must still
    converge (pointer-doubling fallback: O(log d) extra rounds) with the
    exact component-minimum labels, and the fallback must agree with the
    pure hash-min result on the real fixture graph. Rounds run only on
    the distributed branch, so every graph here is forced onto it."""
    from smartbulkcopy_spark.pipeline import dedup
    from smartbulkcopy_spark.pipeline.dedup import (
        connected_components,
        dedup_clusters,
        verified_pairs,
    )

    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
    base = dedup_clusters(spark, sf_dir).collect()

    # 0-1-2-...-120: diameter 120 >> budget 3. Hash-min alone would need
    # 120 rounds; budget 3 forces the doubling phase almost immediately.
    monkeypatch.setattr(dedup, "MAX_CC_ROUNDS", 3)
    n = 121
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a_id", "b_id"]
    )
    labels = connected_components(spark, path)
    got = {r["node"]: r["lbl"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}

    # Identical labels to pure hash-min on the q69 fixture graph (its
    # diameter is tiny, so budget 0 exercises doubling on real data).
    monkeypatch.setattr(dedup, "MAX_CC_ROUNDS", 0)
    pairs = verified_pairs(spark, sf_dir)
    doubled = connected_components(spark, pairs)
    via_fallback = sorted(
        (r["node"], r["lbl"]) for r in doubled.collect()
    )
    assert via_fallback == sorted(
        (r["doc_id"], r["cluster_rep"]) for r in base
    )


def _cc_set(labels):
    return sorted((r["node"], r["lbl"]) for r in labels.collect())


def test_cc_driver_branch_matches_distributed(spark, sf_dir, monkeypatch):
    """The driver branch (union-find over the collected edges) labels
    every node exactly as the distributed rounds do, and in the edge
    columns' own type: on the q69 fixture graph, and on a synthetic
    graph with negative INT ids and one isolated edge."""
    from pyspark.sql.types import IntegerType

    from smartbulkcopy_spark.pipeline import dedup
    from smartbulkcopy_spark.pipeline.dedup import (
        connected_components,
        verified_pairs,
    )

    synthetic = spark.createDataFrame(
        # {-9,-4,0,3,7} via a chain entered from both ends, {-2,5}
        # isolated, {11,12,13} a triangle with a repeated edge
        [(3, 7), (-4, 0), (0, 3), (7, -9), (-2, 5),
         (11, 12), (12, 13), (13, 11), (12, 11)],
        "a_id int, b_id int",
    )
    for pairs in (verified_pairs(spark, sf_dir), synthetic):
        driver = connected_components(spark, pairs)
        with monkeypatch.context() as m:
            m.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
            distributed = connected_components(spark, pairs)
        assert driver.schema == distributed.schema
        got = _cc_set(driver)
        assert got, "graph must not be empty"
        assert got == _cc_set(distributed)
    assert driver.schema["lbl"].dataType == IntegerType()
    assert dict(got) == {
        -9: -9, -4: -9, 0: -9, 3: -9, 7: -9,
        -2: -2, 5: -2, 11: 11, 12: 11, 13: 11,
    }


def test_cc_small_graph_launches_at_most_two_jobs(spark):
    """Load-free pin of the driver branch: a small graph costs at most
    two Spark jobs under the caller's job group (the distributed rounds
    cost 10 in all: per-round checkpoints and convergence counts), and
    the labels come back without another job."""
    from smartbulkcopy_spark.pipeline.dedup import connected_components

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["a_id", "b_id"]
    )
    group = "test-cc-small-graph-jobs"
    sc.setJobGroup(group, "driver-side CC job count")
    try:
        labels = connected_components(spark, pairs)
        got = _cc_set(labels)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    assert len(jobs) <= 2, sorted(jobs)


def test_q80_redaction_eliminates_leakage(spark, sf_dir):
    """The redacted corpus must contain ZERO eval 5-grams (the whole point
    of the operator), documents without hits must pass through unchanged,
    and every flagged q68 doc must have had tokens removed."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.pipeline.text import (
        DECON_EVAL_SOURCE,
        DECON_N,
        DECON_SENTINEL,
        norm_text,
    )
    from smartbulkcopy_spark.queries import REGISTRY, table

    red = REGISTRY["q80_decontaminated_redact"].fn(spark, sf_dir).collect()
    flagged = {
        r["doc_id"]
        for r in REGISTRY["q68_eval_decontamination"].fn(spark, sf_dir).collect()
    }
    assert flagged, "fixture must contain leaked documents"
    touched = {r["doc_id"] for r in red if r["n_tokens_removed"] > 0}
    assert touched == flagged

    # unhit docs: normalized text unchanged
    norm = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .where(F.col("source") != DECON_EVAL_SOURCE)
        .select("doc_id", F.trim(norm_text()).alias("n"))
        .collect()
    }
    for r in red:
        if r["n_tokens_removed"] == 0:
            assert r["redacted_text"] == norm[r["doc_id"]]
        else:
            assert DECON_SENTINEL in r["redacted_text"]
            assert r["n_spans"] >= 1

    # residual audit: re-gram the redacted corpus against the eval set
    ev = {
        g
        for r in table(spark, sf_dir, "documents")
        .where(F.col("source") == DECON_EVAL_SOURCE)
        .select(F.trim(norm_text()).alias("n"))
        .collect()
        for t in [r["n"].split(" ")]
        for g in (
            " ".join(t[i : i + DECON_N]) for i in range(len(t) - DECON_N + 1)
        )
    }
    assert ev
    residual = 0
    for r in red:
        t = r["redacted_text"].split(" ")
        for i in range(len(t) - DECON_N + 1):
            if " ".join(t[i : i + DECON_N]) in ev:
                residual += 1
    assert residual == 0


def test_detector_report_single_chain_materialization(spark, sf_dir):
    """The composed detector_report() must (a) answer identically to the
    six registered queries it subsumes (q105-q108 audits + q94 ensemble
    + q115 agreement) and (b) materialize each detector chain ONCE:
    every returned plan reads persisted pair tables (InMemoryTableScan)
    and none re-runs a banding bucket stage (ObjectHashAggregate)."""
    import pandas as pd

    from smartbulkcopy_spark.pipeline.curate import detector_report
    from smartbulkcopy_spark.queries import REGISTRY, release_caches

    spark.catalog.clearCache()
    release_caches()
    expected = {
        "funnel": "q105_curation_funnel",
        "provenance": "q106_dedup_provenance",
        "estimator_quality": "q107_minhash_estimate_quality",
        "threshold_distribution": "q108_jaccard_distribution",
        "ensemble": "q94_ensemble_dedup",
        "agreement": "q115_detector_agreement",
    }
    base = {}
    for k, q in expected.items():
        base[k] = REGISTRY[q].fn(spark, sf_dir).toPandas()
        release_caches()  # q94/q115 eager their own chains
    spark.catalog.clearCache()
    release_caches()
    report = detector_report(spark, sf_dir)
    try:
        assert set(report) == set(expected)

        def node_classes(node, out):
            name = node.getClass().getSimpleName()
            out.append(name)
            if name == "AdaptiveSparkPlanExec":
                return node_classes(node.inputPlan(), out)
            for i in range(node.children().size()):
                node_classes(node.children().apply(i), out)
            return out

        for k, df in report.items():
            plan = df._jdf.queryExecution().executedPlan()
            classes = node_classes(plan, [])
            assert any(
                c.startswith("InMemoryTableScan") for c in classes
            ), (k, classes)
            assert not any(
                c.startswith("ObjectHashAggregate") for c in classes
            ), (k, classes)
            pd.testing.assert_frame_equal(
                df.toPandas(), base[k], check_dtype=True
            )
    finally:
        release_caches()
