"""Round-12 registrations: the star-fallback recall study (q199), the
session-conf hygiene of the CC it rides on, and registration-shape
pins for the shipped staged queue (q192-q198 behavior is covered by the
builder tests in test_round11_ops.py; cross-engine equality by the
driver-mimic/oracle suite)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_star_fallback_recall_is_lossless(spark, sf_dir):
    """The registered form of the round-11 claim: on families straddling
    MINHASH_CLIQUE_CAP (6/14/22/30 members vs cap 16), the clique/star
    candidate graph yields EXACTLY the families the clique-only graph
    does — same family count, every member labeled identically."""
    from smartbulkcopy_spark.pipeline.dedup import (
        STUDY_SEEDS,
        star_fallback_recall,
    )

    row = star_fallback_recall(spark, sf_dir).collect()[0]
    # >= 6 members per family; seeds that are near-dups of EACH OTHER
    # merge identically on both sides, so family count can dip below
    # STUDY_SEEDS but never exceed it and never differ between rules.
    assert row["n_docs"] >= STUDY_SEEDS * 6
    assert row["star_families"] == row["clique_families"]
    assert row["star_families"] <= STUDY_SEEDS
    assert row["agree_docs"] == row["n_docs"]
    assert row["agree_pct"] == 100


def test_star_fallback_study_sizes_straddle_cap(spark, sf_dir):
    """The study is only evidence if the synthetic bands actually
    exercise BOTH branches: at least one family at or under the cap
    (clique path) and at least one over it (star path)."""
    from smartbulkcopy_spark.pipeline.dedup import (
        MINHASH_CLIQUE_CAP,
        STUDY_SEEDS,
        _STUDY_SIZE_SPARK,
    )
    from smartbulkcopy_spark.queries import table

    sizes = [
        r["sz"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(STUDY_SEEDS)
        .select((F.expr(_STUDY_SIZE_SPARK) + 1).alias("sz"))
        .collect()
    ]
    assert any(s <= MINHASH_CLIQUE_CAP for s in sizes)
    assert any(s > MINHASH_CLIQUE_CAP for s in sizes)


_CC_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def test_cc_shuffle_partitions_scoped_and_restored(spark, monkeypatch):
    """connected_components leaves the session's shuffle width and AQE
    flag as it found them on both branches (the distributed one scopes
    its own width for its rounds), and the labels it returns are
    already materialized, so later consumption re-plans nothing.

    The distributed branch is also pinned by its job count, a counter
    load cannot move: 9 jobs on this graph. Deleting the scoping and
    leaving AQE on at session width took it to 13, and an explicit
    repartition before each join/groupBy to 17 (same labels)."""
    from smartbulkcopy_spark.pipeline import dedup
    from smartbulkcopy_spark.pipeline.dedup import connected_components

    sc = spark.sparkContext
    before = [spark.conf.get(k) for k in _CC_CONFS]
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["a_id", "b_id"]
    )
    for limit in (dedup.LOCAL_CC_MAX_EDGES, 0):  # driver, distributed
        monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", limit)
        group = f"test-cc-scoped-jobs-{limit}"
        sc.setJobGroup(group, "CC job count")
        try:
            labels = connected_components(spark, pairs)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert [spark.conf.get(k) for k in _CC_CONFS] == before
        got = {(r["node"], r["lbl"]) for r in labels.collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
        if limit == 0:
            assert len(jobs) <= 9, sorted(jobs)


def test_fused_parity_cc_matches_per_graph_cc(spark, monkeypatch):
    """q199's round-14 fusion invariant: ONE CC over the parity-tagged
    disjoint union (graph-0 nodes 2*id, graph-1 nodes 2*id+1) recovers
    each graph's own component minima exactly via floor(lbl / 2) —
    parity partitions the union, so min(2*id + g) = 2*min(id) + g within
    every component. Negative ids are included: truncating % and DIV
    would misfile an odd negative node and round its label up. Run on
    the distributed branch (q199 itself always takes the driver one,
    which test_cc_driver_branch_matches_distributed pins)."""
    from smartbulkcopy_spark.pipeline import dedup
    from smartbulkcopy_spark.pipeline.dedup import (
        connected_components,
        parity_graph,
    )

    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
    # components {1,2,3}, {10,11}, {-7,-3,4}
    g0 = [(1, 2), (2, 3), (10, 11), (-3, 4), (-7, -3)]
    # components {1,5}, {20,21,22}, {-9,-2}, {-5,6}
    g1 = [(1, 5), (20, 21), (21, 22), (-9, -2), (-5, 6)]
    sep = {}
    for gi, edges in enumerate([g0, g1]):
        pairs = spark.createDataFrame(edges, ["a_id", "b_id"])
        lab = connected_components(spark, pairs)
        sep[gi] = {(r["node"], r["lbl"]) for r in lab.collect()}
    tagged = spark.createDataFrame(
        [(a * 2, b * 2) for a, b in g0]
        + [(a * 2 + 1, b * 2 + 1) for a, b in g1],
        ["a_id", "b_id"],
    )
    lab = connected_components(spark, tagged)
    for gi in (0, 1):
        got = {
            (r["doc_id"], r["l"])
            for r in parity_graph(lab, gi, "l").collect()
        }
        assert got == sep[gi]


def test_cc_shuffle_partitions_restored_on_error(spark, monkeypatch):
    """A bad edge frame fails before either branch touches the session:
    its shuffle width and AQE flag are unchanged afterwards."""
    from smartbulkcopy_spark.pipeline import dedup
    from smartbulkcopy_spark.pipeline.dedup import connected_components

    before = [spark.conf.get(k) for k in _CC_CONFS]
    bad = spark.createDataFrame([(1, 2)], ["a_id", "wrong_name"])
    for limit in (dedup.LOCAL_CC_MAX_EDGES, 0):  # driver, distributed
        monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", limit)
        with pytest.raises(Exception):
            connected_components(spark, bad)
        assert [spark.conf.get(k) for k in _CC_CONFS] == before


def test_round12_registrations_complete():
    """Every round-12 registration (batch >= 120) carries the full
    close-out kit: a REGISTRY entry with an oracle, a QUEUED_SINCE
    batch, and (enforced globally by test_round_closeout_discipline) a
    non-empty doc, a scale_probe entry and a BENCH_DETAIL.json record.
    Pin the exact name set so a silently-dropped registration cannot
    pass."""
    from smartbulkcopy_spark.queries import QUEUED_SINCE, REGISTRY

    new = sorted(n for n, b in QUEUED_SINCE.items() if 120 <= b < 130)
    assert new == [
        "q192_bigram_lm_fit",
        "q193_quality_calibration",
        "q194_soft_dedup_weights",
        "q195_winnow_drop_share",
        "q196_embedding_split_leakage",
        "q197_tree_multiprobe_recall",
        "q198_stream_click_attribution",
        "q199_star_fallback_recall",
    ]
    for n in new:
        assert n in REGISTRY
        # full DuckDB oracle, no rows-only fallback
        assert REGISTRY[n].oracle


# ---------------------------------------------------------------------------
# q112 two-level rule (round 12): signature-group stars + distinct-
# signature rep cliques. The headline is the >cap verbatim family: the
# old member-count skip-cap dropped EVERY bucket of a family past 1024
# copies (and at 100 TB ambient bucket growth in a 16-bit band space
# would eventually skip every bucket, period); the two-level rule keeps
# it connected with one hamming-0 star edge per member while the cap
# keeps killing ambient cross-signature collision mass.
# ---------------------------------------------------------------------------


def _simhash_corpus(tmp_path, n_hot, n_cold):
    import pandas as pd

    x = "the quick brown fox jumps over the lazy dog again and again"
    xp = "again the lazy dog jumps over the quick brown fox and again"
    y = "pack my box with five dozen liquor jugs before the dawn breaks"
    # xp is a token permutation of x's multiset -> IDENTICAL simhash
    # signature, so it lands in x's signature group (hamming 0).
    texts = [x] * n_hot + [xp] + [y] * n_cold + [
        "completely unrelated content block one with many unique grams",
        "another entirely distinct document with its own shingle space",
    ]
    pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    return len(texts)


def test_q112_two_level_rule_survives_overcap_verbatim_family(
    spark, tmp_path
):
    """1030 verbatim copies (plus one token-permuted twin — same
    64-bit signature) exceed MAX_BAND_BUCKET=1024 in every band. Old
    rule: every bucket skipped, family LOST. Two-level rule: the
    signature group emits exactly one hamming-0 star edge per member
    around doc 0; the 3-copy y family stars around its own min; no
    cross-family pairs. Spark and the DuckDB oracle agree
    pair-for-pair."""
    import duckdb

    from smartbulkcopy_spark.pipeline.dedup import MAX_BAND_BUCKET
    from smartbulkcopy_spark.queries import REGISTRY, release_caches

    assert MAX_BAND_BUCKET == 1024  # the corpus is sized around it
    n_hot = 1030
    n = _simhash_corpus(tmp_path, n_hot=n_hot, n_cold=3)
    got = [
        tuple(r)
        for r in REGISTRY["q112_simhash_near_dup"]
        .fn(spark, str(tmp_path))
        .collect()
    ]
    release_caches()
    # x group = copies 0..1029 plus the permuted twin at id 1030
    x_star = [(0, m, 0) for m in range(1, n_hot + 1)]
    y_min = n_hot + 1
    y_star = [(y_min, m, 0) for m in range(y_min + 1, y_min + 3)]
    assert got == sorted(x_star + y_star)
    assert n == y_min + 3 + 2

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )
    want = [
        tuple(r)
        for r in con.execute(
            REGISTRY["q112_simhash_near_dup"].oracle
        ).fetchall()
    ]
    assert got == want


def test_q111_two_level_rule_survives_overcap_verbatim_family(
    spark, tmp_path
):
    """The image twin of the q112 over-cap test: 1030 byte-identical
    blobs share the full 64-bit ahash, so every band bucket exceeds
    MAX_BAND_BUCKET — the old member-count skip-cap dropped the family
    entirely (meme-grade duplication is exactly where image dedup
    matters); the two-level rule keeps one hamming-0 star edge per
    member. Spark and the DuckDB oracle agree pair-for-pair."""
    import duckdb

    from smartbulkcopy_spark.pipeline.dedup import MAX_BAND_BUCKET
    from smartbulkcopy_spark.queries import REGISTRY, release_caches

    n_hot = MAX_BAND_BUCKET + 6
    _simhash_corpus(tmp_path, n_hot=n_hot, n_cold=3)
    got = [
        tuple(r)
        for r in REGISTRY["q111_image_near_dup"]
        .fn(spark, str(tmp_path))
        .collect()
    ]
    release_caches()
    # blobs are the text bytes, so the permuted twin (id n_hot) has its
    # OWN ahash (unlike simhash) and stays a singleton; x stars span
    # the verbatim copies only.
    x_star = [(0, m, 0) for m in range(1, n_hot)]
    y_min = n_hot + 1
    y_star = [(y_min, m, 0) for m in range(y_min + 1, y_min + 3)]
    assert got == sorted(x_star + y_star)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )
    want = [
        tuple(r)
        for r in con.execute(
            REGISTRY["q111_image_near_dup"].oracle
        ).fetchall()
    ]
    assert got == want


def test_q114_rep_join_output_identity(spark, tmp_path):
    """The incremental cross-side rep-join: a NEW image identical to a
    390-copy verbatim corpus family must be flagged dup_of the family's
    MIN id at hamming 0 — under the rep-join the index contributes ONE
    row for those 390 members, and the output is provably identical to
    the old all-members join (the docstring proof, pinned here). A
    genuinely new image stays unmatched. The over-cap regime itself is
    structurally the q111 grouping (tested there at 1030 copies); the
    id-based INCREMENTAL_SPLIT_ID=400 bounds how large a hand-built
    OLD family can be. Cross-engine pair-for-pair."""
    import duckdb
    import pandas as pd

    from smartbulkcopy_spark.pipeline.dedup import INCREMENTAL_SPLIT_ID
    from smartbulkcopy_spark.queries import REGISTRY, release_caches

    x = "the quick brown fox jumps over the lazy dog again and again"
    n_hot = 390
    ids = list(range(n_hot)) + [
        INCREMENTAL_SPLIT_ID + 1,
        INCREMENTAL_SPLIT_ID + 2,
    ]
    texts = [x] * n_hot + [x, "a genuinely new never-seen image payload"]
    pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    got = [
        tuple(r)
        for r in REGISTRY["q114_incremental_image_dedup"]
        .fn(spark, str(tmp_path))
        .collect()
    ]
    release_caches()
    assert got == [(INCREMENTAL_SPLIT_ID + 1, 0, 0)]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )
    want = [
        tuple(r)
        for r in con.execute(
            REGISTRY["q114_incremental_image_dedup"].oracle
        ).fetchall()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# Round-13 staged builders (builder-only this round): DSIR-style hashed
# importance weights and the repetition-removal audit.
# ---------------------------------------------------------------------------


def _mini_docs(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": [r[2] if len(r) > 2 else "src0" for r in rows],
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)


def test_repetition_removal_hand_corpus(spark, tmp_path):
    """Exact interval-union arithmetic on a corpus computable by eye:
    'a b c' repeated 3x -> first window survives, repeats cover tokens
    4..9 (6 removed of 9); 'p p p p p' -> repeats cover 2..5 (4 of 5);
    a repeat-free doc and an empty doc report zero. Docs 5/6 pin the
    round-13 ADVICE fix: a non-empty doc SHORTER than the gram width
    must report zero, not throw (Spark's sequence(1, 0) steps DOWN to
    [1, 0] and element_at(t, 0) raised before the CASE guard)."""
    from smartbulkcopy_spark.pipeline.text import (
        _repetition_oracle,
        repetition_removal_audit,
    )
    import duckdb

    _mini_docs(
        tmp_path,
        [
            (1, "a b c a b c a b c"),
            (2, "x y z w"),
            (3, "p p p p p"),
            (4, ""),
            (5, "hi there"),
            (6, "one"),
        ],
    )
    got = [
        tuple(r)
        for r in repetition_removal_audit(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (1, 9, 6, 666666),
        (2, 4, 0, 0),
        (3, 5, 4, 800000),
        (4, 0, 0, 0),
        (5, 2, 0, 0),
        (6, 1, 0, 0),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )
    assert [tuple(r) for r in con.execute(_repetition_oracle()).fetchall()] == got


def test_dsir_separates_target_from_raw(spark, tmp_path):
    """Target-source docs built from a shared bigram vocabulary must
    score positive (their buckets carry target mass), the raw-source
    doc with disjoint bigrams negative; zero-bigram docs score 0 and
    are not target_like. Spark and the oracle agree row-for-row."""
    import duckdb

    from smartbulkcopy_spark.pipeline.text import (
        _dsir_oracle,
        dsir_importance_weights,
    )

    _mini_docs(
        tmp_path,
        [
            (1, "alpha beta alpha beta alpha", "a_tgt"),
            (2, "alpha beta gamma", "a_tgt"),
            (3, "delta epsilon zeta eta theta", "b_raw"),
            (4, "solo", "b_raw"),
        ],
    )
    got = {
        r["doc_id"]: (r["dsir_e6"], r["target_like"])
        for r in dsir_importance_weights(spark, str(tmp_path)).collect()
    }
    assert got[1][0] > 0 and got[1][1]
    assert got[2][0] > 0 and got[2][1]
    assert got[3][0] < 0 and not got[3][1]
    assert got[4] == (0, False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )
    want = {
        r[0]: (r[2], r[3])
        for r in con.execute(_dsir_oracle()).fetchall()
    }
    assert want == got


def test_r13_staged_builders_reconcile_on_fixture(spark, sf_dir, duck):
    """Both staged oracles replay their builders row-for-row at
    fixture scale (the pre-registration cross-engine gate)."""
    from smartbulkcopy_spark.pipeline.text import (
        _dsir_oracle,
        _repetition_oracle,
        dsir_importance_weights,
        repetition_removal_audit,
    )
    from smartbulkcopy_spark.queries import release_caches

    for fn, oracle in (
        (dsir_importance_weights, _dsir_oracle()),
        (repetition_removal_audit, _repetition_oracle()),
    ):
        got = [tuple(r) for r in fn(spark, sf_dir).collect()]
        release_caches()
        want = [tuple(r) for r in duck.execute(oracle).fetchall()]
        assert got == want and len(got) > 0
