"""Similarity search over the `embeddings` table (`array<float>`, 64-dim):
exact brute-force cosine top-k (the correctness baseline) and
random-hyperplane LSH bucketing (the scale path's candidate generator).

No reference analog — Phase-5 pipeline operators (SURVEY §7.2).

Scale design (100 TB):
- q30 (exact top-k for ONE query) is a single scan: per-row fold dot
  product in whole-stage codegen, then TakeOrdered(k) — no full sort, no
  shuffle of vectors, no crossJoin. This is the per-query cost floor and
  the oracle for any approximate path.
- q31 buckets every vector into a 8-bit hyperplane signature. Bucketing is
  row-local; the groupBy shuffles only (bucket_id, partial counts). An ANN
  query then probes only its own bucket (+ Hamming-1 neighbors for higher
  recall), turning a corpus-wide scan into a 1/256 slice — this is the
  candidate-generation half of an IVF/LSH index, and the histogram is its
  balance check (skewed buckets = bad hyperplanes).

Cross-engine determinism: both engines fold dot products left-to-right in
the double domain over identical ±1 md5-parity weights, so projections are
bit-identical and so are the bucket assignments (verified empirically:
50/50 embeddings bit-identical between Spark's aggregate/zip_with fold and
DuckDB's list_reduce fold).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from smartbulkcopy_spark.queries import (
    eager,
    register,
    spread,
    sql_darr,
    sql_dot,
    sql_iarr,
    table,
)

N_PLANES = 8  # 8-bit bucket space
NEAR_DUP_COS = 0.3  # tuned to the fixture: 22 in-bucket pairs at sf0.01
EMBED_DIM = 64  # fixture embedding dimension (FIXTURES.md §B)


def dot_fold(a, b):
    """Left fold of elementwise products in the double domain (Spark
    column API) — the engine's canonical dot product."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_duck(a: str, b: str) -> str:
    """Left fold of elementwise products in the double domain (DuckDB).
    list_reduce starts from the first element; Spark's aggregate starts
    from 0.0 — IEEE-identical since 0.0 + x == x exactly."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
        " (acc, v) -> acc + v)"
    )


@register(
    "q30_cosine_topk",
    "WITH q AS (SELECT embedding FROM embeddings"
    " WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),"
    " d AS (SELECT e.vec_id,"
    f" {_dot_duck('e.embedding', 'q.embedding')} AS dot,"
    f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
    f" {_dot_duck('q.embedding', 'q.embedding')} AS nqq"
    " FROM embeddings e, q"
    " WHERE e.vec_id != (SELECT min(vec_id) FROM embeddings))"
    " SELECT vec_id, CAST(floor(10000.0 * dot / (sqrt(naa) * sqrt(nqq)))"
    " AS BIGINT) AS cos_e4"
    " FROM d ORDER BY dot / (sqrt(naa) * sqrt(nqq)) DESC, vec_id LIMIT 10",
    doc="Exact cosine top-10 neighbors of the first vector: one scan,"
    " row-local fold dot product, TakeOrdered — the ANN correctness"
    " baseline. The query vector is a broadcast literal, never a join.",
)
def q30(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    qvec = [float(v) for v in qrow["embedding"]]
    # Python floats are IEEE doubles and sum() folds left — identical to
    # both engines' folds over the same values.
    nq = math.sqrt(sum(v * v for v in qvec))

    qlit = F.expr(sql_darr(qvec))
    e = F.col("embedding")
    cos = dot_fold(e, qlit) / (F.sqrt(dot_fold(e, e)) * F.lit(nq))
    return (
        emb.where(F.col("vec_id") != qrow["vec_id"])
        .select(
            "vec_id",
            cos.alias("_cos"),
            F.floor(10000.0 * cos).cast("bigint").alias("cos_e4"),
        )
        .orderBy(F.col("_cos").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "cos_e4")
    )


def bucket_expr(engine: str) -> str:
    """8-bit random-hyperplane signature. Hyperplane j's weight for
    dimension i is ±1 from the parity of md5(f'{j}_{i}') — deterministic,
    engine-independent pseudo-randomness with no stored model."""
    if engine == "spark":
        w = (
            "CASE WHEN (CAST(conv(substr(md5(concat(j, '_', i)), 1, 2),"
            " 16, 10) AS INT) & 1) = 1"
            " THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
        )
        proj = (
            "aggregate(zip_with(transform(embedding, x -> CAST(x AS"
            " DOUBLE)), sequence(1, size(embedding)),"
            f" (x, i) -> x * {w}), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        return (
            f"aggregate(sequence(0, {N_PLANES - 1}), 0, (acc, j) -> acc +"
            f" CASE WHEN {proj} > 0 THEN shiftleft(1, j) ELSE 0 END)"
        )
    w = (
        "CASE WHEN (CAST(('0x' || substr(md5(concat(j, '_', i)), 1, 2))"
        " AS INT) & 1) = 1"
        " THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
    )
    proj = (
        "list_reduce(list_transform(range(1, len(embedding) + 1),"
        f" i -> CAST(embedding[i] AS DOUBLE) * {w}), (acc, v) -> acc + v)"
    )
    return (
        f"list_sum(list_transform(range(0, {N_PLANES}), j ->"
        f" CASE WHEN {proj} > 0 THEN (1 << j) ELSE 0 END))"
    )


def _plane_weights() -> list[list[float]]:
    """The hyperplane weight matrix, materialized driver-side. The
    weights are DATA-INDEPENDENT md5 parities — evaluating md5 inside
    the row expression recomputes N_PLANES*EMBED_DIM=512 digests per row
    (HOF lambdas re-evaluate per element); as literals the row cost is
    pure multiply-add folds. Bit-identical to bucket_expr's weights."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[:2], 16) & 1
            else -1.0
            for i in range(1, EMBED_DIM + 1)
        ]
        for j in range(N_PLANES)
    ]


def bucket_col():
    """Spark column for the 8-bit hyperplane signature using literal
    weights — same values as bucket_expr('spark'), ~500 fewer md5 calls
    per row. The weight literals are EMBED_DIM wide; a row with any other
    dimension fails loudly (zip_with would otherwise NULL-pad and
    silently collapse every off-dimension vector into bucket 0)."""
    sig = None
    for j, row in enumerate(_plane_weights()):
        # one SQL string per plane (the q188 build-cost rule); CASE WHEN
        # is the parsed form of F.when(...).otherwise(0)
        bit = F.expr(
            f"CASE WHEN {sql_dot('embedding', sql_darr(row))} > 0"
            f" THEN {1 << j} ELSE 0 END"
        )
        sig = bit if sig is None else sig + bit
    guard = F.expr(
        f"assert_true(size(embedding) = {EMBED_DIM},"
        f" 'bucket_col requires {EMBED_DIM}-dim embeddings')"
    )
    # assert_true yields NULL on success, so coalesce passes sig through;
    # on an off-dimension row it raises instead.
    return F.coalesce(guard.cast("int"), sig)


@register(
    "q31_lsh_bucket_histogram",
    f"SELECT CAST({bucket_expr('duck')} AS BIGINT) AS bucket,"
    " count(*) AS c FROM embeddings GROUP BY bucket ORDER BY bucket",
    doc="Random-hyperplane LSH bucket histogram — validates that the ANN"
    " scale path's candidate generation partitions the corpus"
    " deterministically and evenly. Bucketing is row-local; only"
    " (bucket, count) shuffles.",
)
def q31(spark, sf_dir):
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    return (
        emb.select(bucket_col().cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
        .orderBy("bucket")
    )


@register(
    "q54_embedding_norm_audit",
    "SELECT label,"
    f" CAST(floor(10.0 * {_dot_duck('embedding', 'embedding')}) AS BIGINT)"
    " AS norm2_decibucket, count(*) AS n_vecs"
    " FROM embeddings GROUP BY label, norm2_decibucket"
    " ORDER BY label, norm2_decibucket",
    doc="Embedding norm audit: squared-L2-norm histogram (0.1-wide"
    " buckets) per label — the sanity gate before any cosine-based"
    " dedup/ANN pass, catching unnormalized or degenerate vectors and"
    " per-class norm drift. The norm is the per-row left fold (order-"
    "fixed, so bit-identical across engines — cross-row float sums would"
    " NOT be); every cross-row aggregate is integer counting, so the"
    " histogram is exactly reproducible. Row-local bucketing; only"
    " (label, bucket, partial counts) shuffle.",
)
def q54(spark, sf_dir):
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    e = F.col("embedding")
    bucket = F.floor(10.0 * dot_fold(e, e)).cast("bigint")
    return (
        emb.select("label", bucket.alias("norm2_decibucket"))
        .groupBy("label", "norm2_decibucket")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("label", "norm2_decibucket")
    )


@register(
    "q67_bucket_label_purity",
    f"WITH bl AS (SELECT CAST({bucket_expr('duck')} AS BIGINT) AS bucket,"
    " label, count(*) AS c FROM embeddings GROUP BY bucket, label),"
    " tot AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_vecs FROM bl"
    " GROUP BY bucket),"
    " r AS (SELECT bucket, label, c, row_number() OVER"
    " (PARTITION BY bucket ORDER BY c DESC, label) AS rn FROM bl)"
    " SELECT r.bucket, t.n_vecs, r.label AS top_label,"
    " CAST(r.c AS BIGINT) AS top_n,"
    " CAST(floor(100.0 * r.c / t.n_vecs) AS BIGINT) AS purity_pct"
    " FROM r JOIN tot t ON r.bucket = t.bucket WHERE rn = 1"
    " ORDER BY r.bucket",
    doc="LSH bucket label purity: the majority label and its share per"
    " hyperplane bucket — the semantic-coherence metric of the ANN"
    " index (q31 measures balance; this measures whether co-bucketed"
    " vectors actually belong together). Two partial-aggregated"
    " groupBys over (bucket, label) — bucket-histogram-sized, not"
    " corpus-sized — and the majority pick is a per-bucket window with"
    " a deterministic (count desc, label) tie-break.",
)
def q67(spark, sf_dir):
    from pyspark.sql import Window

    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    bl = (
        emb.select(bucket_col().cast("bigint").alias("bucket"), "label")
        .groupBy("bucket", "label")
        .agg(F.count("*").alias("c"))
    )
    tot = bl.groupBy("bucket").agg(F.sum("c").alias("n_vecs"))
    w = Window.partitionBy("bucket").orderBy(F.col("c").desc(), "label")
    top = bl.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        top.join(tot, "bucket")
        .select(
            "bucket",
            "n_vecs",
            F.col("label").alias("top_label"),
            F.col("c").cast("long").alias("top_n"),
            F.floor(100.0 * F.col("c") / F.col("n_vecs"))
            .cast("long")
            .alias("purity_pct"),
        )
        .orderBy("bucket")
    )


@register(
    "q57_embedding_coverage",
    "SELECT CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL"
    " THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,"
    " CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_doc_only,"
    " CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_vec_only"
    " FROM (SELECT d.doc_id, e.vec_id FROM documents d"
    " FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)",
    doc="Document↔embedding reconciliation: every document should have"
    " exactly one embedding row and vice versa; unmatched counts on"
    " either side mean a failed or partial embedding job. The engine's"
    " cross-table twin of the reference's row-count reconciliation"
    " (reference: client/SmartBulkCopy.cs:1175-1238) — but keyed, so it"
    " localizes WHICH side dropped rows, not just that totals differ."
    " Key-shuffled full outer join on the id (ids only, never payloads),"
    " then a partial-aggregated global count triple.",
)
def q57(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id")
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    return coverage_counts(docs, emb)


def coverage_counts(docs, emb):
    """Full-outer reconciliation of (doc_id) vs (vec_id) id sets."""
    j = docs.join(emb, docs.doc_id == emb.vec_id, "full_outer")
    matched = (
        F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull()
    ).cast("int")
    return j.agg(
        F.sum(matched).cast("long").alias("n_matched"),
        F.sum(F.col("vec_id").isNull().cast("int"))
        .cast("long")
        .alias("n_doc_only"),
        F.sum(F.col("doc_id").isNull().cast("int"))
        .cast("long")
        .alias("n_vec_only"),
    )


@register(
    "q55_embedding_dim_stats",
    "WITH x AS (SELECT CAST(t.i - 1 AS BIGINT) AS dim,"
    " CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000.0) AS BIGINT)"
    " AS v FROM embeddings,"
    f" (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i) t)"
    " SELECT dim, count(*) AS n_vecs, CAST(sum(v) AS BIGINT) AS sum_e6,"
    " CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS mean_e6"
    " FROM x GROUP BY dim ORDER BY dim",
    doc="Per-dimension feature means over the embedding column — the"
    " centering/monitoring statistic of an embedding pipeline. Floats"
    " are floor-scaled to 1e-6-resolution integers PER ROW, then summed:"
    " integer sums are associative, so the result is independent of"
    " partitioning and aggregation order, unlike a cross-row double sum"
    " whose value depends on reduction order (the same rule the cents"
    " convention applies to money). posexplode is row-local; the only"
    " shuffle carries (dim, partial sums) — EMBED_DIM groups. At 1e12+"
    " rows the BIGINT partial sums approach overflow (|v|≤1e6 each);"
    " there the sum column widens to DECIMAL(38,0), same shape.",
)
def q55(spark, sf_dir):
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    scaled = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
    )
    return (
        emb.select(F.posexplode(scaled).alias("dim", "v"))
        .select(F.col("dim").cast("long").alias("dim"), "v")
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("v").alias("sum_e6"),
            F.floor(F.sum("v").cast("double") / F.count("*"))
            .cast("long")
            .alias("mean_e6"),
        )
        .orderBy("dim")
    )


@register(
    "q33_embedding_near_dup",
    "WITH b AS (SELECT vec_id, embedding,"
    f" CAST({bucket_expr('duck')} AS BIGINT) AS bk FROM embeddings),"
    " p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,"
    f" {_dot_duck('x.embedding', 'y.embedding')}"
    f" / (sqrt({_dot_duck('x.embedding', 'x.embedding')})"
    f" * sqrt({_dot_duck('y.embedding', 'y.embedding')})) AS cos"
    " FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id)"
    " SELECT a_id, b_id, CAST(floor(10000.0 * cos) AS BIGINT) AS cos_e4"
    f" FROM p WHERE cos >= {NEAR_DUP_COS} ORDER BY a_id, b_id",
    doc="Embedding-cosine near-duplicate pairs, candidates restricted to"
    " the hyperplane LSH bucket — vectors shuffle once on the 1-byte"
    " bucket key, exact cosine runs only inside buckets; never all-pairs.",
)
def q33(spark, sf_dir):
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    e = F.col("embedding")
    bucketed = emb.select(
        "vec_id",
        "embedding",
        bucket_col().cast("bigint").alias("bk"),
        # norm per VECTOR, inside the cached frame — the per-pair
        # denominator used to re-fold both self-dots for every bucket
        # pair (3 dim-length folds per pair -> 1). sqrt of the same
        # row-local fold is IEEE-identical wherever it is computed.
        F.sqrt(dot_fold(e, e)).alias("nrm"),
    )  # both self-join sides read it; signature computed once
    # Materialize EAGERLY: a lazy persist lets both join sides race to
    # fill the cache, each paying the full signature fold (same failure
    # mode measured at ~2x in the dedup pipeline). eager() tracks the
    # cache for queries.release_caches() in long-lived sessions.
    bucketed = eager(bucketed)
    x = bucketed.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("ea"),
        "bk",
        F.col("nrm").alias("na"),
    )
    y = bucketed.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("eb"),
        "bk",
        F.col("nrm").alias("nb"),
    )
    ea, eb = F.col("ea"), F.col("eb")
    cos = dot_fold(ea, eb) / (F.col("na") * F.col("nb"))
    return (
        x.join(y, "bk")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", cos.alias("cos"))
        .where(F.col("cos") >= NEAR_DUP_COS)
        .select(
            "a_id",
            "b_id",
            F.floor(10000.0 * F.col("cos")).cast("bigint").alias("cos_e4"),
        )
    )


@register(
    "q81_embedding_dedup_clusters",
    "WITH RECURSIVE b AS (SELECT vec_id, embedding,"
    f" CAST({bucket_expr('duck')} AS BIGINT) AS bk FROM embeddings),"
    " p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,"
    f" {_dot_duck('x.embedding', 'y.embedding')}"
    f" / (sqrt({_dot_duck('x.embedding', 'x.embedding')})"
    f" * sqrt({_dot_duck('y.embedding', 'y.embedding')})) AS cos"
    " FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id),"
    f" vp AS (SELECT a_id, b_id FROM p WHERE cos >= {NEAR_DUP_COS}),"
    " sym AS (SELECT a_id AS u, b_id AS v FROM vp"
    " UNION ALL SELECT b_id, a_id FROM vp),"
    " reach(u, v) AS (SELECT u, v FROM sym"
    " UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)"
    " SELECT u AS vec_id, CAST(least(u, min(v)) AS BIGINT) AS cluster_rep"
    " FROM reach GROUP BY u ORDER BY vec_id",
    doc="Transitive SEMANTIC dedup: connected components over the q33"
    " cosine near-dup pair graph, so paraphrase chains A~B~C collapse to"
    " one family even when (A, C) never co-bucketed. Reuses the"
    " bucketed (never all-pairs) pair generation as-is and the same"
    " hash-min label propagation as q69 (id-keyed joins on the tiny"
    " verified edge set, per-round lineage truncation, reliable-"
    " checkpoint option for cluster deployments). Oracle: DuckDB"
    " recursive-CTE reachability over the same pair set.",
)
def q81(spark, sf_dir):
    from smartbulkcopy_spark.pipeline.dedup import connected_components

    pairs = q33(spark, sf_dir).select("a_id", "b_id")
    return (
        connected_components(spark, pairs)
        .select(
            F.col("node").alias("vec_id"),
            F.col("lbl").alias("cluster_rep"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# IVF: the second ANN scale path. Centroids here are a deterministic
# sample (the K lowest vec_ids) — centroid TRAINING (k-means) is an
# orthogonal, offline concern; what the engine demonstrates is the index
# machinery: assignment, inverted lists, and probed search. Assignment is
# a per-row argmin over broadcast centroid literals — no join at all on
# the Spark side, and the inverted list id becomes a partition key.
# ---------------------------------------------------------------------------

N_CENTROIDS = 8


def _centroids(spark, sf_dir) -> list[tuple[int, list[float]]]:
    emb = table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").limit(N_CENTROIDS).collect()
    return [(r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows]


def _assign_expr(cents):
    """argmin over centroids of the distance SURROGATE -2*e.c + c.c —
    the row-constant e.e term of the squared L2 distance cancels out of
    the argmin, saving 8 redundant fold evaluations per row. Ties go to
    the lower centroid id (array_min over (d, id) structs compares
    lexicographically). Generated as one SQL string (the q188 rule:
    per-element Column literals are py4j round-trips and pure driver
    build cost)."""
    candidates = []
    for cid, vec in cents:
        # c.c folded in Python (same left-to-right IEEE fold as the engines)
        cc = 0.0
        for v in vec:
            cc = cc + v * v
        candidates.append(
            f"named_struct('d', -2.0D * {sql_dot('embedding', sql_darr(vec))}"
            f" + {float(cc)!r}D, 'cid', {int(cid)})"
        )
    return F.expr(f"array_min(array({','.join(candidates)})).cid")


def _ivf_duck_cte() -> str:
    dist = (
        f"-2.0 * {_dot_duck('e.embedding', 'c.cemb')}"
        f" + {_dot_duck('c.cemb', 'c.cemb')}"
    )
    return (
        "cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings"
        f" ORDER BY vec_id LIMIT {N_CENTROIDS}),"
        f" dists AS (SELECT e.vec_id, c.cid, {dist} AS d"
        " FROM embeddings e CROSS JOIN cent c),"
        " assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,"
        " row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn"
        " FROM dists) WHERE rn = 1)"
    )


@register(
    "q36_ivf_assignment",
    "WITH " + _ivf_duck_cte()
    + " SELECT cid, count(*) AS c FROM assign GROUP BY cid ORDER BY cid",
    doc="IVF inverted-list assignment histogram (deterministic sampled"
    " centroids). Spark side is a per-row argmin over broadcast centroid"
    " literals — zero joins; the oracle cross-joins only because DuckDB"
    " has no broadcast concept, bounded at N x 8 rows.",
)
def q36(spark, sf_dir):
    cents = _centroids(spark, sf_dir)
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    return (
        emb.select(_assign_expr(cents).alias("cid"))
        .groupBy("cid")
        .agg(F.count("*").alias("c"))
        .orderBy("cid")
    )


def ivf_search(spark, sf_dir, query_vec_id: int = 0, k: int = 10,
               n_probe: int = 2):
    """Probed IVF search: rank centroids by distance to the query
    (driver-side, K values), scan only the n_probe nearest inverted
    lists, exact-rerank by cosine. At 100 TB the assignment column is a
    partition key, so probing is partition pruning at the scan."""
    cents = _centroids(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == query_vec_id).first()
    qvec = [float(v) for v in qrow["embedding"]]

    def d2(c):
        # The same -2*q.c + c.c surrogate (left-to-right folds) the
        # engine expressions use, so the probe ranking is reproducible
        # bit-for-bit by a SQL oracle; a sum-of-squared-differences
        # spelling rounds differently and can flip near-tied centroids.
        dot = 0.0
        for a, b in zip(qvec, c):
            dot = dot + a * b
        cc = 0.0
        for b in c:
            cc = cc + b * b
        return -2.0 * dot + cc

    probe = [cid for cid, vec in sorted(cents, key=lambda c: (d2(c[1]), c[0]))][:n_probe]

    nq = math.sqrt(sum(v * v for v in qvec))
    qlit = F.expr(sql_darr(qvec))
    e = F.col("embedding")
    cos = dot_fold(e, qlit) / (F.sqrt(dot_fold(e, e)) * F.lit(nq))
    return (
        emb.withColumn("cid", _assign_expr(cents))
        .where(F.col("cid").isin(probe) & (F.col("vec_id") != query_vec_id))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )


def ann_topk_bucketed(spark, sf_dir, query_vec_id: int = 0, k: int = 10):
    """The assembled ANN scale path: multiprobe the query's bucket plus
    its 8 Hamming-1 neighbors (single-bucket probing measured 0/10
    recall@10 on the fixture — one flipped borderline hyperplane hides a
    true neighbor; Hamming-1 multiprobe is the standard LSH fix and still
    prunes 247/256 of the corpus).

    Registered as q43 with a full oracle (the bucketing, candidate set,
    and rerank are all deterministic); recall vs the exact q30 is itself
    a registered metric (q47). The probe set is a 9-value literal IN
    list, so with a bucket-partitioned layout it stays partition pruning
    at the scan.
    """
    emb = table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn("bucket", bucket_col().cast("bigint"))
    qrow = bucketed.where(F.col("vec_id") == query_vec_id).first()
    qvec = [float(v) for v in qrow["embedding"]]
    nq = math.sqrt(sum(v * v for v in qvec))
    qlit = F.expr(sql_darr(qvec))
    e = F.col("embedding")
    cos = dot_fold(e, qlit) / (F.sqrt(dot_fold(e, e)) * F.lit(nq))
    qb = int(qrow["bucket"])
    probes = [qb] + [qb ^ (1 << j) for j in range(N_PLANES)]
    return (
        bucketed.where(
            F.col("bucket").isin(probes)
            & (F.col("vec_id") != query_vec_id)
        )
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )


def _min_vec_id(spark, sf_dir) -> int:
    emb = table(spark, sf_dir, "embeddings")
    return emb.agg(F.min("vec_id")).first()[0]


def _cos_e4(df):
    return df.select(
        "vec_id",
        F.floor(10000.0 * F.col("cosine")).cast("bigint").alias("cos_e4"),
    )


_COS_RANK_DUCK = "dot / (sqrt(naa) * sqrt(nqq))"


@register(
    "q43_ann_bucketed_topk",
    "WITH b AS (SELECT vec_id, embedding,"
    f" CAST({bucket_expr('duck')} AS BIGINT) AS bk FROM embeddings),"
    " q AS (SELECT vec_id, embedding, bk FROM b"
    " WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),"
    " d AS (SELECT b.vec_id,"
    f" {_dot_duck('b.embedding', 'q.embedding')} AS dot,"
    f" {_dot_duck('b.embedding', 'b.embedding')} AS naa,"
    f" {_dot_duck('q.embedding', 'q.embedding')} AS nqq"
    " FROM b, q WHERE bit_count(xor(b.bk, q.bk)) <= 1"
    " AND b.vec_id != q.vec_id)"
    f" SELECT vec_id, CAST(floor(10000.0 * {_COS_RANK_DUCK}) AS BIGINT)"
    " AS cos_e4"
    f" FROM d ORDER BY {_COS_RANK_DUCK} DESC, vec_id LIMIT 10",
    doc="The assembled LSH-ANN search: Hamming-1 multiprobe of the"
    " hyperplane buckets + exact cosine rerank, top-10 for the first"
    " vector. Every stage (bucketing, candidates, rerank order) is"
    " deterministic and bit-reproduced by the oracle; recall vs exact"
    " q30 is the registered q47 metric. At scale the 9-bucket probe"
    " list is partition pruning.",
)
def q43(spark, sf_dir):
    return _cos_e4(
        ann_topk_bucketed(spark, sf_dir, _min_vec_id(spark, sf_dir), k=10)
    )


@register(
    "q44_ivf_probe_topk",
    "WITH " + _ivf_duck_cte() + ","
    " q AS (SELECT vec_id, embedding FROM embeddings"
    " WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),"
    " pd AS (SELECT c.cid,"
    f" -2.0 * {_dot_duck('q.embedding', 'c.cemb')}"
    f" + {_dot_duck('c.cemb', 'c.cemb')} AS d FROM cent c, q),"
    " probe AS (SELECT cid FROM (SELECT cid,"
    " row_number() OVER (ORDER BY d, cid) AS rn FROM pd) WHERE rn <= 2),"
    " cand AS (SELECT a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid"
    " WHERE a.vec_id != (SELECT vec_id FROM q)),"
    " dd AS (SELECT e.vec_id,"
    f" {_dot_duck('e.embedding', 'q.embedding')} AS dot,"
    f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
    f" {_dot_duck('q.embedding', 'q.embedding')} AS nqq"
    " FROM embeddings e, q"
    " WHERE e.vec_id IN (SELECT vec_id FROM cand))"
    f" SELECT vec_id, CAST(floor(10000.0 * {_COS_RANK_DUCK}) AS BIGINT)"
    " AS cos_e4"
    f" FROM dd ORDER BY {_COS_RANK_DUCK} DESC, vec_id LIMIT 10",
    doc="Probed IVF search: rank centroids by the -2*q.c + c.c surrogate"
    " (driver-side over K values), scan the 2 nearest inverted lists,"
    " exact-rerank by cosine, top-10. Assignment, probe choice, and"
    " rerank order are all deterministic and bit-reproduced by the"
    " oracle. At scale the list id is a partition key, so probing is"
    " partition pruning.",
)
def q44(spark, sf_dir):
    return _cos_e4(
        ivf_search(spark, sf_dir, _min_vec_id(spark, sf_dir), k=10, n_probe=2)
    )


def _recall_oracle() -> str:
    """Recall@10 oracle: the exact top-10 (q30), the LSH-bucketed top-10
    (q43), and the IVF-probed top-10 (q44), intersected. Every stage is
    the same deterministic math as the registered per-path oracles, so
    the hit counts are exact, not statistical."""
    exact_d = (
        "SELECT e.vec_id,"
        f" {_dot_duck('e.embedding', 'qv.embedding')} AS dot,"
        f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
        f" {_dot_duck('qv.embedding', 'qv.embedding')} AS nqq"
        " FROM embeddings e, qv WHERE e.vec_id != qv.vec_id"
    )
    lsh_d = (
        "SELECT b.vec_id,"
        f" {_dot_duck('b.embedding', 'qv.embedding')} AS dot,"
        f" {_dot_duck('b.embedding', 'b.embedding')} AS naa,"
        f" {_dot_duck('qv.embedding', 'qv.embedding')} AS nqq"
        " FROM b, qv, qb WHERE bit_count(xor(b.bk, qb.bk)) <= 1"
        " AND b.vec_id != qv.vec_id"
    )
    ivf_d = (
        "SELECT e.vec_id,"
        f" {_dot_duck('e.embedding', 'qv.embedding')} AS dot,"
        f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
        f" {_dot_duck('qv.embedding', 'qv.embedding')} AS nqq"
        " FROM embeddings e, qv"
        " WHERE e.vec_id IN (SELECT a.vec_id FROM assign a"
        " JOIN probe p ON a.cid = p.cid) AND e.vec_id != qv.vec_id"
    )
    top10 = (
        f"SELECT vec_id FROM ({{d}}) ORDER BY {_COS_RANK_DUCK} DESC,"
        " vec_id LIMIT 10"
    )
    method = (
        "SELECT '{m}' AS method, CAST(count(*) AS BIGINT) AS hits,"
        " CAST(count(*) * 10 AS BIGINT) AS recall_pct"
        " FROM ex WHERE vec_id IN (SELECT vec_id FROM {t})"
    )
    return (
        "WITH qv AS (SELECT vec_id, embedding FROM embeddings"
        " WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),"
        " b AS (SELECT vec_id, embedding,"
        f" CAST({bucket_expr('duck')} AS BIGINT) AS bk FROM embeddings),"
        " qb AS (SELECT bk FROM b WHERE vec_id = (SELECT vec_id FROM qv)),"
        f" {_ivf_duck_cte()},"
        " pd AS (SELECT c.cid,"
        f" -2.0 * {_dot_duck('qv.embedding', 'c.cemb')}"
        f" + {_dot_duck('c.cemb', 'c.cemb')} AS d FROM cent c, qv),"
        " probe AS (SELECT cid FROM (SELECT cid,"
        " row_number() OVER (ORDER BY d, cid) AS rn FROM pd) WHERE rn <= 2),"
        f" ex AS ({top10.format(d=exact_d)}),"
        f" lsh AS ({top10.format(d=lsh_d)}),"
        f" ivf AS ({top10.format(d=ivf_d)})"
        " SELECT * FROM ("
        f" {method.format(m='ivf_probe', t='ivf')}"
        f" UNION ALL {method.format(m='lsh_bucket', t='lsh')}"
        ") ORDER BY method"
    )


@register(
    "q47_ann_recall",
    _recall_oracle(),
    doc="Recall@10 of both approximate search paths against the exact"
    " cosine top-10 (q30): |approx ∩ exact| per method. All three top-10"
    " sets are the registered deterministic pipelines, so the driver gate"
    " tracks ANN QUALITY, not just determinism — a hyperplane or probe"
    " regression that silently tanks recall flips this row even when"
    " q43/q44 still hash-match their own oracles. The intersections are"
    " broadcast semi-joins over 10-row sets; nothing scales with the"
    " corpus beyond the three underlying searches.",
)
def q47(spark, sf_dir):
    qid = _min_vec_id(spark, sf_dir)
    exact = q30(spark, sf_dir).select("vec_id")
    paths = {
        "ivf_probe": ivf_search(spark, sf_dir, qid, k=10, n_probe=2),
        "lsh_bucket": ann_topk_bucketed(spark, sf_dir, qid, k=10),
    }
    out = None
    for name, approx in paths.items():
        hits = (
            exact.join(approx.select("vec_id"), "vec_id", "left_semi")
            .agg(F.count("*").alias("hits"))
            .select(
                F.lit(name).alias("method"),
                "hits",
                (F.col("hits") * 10).cast("bigint").alias("recall_pct"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out.orderBy("method")


# ---------------------------------------------------------------------------
# Symmetric per-dimension int8 quantization — the storage/bandwidth path
# of a vector index (4x smaller vectors, SIMD-friendly distances). Two
# passes: learn per-dimension absolute maxima (the scales), then map
# every element to floor(v * 127 / amax). All comparisons run on
# 1e-6-floor-scaled integers, and both the quantized values and the
# reconstruction errors are integer checksums per vector — order-
# independent and bit-identical across engines (the q55 rule: never sum
# raw doubles across rows). Scale shape: one posexplode (row-local),
# a 64-group partial aggregation for the scales, a broadcast join back,
# and a vec_id rollup — element values shuffle once, vectors never do.
# ---------------------------------------------------------------------------


@register(
    "q74_embedding_quantize",
    "WITH el AS (SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS dim,"
    " CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000.0) AS BIGINT)"
    " AS v_e6 FROM embeddings,"
    f" (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i) t),"
    " am AS (SELECT dim, max(abs(v_e6)) AS amax_e6 FROM el GROUP BY dim),"
    " qq AS (SELECT vec_id, el.dim, v_e6, amax_e6,"
    " CASE WHEN amax_e6 = 0 THEN 0 ELSE"
    " CAST(floor((CAST(v_e6 AS DOUBLE) * 127.0) / amax_e6) AS BIGINT)"
    " END AS q FROM el JOIN am ON el.dim = am.dim),"
    " er AS (SELECT vec_id, q, abs(v_e6 -"
    " CASE WHEN amax_e6 = 0 THEN 0 ELSE"
    " CAST(floor((CAST(q AS DOUBLE) * amax_e6) / 127.0) AS BIGINT)"
    " END) AS err FROM qq)"
    " SELECT vec_id, count(*) AS n_dims,"
    " CAST(sum(q) AS BIGINT) AS q_sum,"
    " CAST(sum(abs(q)) AS BIGINT) AS q_abs_sum,"
    " CAST(sum(err) AS BIGINT) AS total_abs_err_e6,"
    " CAST(max(err) AS BIGINT) AS max_abs_err_e6"
    " FROM er GROUP BY vec_id ORDER BY vec_id",
    doc="Per-dimension symmetric int8 quantization of the embedding"
    " column with integer-exact reconstruction-error audit: learned"
    " per-dim scales (max |v|), floor(v*127/amax) codes, and per-vector"
    " checksum + error rollups. Two-pass learn-then-apply; broadcast"
    " scale join; zero cross-row float arithmetic.",
)
def q74(spark, sf_dir):
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    el = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1000000.0).cast(
                    "long"
                ),
            )
        ).alias("dim", "v_e6"),
    ).select(F.col("vec_id"), F.col("dim").cast("long"), F.col("v_e6"))
    amax = el.groupBy("dim").agg(F.max(F.abs("v_e6")).alias("amax_e6"))
    j = el.join(F.broadcast(amax), "dim")
    q = F.when(F.col("amax_e6") == 0, F.lit(0)).otherwise(
        F.floor(
            (F.col("v_e6").cast("double") * 127.0) / F.col("amax_e6")
        ).cast("long")
    )
    qd = j.select("vec_id", "v_e6", "amax_e6", q.alias("q"))
    recon = F.when(F.col("amax_e6") == 0, F.lit(0)).otherwise(
        F.floor(
            (F.col("q").cast("double") * F.col("amax_e6")) / 127.0
        ).cast("long")
    )
    er = qd.select(
        "vec_id", "q", F.abs(F.col("v_e6") - recon).alias("err")
    )
    return (
        er.groupBy("vec_id")
        .agg(
            F.count("*").alias("n_dims"),
            F.sum("q").alias("q_sum"),
            F.sum(F.abs("q")).alias("q_abs_sum"),
            F.sum("err").alias("total_abs_err_e6"),
            F.max("err").alias("max_abs_err_e6"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# K-means-lite: two unrolled Lloyd iterations over the embedding corpus,
# bit-exact across engines. Everything runs on 1e-6 floor-scaled integer
# components: squared distances are BIGINT sums (64 dims x (1e6)^2 ~
# 6.4e13, well inside BIGINT), argmin is the PACKED spelling
# min(d2*K + cid) % K with ties breaking on centroid id (identical in
# both engines — struct-min has no DuckDB spelling; see _km_packed_sql
# and the packed-argmin property test), and centroid updates use the q55
# mean spelling
# floor(CAST(sum AS DOUBLE)/count). Init is deterministic: the vectors
# with vec_id 0..K-1. Round 14 (guide §8 "decide with small rows"):
# each assignment is a ROW-LOCAL packed argmin over K*D centroid
# literals collected between iterations (bounded: 512 ints,
# corpus-independent — the q176 bounded-collect pattern; integer
# arithmetic replays engine-exactly). The old broadcast-join spelling
# shuffled corpus x K (vec_id, cid, d2) rows through the assign
# aggregation TWICE and joined the corpus back per recenter; now the
# only corpus-wide exchanges are the two recenter groupBys, whose
# map-side partial aggregation caps each task's exchange payload at
# K*D rows. At 100 TB each iteration is one corpus pass and nothing
# corpus-sized ever crosses the network.
# ---------------------------------------------------------------------------

KMEANS_K = 8

# The k-means CTE chain (element explode -> init -> 2x [assign,
# recenter]) shared by the q77 and q83 oracles.
_KM_CTES_DUCK = (
    "el AS (SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS dim,"
    " CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000.0) AS BIGINT)"
    " AS v_e6 FROM embeddings,"
    f" (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i) t),"
    f" c0 AS (SELECT vec_id AS cid, dim, v_e6 AS c_e6 FROM el"
    f" WHERE vec_id < {KMEANS_K}),"
    " d1 AS (SELECT e.vec_id, c.cid,"
    " CAST(sum((e.v_e6 - c.c_e6) * (e.v_e6 - c.c_e6)) AS BIGINT) AS d2"
    " FROM el e JOIN c0 c ON e.dim = c.dim GROUP BY e.vec_id, c.cid),"
    " a1 AS (SELECT vec_id, CAST(min(d2 * 8 + cid) % 8 AS BIGINT) AS cid"
    " FROM d1 GROUP BY vec_id),"
    " c1 AS (SELECT a.cid, e.dim,"
    " CAST(floor(CAST(sum(e.v_e6) AS DOUBLE) / count(*)) AS BIGINT)"
    " AS c_e6 FROM el e JOIN a1 a ON e.vec_id = a.vec_id"
    " GROUP BY a.cid, e.dim),"
    " d2s AS (SELECT e.vec_id, c.cid,"
    " CAST(sum((e.v_e6 - c.c_e6) * (e.v_e6 - c.c_e6)) AS BIGINT) AS d2"
    " FROM el e JOIN c1 c ON e.dim = c.dim GROUP BY e.vec_id, c.cid),"
    " a2 AS (SELECT vec_id, CAST(min(d2 * 8 + cid) % 8 AS BIGINT) AS cid"
    " FROM d2s GROUP BY vec_id),"
    " c2 AS (SELECT a.cid, e.dim,"
    " CAST(floor(CAST(sum(e.v_e6) AS DOUBLE) / count(*)) AS BIGINT)"
    " AS c_e6 FROM el e JOIN a2 a ON e.vec_id = a.vec_id"
    " GROUP BY a.cid, e.dim)"
)


def _km_el(spark, sf_dir):
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1000000.0).cast(
                    "long"
                ),
            )
        ).alias("dim", "v_e6"),
    ).select("vec_id", F.col("dim").cast("long").alias("dim"), "v_e6")


def _km_varr():
    """Per-row 1e-6 floor-scaled integer embedding vector (the el
    explode's v_e6 values kept as one array column, so assignment can
    run row-locally). Always pre-project it as a column: the packed
    argmin references it K times, which also keeps CollapseProject
    from inlining the transform back (non-cheap + multi-referenced)."""
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
    )


def _km_base(spark, sf_dir):
    """(vec_id, varr): the corpus with its scaled-int vector, persisted
    once per chain (same bytes as the old exploded element table, 1/D
    the rows)."""
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    return eager(emb.select("vec_id", _km_varr().alias("varr")))


def _km_init_cents(base):
    """Deterministic init: the vec_id < K rows, collected as
    [(cid, [v_e6...])] — K*D = 512 bounded input values."""
    return sorted(
        (int(r["vec_id"]), [int(v) for v in r["varr"]])
        for r in base.where(F.col("vec_id") < KMEANS_K).collect()
    )


def _km_collect_cents(cdf):
    """[(cid, [c_e6...])] sorted by cid from a (cid, dim, c_e6) frame.
    BOUNDED collect: <= K*D = 512 rows independent of corpus size — the
    q176 pattern (a computed per-round aggregate parameterizes the next
    round's row-local expressions; integer values replay engine-exactly
    in the oracle's identical CTE chain)."""
    byc: dict[int, dict[int, int]] = {}
    for r in cdf.collect():
        byc.setdefault(int(r["cid"]), {})[int(r["dim"])] = int(r["c_e6"])
    return sorted(
        (cid, [dims[d] for d in sorted(dims)]) for cid, dims in byc.items()
    )


def _km_packed_sql(cents) -> str:
    """Packed argmin over centroid literals as ONE generated SQL expr
    (the q188 single-string rule): least over cid of d2 * K + cid,
    where d2 is the integer sum of squared diffs — integer adds are
    order-free, so the row-local fold is bit-identical to the old
    broadcast-join aggregation, and min(d2*K + cid) % K stays the
    lexicographic (d2, cid) minimum because cid < K. No overflow:
    d2 <= D * (2e6)^2 ~ 2.6e14, * K ~ 2e15, inside BIGINT."""
    terms = []
    for cid, cv in cents:
        d2 = (
            f"aggregate(zip_with(varr, {sql_iarr(cv)},"
            " (x, y) -> (x - y) * (x - y)), 0L, (acc, e) -> acc + e)"
        )
        terms.append(f"{d2} * {KMEANS_K} + {int(cid)}")
    return "least(" + ", ".join(terms) + ")"


def _km_assigned(base, cents):
    """(vec_id, varr, cid): the row-local packed argmin vs `cents` —
    no join, nothing corpus-sized shuffles."""
    return base.withColumn(
        "cid", F.expr(_km_packed_sql(cents)) % KMEANS_K
    )


def _km_recenter_local(asg):
    """(cid, dim, c_e6) from an assigned frame: the explode rides the
    row-local cid and the groupBy partial-aggregates map-side, so the
    exchange carries <= K*D rows per task."""
    return (
        asg.select("cid", F.posexplode("varr").alias("dim", "v_e6"))
        .select("cid", F.col("dim").cast("long").alias("dim"), "v_e6")
        .groupBy("cid", "dim")
        .agg(
            F.floor(
                F.sum("v_e6").cast("double") / F.count("*")
            )
            .cast("long")
            .alias("c_e6")
        )
    )


@register(
    "q77_kmeans_lite",
    "WITH " + _KM_CTES_DUCK
    + " SELECT n.cid, n.n_vecs, c.centroid_sum_e6, c.centroid_abs_e6"
    " FROM (SELECT cid, count(*) AS n_vecs FROM a2 GROUP BY cid) n"
    " JOIN (SELECT cid, CAST(sum(c_e6) AS BIGINT) AS centroid_sum_e6,"
    " CAST(sum(abs(c_e6)) AS BIGINT) AS centroid_abs_e6 FROM c2"
    " GROUP BY cid) c ON n.cid = c.cid ORDER BY n.cid",
    doc="Two unrolled Lloyd k-means iterations (K=8, deterministic"
    " vec_id<K init) with bit-exact integer arithmetic: scaled-int"
    " squared distances, packed argmin (min(d2*K + cid) % K) with cid"
    " tie-break, q55-rule centroid means. Assignment is a row-local"
    " argmin over K*D centroid literals (bounded 512-int collect per"
    " round, q176 pattern) — nothing corpus-sized shuffles; output is"
    " per-cluster size + centroid checksums the DuckDB CTE chain"
    " reproduces exactly.",
)
def q77(spark, sf_dir):
    base = _km_base(spark, sf_dir)  # read by c0, a1-recenter, a2
    c0 = _km_init_cents(base)
    c1 = _km_collect_cents(_km_recenter_local(_km_assigned(base, c0)))
    a2 = _km_assigned(base, c1)
    c2 = _km_recenter_local(a2)
    sizes = a2.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    sums = c2.groupBy("cid").agg(
        F.sum("c_e6").alias("centroid_sum_e6"),
        F.sum(F.abs("c_e6")).alias("centroid_abs_e6"),
    )
    return sizes.join(sums, "cid").orderBy("cid")


@register(
    "q83_cluster_pruned_sample",
    "WITH " + _KM_CTES_DUCK + ","
    " d3 AS (SELECT e.vec_id, c.cid,"
    " CAST(sum((e.v_e6 - c.c_e6) * (e.v_e6 - c.c_e6)) AS BIGINT) AS d2"
    " FROM el e JOIN c2 c ON e.dim = c.dim GROUP BY e.vec_id, c.cid),"
    f" p3 AS (SELECT vec_id, min(d2 * {KMEANS_K} + cid) AS pk FROM d3"
    " GROUP BY vec_id),"
    f" a3 AS (SELECT vec_id, CAST(pk % {KMEANS_K} AS BIGINT) AS cid,"
    f" CAST(pk // {KMEANS_K} AS BIGINT) AS d2 FROM p3),"
    " r AS (SELECT vec_id, cid, d2,"
    " row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rn,"
    " count(*) OVER (PARTITION BY cid) AS nc FROM a3)"
    " SELECT vec_id, cid, d2, CAST(rn AS BIGINT) AS rnk FROM r"
    " WHERE 2 * rn <= nc + 1 ORDER BY cid, rnk",
    doc="Cluster-based corpus pruning (the SemDeDup / density-pruning"
    " recipe): assign every vector to its final q77 k-means centroid,"
    " keep the closest ceil(half) of each cluster by (d2, vec_id) —"
    " dropping the far tail of every semantic cluster, which is where"
    " near-duplicate and off-distribution examples concentrate."
    " Distances reuse the bit-exact integer pipeline and the packed"
    " argmin carries d2 along (pk DIV K) for free. The per-cluster"
    " rank window is keyed by centroid id: in production K grows with"
    " the corpus (SemDeDup uses ~10k-100k clusters), so partitions"
    " stay bounded and no global window exists.",
)
def q83(spark, sf_dir):
    from pyspark.sql import Window

    base = _km_base(spark, sf_dir)  # read by c0, a1/a2 recenters, a3
    c0 = _km_init_cents(base)
    c1 = _km_collect_cents(_km_recenter_local(_km_assigned(base, c0)))
    c2 = _km_collect_cents(_km_recenter_local(_km_assigned(base, c1)))
    a3 = base.select(
        "vec_id", F.expr(_km_packed_sql(c2)).alias("pk")
    ).select(
        "vec_id",
        (F.col("pk") % KMEANS_K).alias("cid"),
        F.expr(f"pk DIV {KMEANS_K}").alias("d2"),
    )
    wr = Window.partitionBy("cid").orderBy("d2", "vec_id")
    wc = Window.partitionBy("cid")
    return (
        a3.select(
            "vec_id",
            "cid",
            "d2",
            F.row_number().over(wr).cast("long").alias("rnk"),
            F.count("*").over(wc).alias("nc"),
        )
        .where(2 * F.col("rnk") <= F.col("nc") + 1)
        .select("vec_id", "cid", "d2", "rnk")
        .orderBy("cid", "rnk")
    )


# ---------------------------------------------------------------------------
# Incremental ANN ingestion — the vector-side analog of q63: a NEW batch
# of embeddings arrives, and the question is which of them are already
# semantically present in the indexed corpus. Candidate generation is the
# IVF machinery (assign both sides to the INDEX's centroids, compare only
# within the shared inverted list) — cost scales with batch x list, never
# corpus x corpus. Batch membership is a deterministic id predicate so
# the oracle sees the identical split.
# ---------------------------------------------------------------------------

BATCH_MOD = 10
BATCH_REM = 7  # vec_id % 10 == 7 -> the "newly arrived" ~10% batch


def _ingest_assign_cte(name: str, pred: str) -> str:
    dist = (
        f"-2.0 * {_dot_duck('e.embedding', 'c.cemb')}"
        f" + {_dot_duck('c.cemb', 'c.cemb')}"
    )
    return (
        f" d{name} AS (SELECT e.vec_id, c.cid, {dist} AS d"
        f" FROM embeddings e CROSS JOIN cent c WHERE {pred}),"
        f" {name} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,"
        " row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn"
        f" FROM d{name}) WHERE rn = 1)"
    )


_IDX_PRED = f"e.vec_id % {BATCH_MOD} != {BATCH_REM}"
_BAT_PRED = f"e.vec_id % {BATCH_MOD} = {BATCH_REM}"

_INGEST_COS = (
    f"{_dot_duck('be.embedding', 'ie.embedding')}"
    f" / (sqrt({_dot_duck('be.embedding', 'be.embedding')})"
    f" * sqrt({_dot_duck('ie.embedding', 'ie.embedding')}))"
)


@register(
    "q93_incremental_ann_ingest",
    "WITH cent AS (SELECT vec_id AS cid, embedding AS cemb"
    f" FROM embeddings WHERE vec_id % {BATCH_MOD} != {BATCH_REM}"
    f" ORDER BY vec_id LIMIT {N_CENTROIDS}),"
    + _ingest_assign_cte("ai", _IDX_PRED) + ","
    + _ingest_assign_cte("ab", _BAT_PRED) + ","
    " m AS (SELECT b.vec_id, count(*) AS n FROM ab b"
    " JOIN ai i ON b.cid = i.cid"
    " JOIN embeddings be ON be.vec_id = b.vec_id"
    " JOIN embeddings ie ON ie.vec_id = i.vec_id"
    f" WHERE {_INGEST_COS} >= {NEAR_DUP_COS} GROUP BY b.vec_id)"
    " SELECT b.vec_id, b.cid, CAST(coalesce(m.n, 0) AS BIGINT)"
    " AS n_similar, (coalesce(m.n, 0) > 0) AS is_present"
    " FROM ab b LEFT JOIN m ON b.vec_id = m.vec_id ORDER BY b.vec_id",
    doc="Incremental ANN ingestion (q63 for vectors): assign the newly-"
    " arrived batch (deterministic ~10% id slice) AND the indexed"
    " corpus to the index's IVF centroids, then test each batch vector"
    " for semantic presence (cosine >= threshold) against ONLY its own"
    " inverted list. Assignment is a per-row argmin over broadcast"
    " centroid literals (zero joins); the presence check joins on the"
    " list id, so cost scales with batch x list size — the corpus is"
    " never self-joined, and at production K (centroids grow with the"
    " corpus) lists stay bounded.",
)
def q93(spark, sf_dir):
    return incremental_ann_ingest(spark, sf_dir)


def incremental_ann_ingest(spark, sf_dir, k=N_CENTROIDS):
    """q93 with a parameterized centroid count: production grows K with
    the corpus so inverted lists stay bounded — tools/scale_probe.py
    probes exactly that configuration (K scaled with the inflation
    factor) instead of the fixture K."""
    emb = table(spark, sf_dir, "embeddings")
    idx = emb.where(F.col("vec_id") % BATCH_MOD != BATCH_REM)
    bat = emb.where(F.col("vec_id") % BATCH_MOD == BATCH_REM)
    rows = idx.orderBy("vec_id").limit(k).collect()
    cents = [(r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows]

    e = F.col("embedding")
    # norms projected per ROW below the cid join (q33 rule): the
    # batch x list fan-out used to re-fold both self-dots per PAIR.
    # sqrt of the same row-local fold is IEEE-identical either side
    # of the join, and the extra 8 bytes/row are nothing next to the
    # two dim-length folds each pair no longer pays.
    bi = bat.select(
        "vec_id",
        F.col("embedding").alias("b_emb"),
        _assign_expr(cents).alias("cid"),
        F.sqrt(dot_fold(e, e)).alias("bn"),
    )
    ii = idx.select(
        F.col("embedding").alias("i_emb"),
        _assign_expr(cents).alias("cid"),
        F.sqrt(dot_fold(e, e)).alias("inrm"),
    )
    be, ie = F.col("b_emb"), F.col("i_emb")
    cos = dot_fold(be, ie) / (F.col("bn") * F.col("inrm"))
    m = (
        bi.join(ii, "cid")
        .where(cos >= NEAR_DUP_COS)
        .groupBy("vec_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        bi.join(m, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_similar"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("is_present"),
        )
        .orderBy("vec_id")
    )


# The q50 hash-split POLICY applied to vec_id (documents and embeddings
# are id-aligned 1:1, so this is the SAME split the documents get) —
# derived from the one split generator, not re-spelled.
from smartbulkcopy_spark.pipeline.text import split_case_sql  # noqa: E402

_VSPLIT_SPARK = split_case_sql("spark", "vec_id")
_VSPLIT_DUCK = split_case_sql("duck", "vec_id")


@register(
    "q98_split_label_balance",
    f"WITH s AS (SELECT {_VSPLIT_DUCK} AS split, label FROM embeddings),"
    " h AS (SELECT split, CAST(label AS BIGINT) AS label,"
    " count(*) AS n_vecs FROM s GROUP BY split, label),"
    " t AS (SELECT split, CAST(sum(n_vecs) AS BIGINT) AS split_total"
    " FROM h GROUP BY split)"
    " SELECT h.split, h.label, h.n_vecs,"
    " CAST(h.n_vecs * 1000000 // t.split_total AS BIGINT) AS label_ppm"
    " FROM h JOIN t ON h.split = t.split ORDER BY h.split, h.label",
    doc="Class-balance audit across the hash split: per (split, label)"
    " counts and each label's within-split share in ppm — the check"
    " that a hash split did not concentrate a class in val/test (which"
    " silently skews every eval metric). Uses the q50 split expression"
    " on vec_id (id-aligned with documents, so it IS the document"
    " split). One partial-agg pass; the share join is against the"
    " 3-row split-total table, broadcast.",
)
def q98(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    h = (
        emb.select(
            F.expr(_VSPLIT_SPARK).alias("split"),
            F.col("label").cast("long").alias("label"),
        )
        .groupBy("split", "label")
        .agg(F.count("*").alias("n_vecs"))
    )
    t = h.groupBy("split").agg(F.sum("n_vecs").alias("split_total"))
    return (
        h.join(F.broadcast(t), "split")
        .select(
            "split",
            "label",
            "n_vecs",
            F.expr("n_vecs * 1000000 DIV split_total").alias("label_ppm"),
        )
        .orderBy("split", "label")
    )


@register(
    "q103_embedding_drift",
    "WITH el AS (SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS dim,"
    " CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000.0) AS BIGINT)"
    " AS v FROM embeddings,"
    f" (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i) t),"
    f" i AS (SELECT dim, CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))"
    f" AS BIGINT) AS mean_idx_e6 FROM el"
    f" WHERE vec_id % {BATCH_MOD} != {BATCH_REM} GROUP BY dim),"
    f" b AS (SELECT dim, CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))"
    f" AS BIGINT) AS mean_bat_e6 FROM el"
    f" WHERE vec_id % {BATCH_MOD} = {BATCH_REM} GROUP BY dim)"
    " SELECT i.dim, i.mean_idx_e6, b.mean_bat_e6,"
    " abs(i.mean_idx_e6 - b.mean_bat_e6) AS drift_e6"
    " FROM i JOIN b ON i.dim = b.dim ORDER BY i.dim",
    doc="Embedding distribution drift monitor: per-dimension means of"
    " the indexed corpus vs the newly-arrived batch (the q93 split),"
    " with the absolute delta — the cheap canary that the upstream"
    " embedding model changed or the data distribution shifted, which"
    " silently invalidates every ANN index and semantic-dedup"
    " threshold. q55 integer-mean rule throughout (floats floor-scaled"
    " per row, associative integer sums); one (dim, partials) shuffle"
    " per side and a 64-row join.",
)
def q103(spark, sf_dir):
    el = _km_el(spark, sf_dir)
    mean = F.floor(
        F.sum("v_e6").cast("double") / F.count("*")
    ).cast("long")
    idx = (
        el.where(F.col("vec_id") % BATCH_MOD != BATCH_REM)
        .groupBy("dim")
        .agg(mean.alias("mean_idx_e6"))
    )
    bat = (
        el.where(F.col("vec_id") % BATCH_MOD == BATCH_REM)
        .groupBy("dim")
        .agg(mean.alias("mean_bat_e6"))
    )
    return (
        idx.join(bat, "dim")
        .select(
            "dim",
            "mean_idx_e6",
            "mean_bat_e6",
            F.abs(
                F.col("mean_idx_e6") - F.col("mean_bat_e6")
            ).alias("drift_e6"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Cluster-separation audit over the q77 k-means state. Cluster counts
# and centroid checksums (q77) say nothing about whether the clustering
# is USABLE — IVF recall (q44/q47) and cluster-pruned sampling (q83)
# both degrade when clusters overlap. The standard diagnostic is the
# ratio of between-centroid distance to within-cluster spread (the
# Davies-Bouldin/Dunn family); this audit emits, per cluster, the exact
# scaled-int within-cluster mean squared distance and the nearest other
# centroid with its distance, plus the integer separation ratio. All
# arithmetic extends the q77 chain's scaled-int discipline (per-row
# folds + integer sums only), so the oracle reproduces it bit-for-bit.
# ---------------------------------------------------------------------------


@register(
    "q132_cluster_separation",
    "WITH " + _KM_CTES_DUCK + ","
    " nv AS (SELECT cid, count(*) AS n_vecs FROM a2 GROUP BY cid),"
    " wd AS (SELECT a.cid,"
    " CAST(sum((e.v_e6 - c.c_e6) * (e.v_e6 - c.c_e6)) AS BIGINT) AS wsum"
    " FROM el e JOIN a2 a ON e.vec_id = a.vec_id"
    " JOIN c2 c ON c.cid = a.cid AND c.dim = e.dim GROUP BY a.cid),"
    " cd AS (SELECT x.cid AS cid, y.cid AS other,"
    " CAST(sum((x.c_e6 - y.c_e6) * (x.c_e6 - y.c_e6)) AS BIGINT) AS d2"
    " FROM c2 x JOIN c2 y ON x.dim = y.dim AND x.cid != y.cid"
    " GROUP BY x.cid, y.cid),"
    f" nn AS (SELECT cid, CAST(min(d2 * {KMEANS_K} + other)"
    f" // {KMEANS_K} AS BIGINT) AS nearest_d2,"
    f" CAST(min(d2 * {KMEANS_K} + other) % {KMEANS_K} AS BIGINT)"
    " AS nearest_cid FROM cd GROUP BY cid)"
    " SELECT nv.cid, CAST(nv.n_vecs AS BIGINT) AS n_vecs,"
    " wd.wsum AS within_d2_sum,"
    " CAST(wd.wsum // nv.n_vecs AS BIGINT) AS within_d2_mean,"
    " nn.nearest_cid, nn.nearest_d2,"
    " CAST(1000 * nn.nearest_d2"
    " // greatest(wd.wsum // nv.n_vecs, 1) AS BIGINT) AS separation_e3"
    " FROM nv JOIN wd ON wd.cid = nv.cid JOIN nn ON nn.cid = nv.cid"
    " ORDER BY nv.cid",
    doc="Cluster-separation audit of the converged q77 k-means state:"
    " per cluster, exact scaled-int within-cluster mean squared"
    " distance, the nearest other centroid (packed integer argmin, the"
    " q77 convention) and its distance, and the integer separation"
    " ratio 1000*nearest_d2/within_mean — the Dunn-style signal that"
    " IVF probe counts and cluster-pruned sampling budgets are tuned"
    " from. Centroid pair distances explode row-local from ONE"
    " collected row of K centroid vectors (q127 bucket pattern, never"
    " an inequality self-join); within-distances reuse the broadcast"
    " centroid join + per-(vec,dim) integer sums.",
)
def q132(spark, sf_dir):
    base = _km_base(spark, sf_dir)  # read by c0, recenters, nv, wd
    c0 = _km_init_cents(base)
    c1 = _km_collect_cents(_km_recenter_local(_km_assigned(base, c0)))
    a2 = _km_assigned(base, c1)
    c2 = eager(_km_recenter_local(a2))  # consumed by cd (and collected)
    cvals = _km_collect_cents(c2)  # bounded 512-int read of the cache
    nv = a2.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    # within-cluster distance ROW-LOCALLY against the member's own
    # assigned centroid (CASE on cid selects the literal vector; only
    # the matched branch's fold evaluates) — the old spelling joined
    # the exploded corpus back through a2 and c2. Integer adds are
    # order-free: per-row fold + per-cid sum == the old flat sum.
    d2own = F.expr(
        "CASE cid "
        + " ".join(
            f"WHEN {cid} THEN aggregate(zip_with(varr, {sql_iarr(cv)},"
            " (x, y) -> (x - y) * (x - y)), 0L, (acc, e) -> acc + e)"
            for cid, cv in cvals
        )
        + " END"
    )
    wd = (
        a2.select("cid", d2own.alias("dd"))
        .groupBy("cid")
        .agg(F.sum("dd").alias("wsum"))
    )
    cent_rows = c2.groupBy("cid").agg(
        F.sort_array(F.collect_list(F.struct("dim", "c_e6"))).alias("v")
    )
    one = cent_rows.agg(
        F.sort_array(F.collect_list(F.struct("cid", "v"))).alias("cs")
    )
    pairs = one.select(
        F.explode(
            F.expr(
                "flatten(transform(cs, a -> transform("
                " filter(cs, b -> b.cid != a.cid),"
                " b -> named_struct('cid', a.cid, 'other', b.cid,"
                " 'd2', aggregate(zip_with(a.v, b.v,"
                " (x, y) -> (x.c_e6 - y.c_e6) * (x.c_e6 - y.c_e6)),"
                " 0L, (acc, e) -> acc + e)))))"
            )
        ).alias("p")
    ).select("p.cid", "p.other", "p.d2")
    packed = F.min(
        F.col("d2") * KMEANS_K + F.col("other")
    )
    nn = pairs.groupBy("cid").agg(
        F.expr(f"min(d2 * {KMEANS_K} + other) DIV {KMEANS_K}")
        .cast("long")
        .alias("nearest_d2"),
        (packed % KMEANS_K).cast("long").alias("nearest_cid"),
    )
    mean_d2 = F.expr("wsum DIV n_vecs").cast("long")
    return (
        nv.join(wd, "cid")
        .join(nn, "cid")
        .select(
            "cid",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("wsum").alias("within_d2_sum"),
            mean_d2.alias("within_d2_mean"),
            "nearest_cid",
            "nearest_d2",
            F.expr(
                "1000 * nearest_d2 DIV greatest(wsum DIV n_vecs, 1)"
            )
            .cast("long")
            .alias("separation_e3"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Product quantization: the vector-compression step between q74's scalar
# quantizer and q36's IVF index. The embedding splits into PQ_M
# subspaces; each subvector is assigned to the nearest of PQ_K codewords
# (deterministic sample — training is an offline concern, the engine
# demonstrates the assignment machinery, exactly the q36 centroid
# convention). Codes histogram per (subspace, code); per-row quantization
# error floor-scales to int e6 before the cross-row sum (q55 rule). At
# 100 TB the assignment is a per-row argmin over 4x8 broadcast codeword
# literals — zero joins, and the emitted (m, code) pair is the 1-byte/
# subspace compressed representation an ANN serving tier stores.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB = EMBED_DIM // PQ_M  # dims per subspace
PQ_K = 8  # codewords per subspace


def _pq_codebooks(spark, sf_dir):
    """codebooks[m] = [(code_id, subvector)] — subvector slices of the
    PQ_K lowest-vec_id embeddings (deterministic, the q36 convention)."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(PQ_K)
        .collect()
    )
    return [
        [
            (
                r["vec_id"],
                [float(v) for v in r["embedding"]][
                    m * PQ_SUB : (m + 1) * PQ_SUB
                ],
            )
            for r in rows
        ]
        for m in range(PQ_M)
    ]


def _pq_duck_cte() -> str:
    dist = (
        f"-2.0 * {_dot_duck('s.ev', 'c.cv')}"
        f" + {_dot_duck('c.cv', 'c.cv')}"
    )
    return (
        "base AS (SELECT vec_id AS code, embedding FROM embeddings"
        f" ORDER BY vec_id LIMIT {PQ_K}),"
        f" grid AS (SELECT unnest(range(0, {PQ_M})) AS m),"
        " cod AS (SELECT m, code,"
        f" embedding[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS cv"
        " FROM base CROSS JOIN grid),"
        " sub AS (SELECT vec_id, m,"
        f" embedding[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS ev"
        " FROM embeddings CROSS JOIN grid),"
        f" dists AS (SELECT s.vec_id, s.m, c.code, {dist} AS d,"
        f" {_dot_duck('s.ev', 's.ev')} AS ee"
        " FROM sub s JOIN cod c ON c.m = s.m),"
        " assign AS (SELECT vec_id, m, code, d, ee, row_number()"
        " OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn"
        " FROM dists)"
    )


@register(
    "q141_pq_code_assignment",
    "WITH " + _pq_duck_cte()
    + " SELECT m, code, CAST(count(*) AS BIGINT) AS n_vecs,"
    " CAST(sum(CAST(floor(greatest(ee + d, 0.0) * 1000000.0) AS BIGINT))"
    " AS BIGINT) AS err_e6"
    " FROM assign WHERE rn = 1 GROUP BY m, code ORDER BY m, code",
    doc="Product-quantization code assignment: each of PQ_M=4 subvector"
    " slices maps to its nearest of PQ_K=8 deterministic codewords (the"
    " q36 sampled-centroid convention — training is offline; the engine"
    " demonstrates assignment). Per-row argmin over broadcast codeword"
    " literals via the -2*e.c + c.c surrogate (the e.e term cancels out"
    " of the argmin); the reported quantization error restores e.e and"
    " floor-scales per row to int e6 before the cross-row sum (q55"
    " rule). Output: (subspace, code) histogram + error mass — the code"
    " balance a PQ serving tier monitors. The oracle cross-joins only"
    " because DuckDB has no broadcast concept, bounded at N x 4 x 8.",
)
def q141(spark, sf_dir):
    books = _pq_codebooks(spark, sf_dir)
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    # whole per-row pipeline emitted as ONE SQL string (q188 rule);
    # codegen's subexpression elimination dedupes the two `best`
    # references exactly as it did the Column spelling's.
    structs = []
    for m, book in enumerate(books):
        ev = _pq_ev_sql(m)
        best = _pq_best_sql(m, book)
        structs.append(
            f"named_struct('m', CAST({m} AS BIGINT),"
            f" 'code', ({best}).code,"
            f" 'err_e6', CAST(floor(greatest({sql_dot(ev, ev)}"
            f" + ({best}).d, 0.0D) * 1000000.0D) AS BIGINT))"
        )
    return (
        emb.select(
            F.expr("explode(array(" + ",".join(structs) + "))").alias("a")
        )
        .select("a.m", "a.code", "a.err_e6")
        .groupBy("m", "code")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("err_e6").alias("err_e6"),
        )
        .orderBy("m", "code")
    )


def _py_fold_dot(vec) -> float:
    """Left-to-right 0.0-seeded self-dot — bit-identical to dot_fold /
    _dot_duck on the same values."""
    acc = 0.0
    for v in vec:
        acc = acc + v * v
    return acc


def _pq_ev_sql(m: int) -> str:
    """The m-th subvector slice as SQL (1-based, the F.slice twin)."""
    return f"slice(embedding, {m * PQ_SUB + 1}, {PQ_SUB})"


def _pq_best_sql(m: int, book, extra=None) -> str:
    """q141's per-subspace argmin struct — array_min over
    named_struct('d', -2*e.c + c.c, 'code', code[, extra]) — generated
    as ONE SQL string (the q188 rule: the per-codeword Column spelling
    cost ~3 s of py4j round-trips per query build at PQ_M x PQ_K = 32
    codewords, vs ~1 s of execution). sql_dot reproduces dot_fold and
    the Python c.c fold is _py_fold_dot, so the emitted expression is
    the identical IEEE chain; array_min tie-breaks on the code field
    exactly as the struct Column did. extra: (code, cv) -> additional
    named_struct fields (q145's ADC lookup literal)."""
    ev = _pq_ev_sql(m)
    cands = []
    for code, cv in book:
        fields = (
            f"'d', -2.0D * {sql_dot(ev, sql_darr(cv))}"
            f" + {float(_py_fold_dot(cv))!r}D,"
            f" 'code', CAST({int(code)} AS BIGINT)"
        )
        if extra is not None:
            fields += ", " + extra(code, cv)
        cands.append(f"named_struct({fields})")
    return "array_min(array(" + ",".join(cands) + "))"


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training: for each vector, the
# most-similar vector carrying a DIFFERENT label — the negatives that
# actually move a metric-learning loss. Candidate generation is the q33
# hyperplane bucket (never all-pairs); the per-vector argmax is a
# row_number window over bucket-sized groups. Vectors whose bucket holds
# no different-label neighbor drop out (nothing to mine there without
# widening the probe — q43 demonstrates multiprobe).
# ---------------------------------------------------------------------------


@register(
    "q143_hard_negative_mining",
    "WITH b AS (SELECT vec_id, label, embedding,"
    f" CAST({bucket_expr('duck')} AS BIGINT) AS bk FROM embeddings),"
    " p AS (SELECT x.vec_id AS a_id, CAST(x.label AS BIGINT) AS a_label,"
    " y.vec_id AS neg_id, CAST(y.label AS BIGINT) AS neg_label,"
    f" {_dot_duck('x.embedding', 'y.embedding')}"
    f" / (sqrt({_dot_duck('x.embedding', 'x.embedding')})"
    f" * sqrt({_dot_duck('y.embedding', 'y.embedding')})) AS cos"
    " FROM b x JOIN b y ON x.bk = y.bk AND x.label != y.label),"
    " r AS (SELECT a_id, a_label, neg_id, neg_label, cos, row_number()"
    " OVER (PARTITION BY a_id ORDER BY cos DESC, neg_id) AS rn FROM p)"
    " SELECT a_id, a_label, neg_id, neg_label,"
    " CAST(floor(10000.0 * cos) AS BIGINT) AS cos_e4"
    " FROM r WHERE rn = 1 ORDER BY a_id",
    doc="Hard-negative mining: per vector, the highest-cosine neighbor"
    " with a different label inside its hyperplane LSH bucket — the"
    " negatives a contrastive loss actually learns from. Bucketed"
    " candidate generation (q33 plan shape: one shuffle on the 1-byte"
    " bucket key, never all-pairs); per-vector argmax is a row_number"
    " window over bucket-sized groups; cosine floor-scales e4 per row."
    " Vectors with no different-label bucket-mate drop out (multiprobe"
    " widening is q43's demonstrated path).",
)
def q143(spark, sf_dir):
    from pyspark.sql import Window

    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    e = F.col("embedding")
    bucketed = eager(
        emb.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            "embedding",
            bucket_col().cast("bigint").alias("bk"),
            # per-vector norm in the cache (q33 rule): 1 fold per pair
            # instead of 3; sqrt of the same row-local fold is
            # IEEE-identical wherever computed.
            F.sqrt(dot_fold(e, e)).alias("nrm"),
        )
    )
    x = bucketed.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("ea"),
        "bk",
        F.col("nrm").alias("na"),
    )
    y = bucketed.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("eb"),
        "bk",
        F.col("nrm").alias("nb"),
    )
    ea, eb = F.col("ea"), F.col("eb")
    cos = dot_fold(ea, eb) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), "neg_id")
    return (
        x.join(y, "bk")
        .where(F.col("a_label") != F.col("neg_label"))
        .select("a_id", "a_label", "neg_id", "neg_label", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "a_id",
            "a_label",
            "neg_id",
            "neg_label",
            F.floor(10000.0 * F.col("cos")).cast("bigint").alias("cos_e4"),
        )
        .orderBy("a_id")
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC) + recall audit — the serving-side
# half of the q141 compression path. The query is never quantized: per
# subspace, the distance from the query's subvector to each of the 8
# codewords is a driver-side lookup table, and a database vector's
# approximate distance is the sum of the 4 table entries its codes
# select. The argmin struct carries the query-distance literal alongside
# the code, so assignment and lookup are ONE per-row expression — zero
# joins, no 8-way CASE re-evaluating the argmin. Recall@10 against the
# exact L2 ranking rides along, q47's quality-not-just-determinism rule.
# ---------------------------------------------------------------------------


@register(
    "q145_pq_adc_recall",
    "WITH " + _pq_duck_cte()
    + ", q AS (SELECT vec_id, embedding FROM embeddings"
    " ORDER BY vec_id LIMIT 1),"
    " qs AS (SELECT g.m,"
    f" q.embedding[g.m * {PQ_SUB} + 1 : g.m * {PQ_SUB} + {PQ_SUB}] AS qv"
    " FROM q CROSS JOIN grid g),"
    " qd AS (SELECT c.m, c.code,"
    f" (({_dot_duck('qs.qv', 'qs.qv')}"
    f" - 2.0 * {_dot_duck('qs.qv', 'c.cv')})"
    f" + {_dot_duck('c.cv', 'c.cv')}) AS qdist"
    " FROM cod c JOIN qs ON qs.m = c.m),"
    " adcv AS (SELECT a.vec_id,"
    " list_reduce(list(qd.qdist ORDER BY a.m), (x, y) -> x + y) AS adc"
    " FROM assign a JOIN qd ON qd.m = a.m AND qd.code = a.code"
    " WHERE a.rn = 1 AND a.vec_id != (SELECT vec_id FROM q)"
    " GROUP BY a.vec_id),"
    " ar AS (SELECT vec_id,"
    " CAST(floor(adc * 1000000.0) AS BIGINT) AS adc_e6 FROM adcv),"
    " ark AS (SELECT vec_id, adc_e6, CAST(row_number()"
    " OVER (ORDER BY adc_e6, vec_id) AS BIGINT) AS rank FROM ar),"
    " ex AS (SELECT e.vec_id,"
    f" (({_dot_duck('q.embedding', 'q.embedding')}"
    f" - 2.0 * {_dot_duck('q.embedding', 'e.embedding')})"
    f" + {_dot_duck('e.embedding', 'e.embedding')}) AS d"
    " FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.vec_id),"
    " exk AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY"
    " CAST(floor(d * 1000000.0) AS BIGINT), vec_id) AS BIGINT)"
    " AS exact_rank FROM ex)"
    " SELECT ark.rank, ark.vec_id, ark.adc_e6,"
    " CASE WHEN exk.exact_rank <= 10 THEN exk.exact_rank END"
    " AS exact_rank,"
    " CAST(CASE WHEN exk.exact_rank <= 10 THEN 1 ELSE 0 END AS BIGINT)"
    " AS hit"
    " FROM ark LEFT JOIN exk ON exk.vec_id = ark.vec_id"
    " WHERE ark.rank <= 10 ORDER BY ark.rank",
    doc="PQ asymmetric-distance (ADC) top-10 + recall vs the exact L2"
    " ranking: the query stays unquantized; per subspace its distance"
    " to each codeword is a driver-side lookup literal riding INSIDE"
    " the assignment argmin struct, so code selection and table lookup"
    " are one per-row expression — zero joins, the 100 TB plan is a"
    " scan plus TakeOrderedAndProject. Distances floor-scale e6 per"
    " row before ranking; exact_rank joins in over the two 10-row"
    " sets (q47 rule: the driver gate tracks ANN QUALITY, not just"
    " determinism).",
)
def q145(spark, sf_dir):
    from pyspark.sql import Window

    books = _pq_codebooks(spark, sf_dir)
    emb0 = table(spark, sf_dir, "embeddings")
    qrow = emb0.orderBy("vec_id").first()
    qid = int(qrow["vec_id"])
    qvec = [float(v) for v in qrow["embedding"]]

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    emb = spread(spark, emb0).where(F.col("vec_id") != qid)
    # per-subspace argmin with the ADC table entry riding as a struct
    # field, emitted as ONE SQL string (q188 rule); the + chain stays
    # left-associative exactly like the old Column fold.
    terms = []
    for m, book in enumerate(books):
        qm = qvec[m * PQ_SUB : (m + 1) * PQ_SUB]
        qq = fold_dot(qm, qm)

        def _qd(code, cv, qm=qm, qq=qq):
            # the ADC table entry for this codeword — picked up for
            # free when the argmin selects the struct
            v = (qq - 2.0 * fold_dot(qm, cv)) + _py_fold_dot(cv)
            return f"'qd', {float(v)!r}D"

        terms.append(f"({_pq_best_sql(m, book, _qd)}).qd")
    adc = F.expr(" + ".join(f"({t})" for t in terms))
    approx = (
        emb.select(
            "vec_id",
            F.floor(adc * F.lit(1000000.0)).cast("long").alias("adc_e6"),
        )
        .orderBy("adc_e6", "vec_id")
        .limit(10)
    )
    w10 = Window.orderBy("adc_e6", "vec_id")
    ark = approx.withColumn(
        "rank", F.row_number().over(w10).cast("long")
    )

    qq_full = fold_dot(qvec, qvec)
    qlit = F.expr(sql_darr(qvec))
    e = F.col("embedding")
    d_exact = (F.lit(qq_full) - 2.0 * dot_fold(qlit, e)) + dot_fold(e, e)
    exact = (
        emb.select(
            "vec_id",
            F.floor(d_exact * F.lit(1000000.0)).cast("long").alias("d_e6"),
        )
        .orderBy("d_e6", "vec_id")
        .limit(10)
    )
    wex = Window.orderBy("d_e6", "vec_id")
    exk = exact.withColumn(
        "exact_rank", F.row_number().over(wex).cast("long")
    ).select("vec_id", "exact_rank")

    return (
        ark.join(F.broadcast(exk), "vec_id", "left")
        .select(
            "rank",
            "vec_id",
            "adc_e6",
            "exact_rank",
            F.when(F.col("exact_rank").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("hit"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# PQ codebook refresh (SURVEY §7.5 item 5) — one unrolled k-means round
# over the q141 assignment: every vector joins its nearest codeword per
# subspace, and each codeword's refreshed position is the MEAN of its
# assigned subvectors. Reported per (subspace, code): the assignment
# count and the centroid DRIFT mass — the signal a serving tier watches
# to decide when the codebook needs retraining. Division never happens:
# drift_e6 = sum_d |sum_rows(xs_d) - n * cs_d| (xs/cs floor-scaled e6
# per row/per literal — the q55 rule), which is n x the L1 movement of
# the mean in scaled space, all integer arithmetic so the engines agree
# bit-for-bit and negative components can't hit the DIV-vs-floor
# divergence. At 100 TB: assignment is the same zero-join broadcast-
# literal argmin as q141; the per-dim sums shuffle on (m, code, d) —
# 512 groups — with map-side partial aggregation doing all the work.
# ---------------------------------------------------------------------------


@register(
    "q181_pq_codebook_refresh",
    "WITH " + _pq_duck_cte()
    + ", a1 AS (SELECT vec_id, m, code FROM assign WHERE rn = 1),"
    f" dims AS (SELECT unnest(range(1, {PQ_SUB} + 1)) AS d),"
    " sxe AS (SELECT a1.m, a1.code, dims.d,"
    " CAST(floor(CAST(s.ev[CAST(dims.d AS INT)] AS DOUBLE)"
    " * 1000000.0) AS BIGINT)"
    " AS xs"
    " FROM a1 JOIN sub s ON s.vec_id = a1.vec_id AND s.m = a1.m"
    " CROSS JOIN dims),"
    " ag AS (SELECT m, code, d, sum(xs) AS sx,"
    " CAST(count(*) AS BIGINT) AS n FROM sxe GROUP BY m, code, d),"
    " cods AS (SELECT m, code, dims.d,"
    " CAST(floor(CAST(cv[CAST(dims.d AS INT)] AS DOUBLE)"
    " * 1000000.0) AS BIGINT) AS cs"
    " FROM cod CROSS JOIN dims),"
    " dr AS (SELECT ag.m, ag.code,"
    " CAST(max(ag.n) AS BIGINT) AS n_vecs,"
    " CAST(sum(abs(ag.sx - ag.n * cods.cs)) AS BIGINT) AS drift_e6"
    " FROM ag JOIN cods ON cods.m = ag.m AND cods.code = ag.code"
    " AND cods.d = ag.d GROUP BY ag.m, ag.code)"
    " SELECT CAST(cod.m AS BIGINT) AS m, CAST(cod.code AS BIGINT)"
    " AS code, CAST(coalesce(dr.n_vecs, 0) AS BIGINT) AS n_vecs,"
    " CAST(coalesce(dr.drift_e6, 0) AS BIGINT) AS drift_e6"
    " FROM cod LEFT JOIN dr ON dr.m = cod.m AND dr.code = cod.code"
    " ORDER BY m, code",
    doc="PQ codebook refresh — one unrolled k-means round over the"
    " q141 assignment: per (subspace, code), the assignment count and"
    " the centroid drift mass sum_d |sum(xs_d) - n * cs_d| with both"
    " operands floor-scaled e6 (q55 rule) — n x the L1 movement of the"
    " refreshed mean, computed WITHOUT division so negative embedding"
    " components can't hit the Spark-DIV-vs-DuckDB-floor divergence."
    " Assignment is q141's zero-join broadcast-literal argmin; the"
    " per-dim sums shuffle on (m, code, d) = 512 bounded groups with"
    " map-side partial aggregation; never-assigned codewords surface"
    " with n_vecs = 0 via the 32-row driver-side code grid (q52/q102"
    " bounded-literal rule).",
)
def q181(spark, sf_dir):
    import math

    import pyspark.sql.types as _T

    books = _pq_codebooks(spark, sf_dir)
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    # per-subspace argmin + scaled subvector as ONE SQL string (q188
    # rule — the Column spelling was ~3 s of py4j build per run)
    structs = [
        f"named_struct('m', CAST({m} AS BIGINT),"
        f" 'code', ({_pq_best_sql(m, book)}).code,"
        f" 'xs', transform({_pq_ev_sql(m)},"
        " x -> CAST(floor(x * 1000000.0) AS BIGINT)))"
        for m, book in enumerate(books)
    ]
    rows = (
        emb.select(
            F.expr("explode(array(" + ",".join(structs) + "))").alias("a")
        )
        .select("a.m", "a.code", F.posexplode("a.xs").alias("d0", "xs"))
        .select(
            "m", "code", (F.col("d0") + 1).cast("long").alias("d"), "xs"
        )
    )
    ag = rows.groupBy("m", "code", "d").agg(
        F.sum("xs").alias("sx"), F.count("*").cast("long").alias("n")
    )
    grid_schema = _T.StructType(
        [
            _T.StructField("m", _T.LongType()),
            _T.StructField("code", _T.LongType()),
            _T.StructField("d", _T.LongType()),
            _T.StructField("cs", _T.LongType()),
        ]
    )
    cods = spark.createDataFrame(
        [
            (m, int(code), d + 1, math.floor(cv[d] * 1000000.0))
            for m, book in enumerate(books)
            for code, cv in book
            for d in range(PQ_SUB)
        ],
        grid_schema,
    )
    dr = (
        ag.join(F.broadcast(cods), ["m", "code", "d"])
        .groupBy("m", "code")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.sum(F.abs(F.col("sx") - F.col("n") * F.col("cs")))
            .cast("long")
            .alias("drift_e6"),
        )
    )
    grid32 = spark.createDataFrame(
        [
            (m, int(code))
            for m, book in enumerate(books)
            for code, _cv in book
        ],
        _T.StructType(
            [
                _T.StructField("m", _T.LongType()),
                _T.StructField("code", _T.LongType()),
            ]
        ),
    )
    return (
        grid32.join(dr, ["m", "code"], "left")
        .select(
            "m",
            "code",
            F.coalesce(F.col("n_vecs"), F.lit(0))
            .cast("long")
            .alias("n_vecs"),
            F.coalesce(F.col("drift_e6"), F.lit(0))
            .cast("long")
            .alias("drift_e6"),
        )
        .orderBy("m", "code")
    )


# ---------------------------------------------------------------------------
# Hierarchical (tree) quantizer assignment — the scale fix for flat
# coarse assignment. q93/q141 assign with an argmin over ALL K centroid
# literals, so per-row cost grows with K; with K scaled to the corpus
# (the bounded-inverted-list rule) the cost is super-linear BY
# CONSTRUCTION — rows x K, asymptote 2.0 (the deep probe's q93 rows
# in SCALE.md carry the measured trend). The tree
# walk brings per-row cost to BRANCH x ceil(log_BRANCH K): leaves are
# the K lowest-vec_id embeddings (q36 convention) grouped into
# consecutive BRANCH-ary subtrees whose pivot is their FIRST leaf (a
# data-point pivot — no averaging, so the tree is deterministic and
# oracle-expressible); each level picks the nearest pivot and descends.
# The whole walk is ONE row-local expression chain: per level, a map
# LITERAL (group -> children) is probed with element_at and the argmin
# folds over <= BRANCH candidate structs — zero joins, zero shuffles,
# and each level's index feeds the next via a precomputed child index
# so the expression stays LINEAR in K (no CASE-tree blowup). Standard
# IVF tradeoff: assignment is approximate (a vector may beat a pivot
# but lose in its subtree); the oracle replays the identical walk.
# ---------------------------------------------------------------------------

TREE_LEAVES = 16  # fixture K (probe scales it with the corpus)
TREE_BRANCH = 4  # fanout per level -> depth 2 at the fixture K


def _tree_levels(leaves, branch):
    """Per-level child tables for the walk. Level l (1-based, L total)
    partitions the leaf list into groups of branch**(L-l+1) consecutive
    leaves; each group's children are its branch subgroups, represented
    by (next_index_or_code, pivot_vector). Intermediate children carry
    the NEXT level's global group index (c * branch + j, precomputed so
    the walk never re-references the running index twice); last-level
    children carry the leaf code itself."""
    import math

    K = len(leaves)
    L = max(1, math.ceil(math.log(K, branch)))
    levels = []
    for l in range(1, L + 1):
        gsub = branch ** (L - l)
        gcur = gsub * branch
        groups = {}
        for c in range((K + gcur - 1) // gcur):
            children = []
            for j in range(branch):
                base = c * gcur + j * gsub
                if base >= K:
                    break
                if l == L:
                    code, vec = leaves[base]
                    children.append((int(code), vec))
                else:
                    children.append((c * branch + j, leaves[base][1]))
            groups[c] = children
        levels.append(groups)
    return levels


def _tree_walk_expr(levels):
    """The assignment walk as one column expression: returns a struct
    (d, jn) where jn is the chosen leaf code and d its distance
    surrogate (-2 e.c + c.c, the q141 spelling).

    Generated as ONE SQL string + a single F.expr — the per-node Column
    API spelling cost 3.5-4.0 s of py4j round-trips per build on the
    depth-3 tree (~5,400 expression nodes) vs 0.3-0.6 s of execution
    (guide §1: the q188 bench number was driver build time, not
    compute). Same tree: named_struct fields, map lookup, transform,
    array_min tie-breaking and the dot fold are the identical
    expressions the Column spelling produced."""

    def child_struct(idx, vec):
        return (
            f"named_struct('jn', {int(idx)}, 'v', {sql_darr(vec)},"
            f" 'c2', {float(_py_fold_dot(vec))!r}D)"
        )

    cur = "0"
    pick = None
    for groups in levels:
        entries = []
        for c in sorted(groups):
            arr = (
                "array("
                + ",".join(child_struct(j, vec) for j, vec in groups[c])
                + ")"
            )
            entries.append(f"{int(c)}, {arr}")
        mp = "map(" + ", ".join(entries) + ")"
        cands = (
            f"transform(element_at({mp}, {cur}), x -> named_struct("
            f"'d', -2.0D * {sql_dot('embedding', 'x.v')} + x.c2,"
            " 'jn', x.jn))"
        )
        pick = f"array_min({cands})"  # ties -> lower child index/code
        cur = f"({pick}).jn"
    return F.expr(pick)


def tree_assignment(spark, sf_dir, k=TREE_LEAVES, branch=TREE_BRANCH):
    """(code, n_vecs, err_e6) per assigned leaf — a builder parameterized
    by k so a probe can scale it (k grows with the corpus, depth with
    log k) while q183 registers the fixture configuration."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    leaves = [
        (r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows
    ]
    levels = _tree_levels(leaves, branch)
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    e = F.col("embedding")
    sel = emb.select("embedding", _tree_walk_expr(levels).alias("p"))
    per_row = sel.select(
        F.col("p")["jn"].cast("long").alias("code"),
        F.floor(
            F.greatest(dot_fold(e, e) + F.col("p")["d"], F.lit(0.0))
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("err_e6"),
    )
    return (
        per_row.groupBy("code")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("err_e6").cast("long").alias("err_e6"),
        )
        .orderBy("code")
    )


_Q183_DIST_B = (
    f"-2.0 * {_dot_duck('e.embedding', 'b.embedding')}"
    f" + {_dot_duck('b.embedding', 'b.embedding')}"
)


def _tree_walk_ctes(leaves: int, branch: int) -> str:
    """The DuckDB replay of `_tree_levels` + `_tree_walk_expr`,
    GENERATED from the same (leaves, branch) constants so the oracle
    cannot desynchronize from the Spark walk when either changes
    (round-10 advice: the previous hand-written two-level chain was
    only correct while depth == 2). Produces the CTE chain
    base -> lv1/g1 -> ... -> lvL -> ta(vec_id, code, err): per level,
    candidates are the pivots of the current group (rk % gsub = 0
    inside rk // gcur = g) and the argmin descends; ties break on rk,
    which within a group is the Spark walk's child-index/leaf-code
    order (base is vec_id-ordered)."""
    import math

    L = max(1, math.ceil(math.log(leaves, branch)))
    parts = [
        "base AS MATERIALIZED (SELECT vec_id AS code, embedding,"
        " row_number() OVER (ORDER BY vec_id) - 1 AS rk"
        " FROM (SELECT vec_id, embedding FROM embeddings"
        f" ORDER BY vec_id LIMIT {leaves}))"
    ]
    for lvl in range(1, L + 1):
        gsub = branch ** (L - lvl)
        gcur = gsub * branch
        grp = (
            f"b.rk // {gcur} = 0"
            if lvl == 1
            else f"b.rk // {gcur} = g{lvl - 1}.g"
        )
        piv = f" AND b.rk % {gsub} = 0" if gsub > 1 else ""
        src = (
            "embeddings e"
            if lvl == 1
            else f"embeddings e JOIN g{lvl - 1}"
            f" ON g{lvl - 1}.vec_id = e.vec_id"
        )
        if lvl < L:
            parts.append(
                f", lv{lvl} AS (SELECT e.vec_id,"
                f" b.rk // {gsub} AS nxt,"
                " row_number() OVER (PARTITION BY e.vec_id"
                f" ORDER BY {_Q183_DIST_B}, b.rk) AS rn"
                f" FROM {src} JOIN base b ON {grp}{piv})"
                f", g{lvl} AS (SELECT vec_id, nxt AS g"
                f" FROM lv{lvl} WHERE rn = 1)"
            )
        else:
            parts.append(
                f", lv{lvl} AS (SELECT e.vec_id, b.code,"
                f" {_Q183_DIST_B} AS d,"
                f" {_dot_duck('e.embedding', 'e.embedding')} AS ee,"
                " row_number() OVER (PARTITION BY e.vec_id"
                f" ORDER BY {_Q183_DIST_B}, b.rk) AS rn"
                f" FROM {src} JOIN base b ON {grp}{piv})"
            )
    parts.append(
        ", ta AS (SELECT vec_id, code,"
        " CAST(floor(greatest(ee + d, 0.0) * 1000000.0) AS BIGINT)"
        f" AS err FROM lv{L} WHERE rn = 1)"
    )
    return "".join(parts)


_TREE_HIST_SELECT = (
    " SELECT CAST(code AS BIGINT) AS code,"
    " CAST(count(*) AS BIGINT) AS n_vecs,"
    " CAST(sum(err) AS BIGINT) AS err_e6"
    " FROM ta GROUP BY code ORDER BY code"
)


@register(
    "q183_ann_tree_assignment",
    "WITH " + _tree_walk_ctes(TREE_LEAVES, TREE_BRANCH)
    + _TREE_HIST_SELECT,
    doc=f"Hierarchical quantizer assignment: {TREE_LEAVES} leaves in a"
    f" {TREE_BRANCH}-ary pivot tree (pivot = first leaf of each"
    " subtree, the q36 deterministic convention) walked ROW-LOCALLY —"
    " per level, element_at on a map literal yields <= BRANCH"
    " candidate structs and an array_min fold descends; zero joins,"
    " zero shuffles, per-row cost BRANCH x depth instead of q93/q141's"
    " flat K. THE scale fix for flat assignment's rows x K cost, which"
    " is super-linear once K grows with the corpus; BRANCH x log K is"
    " not (both probed at 16x/32x in SCALE.md deep probes). The"
    " assignment is approximate in the standard IVF-tree sense; the"
    " oracle replays the identical walk (CTE chain GENERATED from the"
    " same constants, so depth changes cannot desynchronize the"
    " engines). Output: per-leaf histogram + floor-scaled quantization"
    " error mass (q141 spelling).",
)
def q183(spark, sf_dir):
    return tree_assignment(spark, sf_dir)


# ---------------------------------------------------------------------------
# IVF inverted-list rebalancing audit (SURVEY §7.5 round-11 item a) —
# q181's drift readout applied to the COARSE index the way q181 applies
# it to the PQ codebooks: after the q93 batch ingests into the index's
# inverted lists, which lists absorbed the new mass, and how skewed did
# they get? Per centroid: the pre-ingest list size, the batch arrivals,
# the post-ingest total, its corpus share, and the list's relative
# growth — the signals a serving tier thresholds to decide when the
# coarse quantizer needs retraining (lists too hot = probe cost blows
# up; growth concentrated in one list = the batch distribution drifted
# off the trained centroids). All-integer ppm arithmetic (non-negative
# operands, so Spark DIV == DuckDB //); the corpus total is a bounded
# 1-row driver scalar (q52/q102 rule). Assignment is q93's zero-join
# broadcast-literal argmin over the INDEX-trained centroids; the only
# shuffle carries (cid, two partial counters) into <= K groups.
# ---------------------------------------------------------------------------

_Q186_DIST = (
    f"-2.0 * {_dot_duck('e.embedding', 'c.cemb')}"
    f" + {_dot_duck('c.cemb', 'c.cemb')}"
)


@register(
    "q186_ivf_list_rebalance",
    "WITH cent AS (SELECT vec_id AS cid, embedding AS cemb"
    f" FROM embeddings WHERE vec_id % {BATCH_MOD} != {BATCH_REM}"
    f" ORDER BY vec_id LIMIT {N_CENTROIDS}),"
    f" dd AS (SELECT e.vec_id, c.cid, {_Q186_DIST} AS d"
    " FROM embeddings e CROSS JOIN cent c),"
    " assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,"
    " row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn"
    " FROM dd) WHERE rn = 1),"
    " m AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_total,"
    f" CAST(sum(CASE WHEN vec_id % {BATCH_MOD} = {BATCH_REM}"
    " THEN 1 ELSE 0 END) AS BIGINT) AS n_batch"
    " FROM assign GROUP BY cid),"
    " t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM embeddings)"
    " SELECT CAST(c.cid AS BIGINT) AS cid,"
    " CAST(coalesce(m.n_total - m.n_batch, 0) AS BIGINT) AS n_index,"
    " CAST(coalesce(m.n_batch, 0) AS BIGINT) AS n_batch,"
    " CAST(coalesce(m.n_total, 0) AS BIGINT) AS n_total,"
    " CAST(coalesce(m.n_total, 0) * 1000000 // t.nn AS BIGINT)"
    " AS share_ppm,"
    " CAST(coalesce(m.n_batch, 0) * 1000000"
    " // greatest(coalesce(m.n_total - m.n_batch, 0), 1) AS BIGINT)"
    " AS growth_ppm"
    " FROM cent c LEFT JOIN m ON m.cid = c.cid CROSS JOIN t"
    " ORDER BY cid",
    doc="IVF inverted-list rebalancing audit — q181's drift readout for"
    " the COARSE index: after the q93 batch (the deterministic ~10% id"
    " slice) ingests, each centroid's pre-ingest list size, batch"
    " arrivals, post-ingest total, corpus share (ppm), and relative"
    " list growth (ppm vs the pre-ingest size) — the retrain-trigger"
    " signals for the coarse quantizer. Assignment is q93's zero-join"
    " broadcast-literal argmin over the index-trained centroids"
    " (oracle cross-joins only for want of broadcast, bounded N x K);"
    " the only shuffle carries two partial counters into <= K groups;"
    " never-assigned centroids surface with zeros via the K-row"
    " driver-side grid (q52/q102 bounded-literal rule).",
)
def q186(spark, sf_dir):
    import pyspark.sql.types as _T

    emb0 = table(spark, sf_dir, "embeddings")
    idx = emb0.where(F.col("vec_id") % BATCH_MOD != BATCH_REM)
    rows = idx.orderBy("vec_id").limit(N_CENTROIDS).collect()
    cents = [
        (r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows
    ]
    total = emb0.count()  # bounded 1-row scalar (q52/q102 rule)
    asg = spread(spark, emb0).select(
        _assign_expr(cents).alias("cid"),
        (F.col("vec_id") % BATCH_MOD == BATCH_REM).alias("is_batch"),
    )
    ag = asg.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0))
        .cast("long")
        .alias("n_batch"),
    )
    grid = spark.createDataFrame(
        [(int(cid),) for cid, _vec in cents],
        _T.StructType([_T.StructField("cid", _T.LongType())]),
    )
    n_index = F.coalesce(
        F.col("n_total") - F.col("n_batch"), F.lit(0)
    ).cast("long")
    return (
        grid.join(ag, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            n_index.alias("n_index"),
            F.coalesce(F.col("n_batch"), F.lit(0))
            .cast("long")
            .alias("n_batch"),
            F.coalesce(F.col("n_total"), F.lit(0))
            .cast("long")
            .alias("n_total"),
            F.expr(f"coalesce(n_total, 0) * 1000000 DIV {int(total)}")
            .cast("long")
            .alias("share_ppm"),
            F.expr(
                "coalesce(n_batch, 0) * 1000000"
                " DIV greatest(coalesce(n_total - n_batch, 0), 1)"
            )
            .cast("long")
            .alias("growth_ppm"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Production-depth tree assignment (SURVEY §7.5 round-11 item c): the
# q183 fixture stops at depth 2; the deep probes run deeper trees but
# outside the oracle gate. This registration puts a depth-3 walk
# (64 leaves, 4-ary) under the external hash gate, exercising the
# generic level machinery (_tree_levels / _tree_walk_expr and the
# GENERATED oracle chain) at the depth a production K actually needs —
# the configuration where the hand-written two-level oracle this round
# replaced would have silently diverged.
# ---------------------------------------------------------------------------

TREE_D3_LEAVES = 64  # 4-ary depth-3: ceil(log4 64) = 3 levels


@register(
    "q188_tree_depth3_assignment",
    "WITH " + _tree_walk_ctes(TREE_D3_LEAVES, TREE_BRANCH)
    + _TREE_HIST_SELECT,
    doc=f"Depth-3 tree-quantizer assignment: {TREE_D3_LEAVES} leaves in"
    f" a {TREE_BRANCH}-ary pivot tree (three walked levels — the"
    " production shape once K grows with the corpus, vs the q183"
    " fixture's two). Same row-local map-literal walk: per level,"
    " element_at + array_min over <= BRANCH candidate structs, zero"
    " joins, per-row cost BRANCH x 3 instead of flat 64. The oracle"
    " CTE chain is GENERATED from the same (leaves, branch) constants"
    " as the Spark walk, so the two engines replay identical"
    " level-by-level descents at any depth. Output: per-leaf histogram"
    " + floor-scaled quantization error mass (q183 columns).",
)
def q188(spark, sf_dir):
    return tree_assignment(spark, sf_dir, k=TREE_D3_LEAVES)


# ---------------------------------------------------------------------------
# Tree-vs-flat assignment agreement (round-10 verdict item 5, the
# q47-family quality readout for q183): the tree walk is approximate —
# a vector can beat a leaf on true distance but never reach it because
# an ancestor pivot lost at an earlier level. This registers HOW
# approximate, per leaf, under the oracle gate: flat argmin over the
# same 16 leaves (exact coarse assignment, q36 machinery) vs the tree
# walk, with per-leaf agreement ppm. A routing regression (bad pivot
# convention, broken level indexing) flips this row even while q183's
# own histogram still hash-matches its oracle — the q47 rationale.
# Scale shape: ONE corpus pass evaluates both row-local expressions;
# the groupBy carries (flat, tree) pairs into <= K^2 groups; everything
# after is K-row bookkeeping against the driver-side leaf grid.
# ---------------------------------------------------------------------------


@register(
    "q189_tree_flat_agreement",
    "WITH " + _tree_walk_ctes(TREE_LEAVES, TREE_BRANCH)
    + ", fd AS (SELECT e.vec_id, b.code,"
    f" {_Q183_DIST_B} AS d FROM embeddings e CROSS JOIN base b),"
    " flat AS (SELECT vec_id, code FROM (SELECT vec_id, code,"
    " row_number() OVER (PARTITION BY vec_id ORDER BY d, code) AS rn"
    " FROM fd) WHERE rn = 1),"
    " j AS MATERIALIZED (SELECT f.vec_id, f.code AS fc, ta.code AS tc"
    " FROM flat f JOIN ta ON ta.vec_id = f.vec_id),"
    " nf AS (SELECT fc AS code, CAST(count(*) AS BIGINT) AS n_flat"
    " FROM j GROUP BY fc),"
    " nt AS (SELECT tc AS code, CAST(count(*) AS BIGINT) AS n_tree"
    " FROM j GROUP BY tc),"
    " na AS (SELECT fc AS code, CAST(count(*) AS BIGINT) AS n_agree"
    " FROM j WHERE fc = tc GROUP BY fc)"
    " SELECT CAST(b.code AS BIGINT) AS code,"
    " CAST(coalesce(nf.n_flat, 0) AS BIGINT) AS n_flat,"
    " CAST(coalesce(nt.n_tree, 0) AS BIGINT) AS n_tree,"
    " CAST(coalesce(na.n_agree, 0) AS BIGINT) AS n_agree,"
    " CAST(coalesce(na.n_agree, 0) * 1000000"
    " // greatest(coalesce(nf.n_flat, 0), 1) AS BIGINT) AS agree_ppm"
    " FROM base b LEFT JOIN nf ON nf.code = b.code"
    " LEFT JOIN nt ON nt.code = b.code"
    " LEFT JOIN na ON na.code = b.code ORDER BY code",
    doc="Tree-vs-flat assignment agreement — the q47-family quality"
    f" gate for the q183 walk: flat argmin over the same {TREE_LEAVES}"
    " leaves (exact coarse assignment) vs the approximate tree"
    " descent, per leaf: flat count, tree count, agreements, and"
    " agreement ppm (n_agree / n_flat). Catches routing regressions"
    " that leave q183's own histogram self-consistent. One corpus pass"
    " evaluates both row-local expressions (zero joins); the shuffle"
    " carries (flat, tree) pair counters into <= K^2 groups; the rest"
    " is K-row bookkeeping on the driver-side leaf grid. All-integer"
    " ppm (non-negative operands: Spark DIV == DuckDB //).",
)
def q189(spark, sf_dir):
    import pyspark.sql.types as _T

    rows = (
        table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(TREE_LEAVES)
        .collect()
    )
    leaves = [
        (r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows
    ]
    levels = _tree_levels(leaves, TREE_BRANCH)
    emb = spread(spark, table(spark, sf_dir, "embeddings"))
    ct = (
        emb.select(
            _assign_expr(leaves).cast("long").alias("fc"),
            _tree_walk_expr(levels)["jn"].cast("long").alias("tc"),
        )
        .groupBy("fc", "tc")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ct = eager(ct)  # three K^2-bounded consumers below
    nf = ct.groupBy(F.col("fc").alias("code")).agg(
        F.sum("n").cast("long").alias("n_flat")
    )
    nt = ct.groupBy(F.col("tc").alias("code")).agg(
        F.sum("n").cast("long").alias("n_tree")
    )
    na = ct.where(F.col("fc") == F.col("tc")).select(
        F.col("fc").alias("code"), F.col("n").alias("n_agree")
    )
    grid = spark.createDataFrame(
        [(int(code),) for code, _vec in leaves],
        _T.StructType([_T.StructField("code", _T.LongType())]),
    )
    return (
        grid.join(nf, "code", "left")
        .join(nt, "code", "left")
        .join(na, "code", "left")
        .select(
            "code",
            F.coalesce(F.col("n_flat"), F.lit(0))
            .cast("long")
            .alias("n_flat"),
            F.coalesce(F.col("n_tree"), F.lit(0))
            .cast("long")
            .alias("n_tree"),
            F.coalesce(F.col("n_agree"), F.lit(0))
            .cast("long")
            .alias("n_agree"),
            F.expr(
                "coalesce(n_agree, 0) * 1000000"
                " DIV greatest(coalesce(n_flat, 0), 1)"
            )
            .cast("long")
            .alias("agree_ppm"),
        )
        .orderBy("code")
    )


# ---------------------------------------------------------------------------
# Tree-probed search recall (SURVEY §7.5 round-12 item, pulled into
# round 11): q189 grades ASSIGNMENT agreement; this grades SEARCH
# quality through the tree — the q44/q47 pattern with the tree walk as
# the coarse router. The query routes to its leaf, only that inverted
# list is scanned (at 100 TB the leaf code is a partition key, so the
# probe is partition pruning), candidates exact-rerank by cosine, and
# the top-10 intersects the exact q30 top-10. The query's leaf comes
# from the SAME Spark walk expression as the corpus assignment (a
# pushed-down 1-row scan), so router and corpus can never disagree.
# ---------------------------------------------------------------------------


def tree_probe_search(spark, sf_dir, query_vec_id: int, k: int = 10):
    """(candidates, top-k) of a tree-routed single-list search: ONE
    corpus pass assigns + scores, the query's own leaf comes from the
    same expression via a vec_id-pushed 1-row scan, and the candidate
    list (corpus/K at scale — bounded by the rebalancing audit q186
    watches) is eager-persisted for its two consumers (count + rerank)."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(TREE_LEAVES)
        .collect()
    )
    leaves = [
        (r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows
    ]
    levels = _tree_levels(leaves, TREE_BRANCH)
    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == query_vec_id).first()
    qvec = [float(v) for v in qrow["embedding"]]
    nq = math.sqrt(sum(v * v for v in qvec))
    qlit = F.expr(sql_darr(qvec))
    e = F.col("embedding")
    cos = dot_fold(e, qlit) / (F.sqrt(dot_fold(e, e)) * F.lit(nq))
    walk = _tree_walk_expr(levels)["jn"].cast("long")
    qleaf = int(
        emb.where(F.col("vec_id") == query_vec_id)
        .select(walk.alias("code"))
        .first()["code"]
    )
    cand = eager(
        spread(spark, emb)
        .where(
            (walk == qleaf) & (F.col("vec_id") != query_vec_id)
        )
        .select("vec_id", cos.alias("cosine"))
    )
    topk = cand.orderBy(F.col("cosine").desc(), "vec_id").limit(k)
    return cand, topk


def _q190_oracle() -> str:
    exact_d = (
        "SELECT e.vec_id,"
        f" {_dot_duck('e.embedding', 'qv.embedding')} AS dot,"
        f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
        f" {_dot_duck('qv.embedding', 'qv.embedding')} AS nqq"
        " FROM embeddings e, qv WHERE e.vec_id != qv.vec_id"
    )
    return (
        "WITH " + _tree_walk_ctes(TREE_LEAVES, TREE_BRANCH) + ","
        " qv AS (SELECT vec_id, embedding FROM embeddings"
        " WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),"
        " ql AS (SELECT code FROM ta"
        " WHERE vec_id = (SELECT vec_id FROM qv)),"
        " cand AS MATERIALIZED (SELECT e.vec_id,"
        f" {_dot_duck('e.embedding', 'qv.embedding')} AS dot,"
        f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
        f" {_dot_duck('qv.embedding', 'qv.embedding')} AS nqq"
        " FROM embeddings e JOIN ta ON ta.vec_id = e.vec_id, qv"
        " WHERE ta.code = (SELECT code FROM ql)"
        " AND e.vec_id != qv.vec_id),"
        " ap AS (SELECT vec_id FROM cand"
        f" ORDER BY {_COS_RANK_DUCK} DESC, vec_id LIMIT 10),"
        f" ex AS (SELECT vec_id FROM ({exact_d})"
        f" ORDER BY {_COS_RANK_DUCK} DESC, vec_id LIMIT 10)"
        " SELECT 'tree_probe' AS method,"
        " (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_list,"
        " CAST(count(*) AS BIGINT) AS hits,"
        " CAST(count(*) * 10 AS BIGINT) AS recall_pct"
        " FROM ex WHERE vec_id IN (SELECT vec_id FROM ap)"
    )


@register(
    "q190_tree_probe_recall",
    _q190_oracle(),
    doc="Recall@10 of tree-routed single-list search against the exact"
    " cosine top-10 (q30) — the q44/q47 quality gate with the q183"
    " tree walk as the coarse router: the query routes to its leaf"
    " (same Spark expression as the corpus assignment, via a pushed"
    " 1-row scan), only that inverted list exact-reranks, and the"
    " top-10 intersects the exact set. n_list reports the scanned list"
    " size — together with q186's balance audit it prices the probe."
    " At 100 TB the leaf code is a partition key, so the single-list"
    " scan is partition pruning; the intersection is a broadcast"
    " semi-join over 10-row sets.",
)
def q190(spark, sf_dir):
    qid = _min_vec_id(spark, sf_dir)
    exact = q30(spark, sf_dir).select("vec_id")
    cand, topk = tree_probe_search(spark, sf_dir, qid, k=10)
    n_list = cand.count()  # bounded scalar: the persisted leaf list
    return (
        exact.join(topk.select("vec_id"), "vec_id", "left_semi")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit("tree_probe").alias("method"),
            F.lit(int(n_list)).cast("long").alias("n_list"),
            "hits",
            (F.col("hits") * 10).cast("long").alias("recall_pct"),
        )
    )


def tree_multiprobe_search(
    spark, sf_dir, query_vec_id: int, k: int = 10, n_probe: int = 2
):
    """(candidates, top-k) of tree-routed MULTI-probe search — the
    round-12 stage behind q190: the corpus keeps its single-leaf tree
    assignment, while the QUERY's probe set is the n_probe nearest
    leaves ranked driver-side over the K leaf vectors (the ivf_search
    d2 discipline — same -2*q.c + c.c left folds the engines use, so a
    future oracle replays the ranking bit-for-bit). Recall is monotone
    non-decreasing in n_probe by construction: each probe adds a list,
    never replaces one. Probing stays partition pruning at scale (an
    IN-list of n_probe leaf codes)."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(TREE_LEAVES)
        .collect()
    )
    leaves = [
        (r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows
    ]
    levels = _tree_levels(leaves, TREE_BRANCH)
    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == query_vec_id).first()
    qvec = [float(v) for v in qrow["embedding"]]

    def d2(c):
        dot = 0.0
        for a, b in zip(qvec, c):
            dot = dot + a * b
        cc = 0.0
        for b in c:
            cc = cc + b * b
        return -2.0 * dot + cc

    probe = [
        code
        for code, vec in sorted(leaves, key=lambda c: (d2(c[1]), c[0]))
    ][:n_probe]

    nq = math.sqrt(sum(v * v for v in qvec))
    qlit = F.expr(sql_darr(qvec))
    e = F.col("embedding")
    cos = dot_fold(e, qlit) / (F.sqrt(dot_fold(e, e)) * F.lit(nq))
    walk = _tree_walk_expr(levels)["jn"].cast("long")
    cand = eager(
        spread(spark, emb)
        .where(
            walk.isin([int(p) for p in probe])
            & (F.col("vec_id") != query_vec_id)
        )
        .select("vec_id", cos.alias("cosine"))
    )
    topk = cand.orderBy(F.col("cosine").desc(), "vec_id").limit(k)
    return cand, topk


def embedding_split_leakage(spark, sf_dir):
    """Round-12 stage: SEMANTIC split-leakage audit — the embedding-space
    member of the decontamination family (lexical: q68 eval n-gram
    decontamination, q86 split leakage, q170/q177 winnowing
    contamination). An eval example whose near-duplicate sits in the
    train split leaks: its benchmark score measures memorization, not
    generalization, and lexical detectors miss paraphrase-level copies
    that survive in embedding space. Output: one row per LEAKED
    val/test vector — how many train near-duplicates it has and the
    strongest cosine, in the q33 e4 integer space.

    Reuses q33's hyperplane-bucketed pair generation AS-IS (never
    all-pairs; the plan contract) and the q50 90/5/5 md5 split policy on
    vec_id, applied as a row-local expression to both pair sides — no
    join against a split table. Keeps exactly the pairs with ONE side in
    train; the eval side keys the rollup. Scale: everything downstream
    of q33 is arithmetic on the tiny verified pair set."""
    from smartbulkcopy_spark.pipeline.text import split_case_sql

    pairs = q33(spark, sf_dir)
    sa = F.expr(split_case_sql("spark", "a_id"))
    sb = F.expr(split_case_sql("spark", "b_id"))
    p = pairs.select(
        "a_id", "b_id", "cos_e4", sa.alias("sa"), sb.alias("sb")
    )
    a_train = F.col("sa") == "train"
    b_train = F.col("sb") == "train"
    leaks = p.where(a_train != b_train).select(
        F.when(a_train, F.col("b_id")).otherwise(F.col("a_id")).alias(
            "vec_id"
        ),
        F.when(a_train, F.col("sb")).otherwise(F.col("sa")).alias("split"),
        "cos_e4",
    )
    return (
        leaks.groupBy("vec_id", "split")
        .agg(
            F.count("*").cast("long").alias("n_train_dups"),
            F.max("cos_e4").alias("max_cos_e4"),
        )
        .orderBy("vec_id")
    )


def _split_leakage_oracle() -> str:
    """DuckDB replay of embedding_split_leakage, drafted with the
    builder (round-12 registration wires it up): q33's bucketed pair SQL
    verbatim, split CASEs on both sides, eval-side rollup."""
    from smartbulkcopy_spark.pipeline.text import split_case_sql

    sa = split_case_sql("duck", "a_id")
    sb = split_case_sql("duck", "b_id")
    return (
        "WITH b AS (SELECT vec_id, embedding,"
        f" CAST({bucket_expr('duck')} AS BIGINT) AS bk FROM embeddings),"
        " p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,"
        f" {_dot_duck('x.embedding', 'y.embedding')}"
        f" / (sqrt({_dot_duck('x.embedding', 'x.embedding')})"
        f" * sqrt({_dot_duck('y.embedding', 'y.embedding')})) AS cos"
        " FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id),"
        " vp AS (SELECT a_id, b_id,"
        " CAST(floor(10000.0 * cos) AS BIGINT) AS cos_e4,"
        f" {sa} AS sa, {sb} AS sb"
        f" FROM p WHERE cos >= {NEAR_DUP_COS}),"
        " lk AS (SELECT CASE WHEN sa = 'train' THEN b_id ELSE a_id END"
        " AS vec_id, CASE WHEN sa = 'train' THEN sb ELSE sa END AS split,"
        " cos_e4 FROM vp"
        " WHERE (sa = 'train') != (sb = 'train'))"
        " SELECT vec_id, split, CAST(count(*) AS BIGINT) AS n_train_dups,"
        " max(cos_e4) AS max_cos_e4 FROM lk GROUP BY vec_id, split"
        " ORDER BY vec_id"
    )


def _multiprobe_oracle(probes=(1, 2, 4)) -> str:
    """DuckDB replay of the multiprobe recall curve, drafted
    pre-registration: one row per n_probe — the probe set is the
    n_probe nearest leaves by the same left-fold d2 the builder ranks
    with driver-side (ties by code), candidates are corpus rows whose
    generated tree-walk assignment lands in the probe set, and hits
    intersect the exact cosine top-10."""
    rows = []
    for p in probes:
        rows.append(
            f"SELECT {p} AS n_probe,"
            " (SELECT CAST(count(*) AS BIGINT) FROM cand"
            f" WHERE code IN (SELECT code FROM lr WHERE rnk <= {p}))"
            " AS n_list,"
            " (SELECT CAST(count(*) AS BIGINT) FROM ex WHERE vec_id IN"
            " (SELECT vec_id FROM cand"
            f" WHERE code IN (SELECT code FROM lr WHERE rnk <= {p})"
            f" ORDER BY {_COS_RANK_DUCK} DESC, vec_id LIMIT 10))"
            " AS hits"
        )
    exact_d = (
        "SELECT e.vec_id,"
        f" {_dot_duck('e.embedding', 'qv.embedding')} AS dot,"
        f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
        f" {_dot_duck('qv.embedding', 'qv.embedding')} AS nqq"
        " FROM embeddings e, qv WHERE e.vec_id != qv.vec_id"
    )
    return (
        "WITH " + _tree_walk_ctes(TREE_LEAVES, TREE_BRANCH) + ","
        " qv AS (SELECT vec_id, embedding FROM embeddings"
        " WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),"
        " lv AS (SELECT vec_id AS code, embedding FROM embeddings"
        f" ORDER BY vec_id LIMIT {TREE_LEAVES}),"
        " lr AS MATERIALIZED (SELECT code, row_number() OVER (ORDER BY"
        f" -2 * {_dot_duck('lv.embedding', 'qv.embedding')}"
        f" + {_dot_duck('lv.embedding', 'lv.embedding')} ASC, code ASC)"
        " AS rnk FROM lv, qv),"
        " cand AS MATERIALIZED (SELECT e.vec_id, ta.code,"
        f" {_dot_duck('e.embedding', 'qv.embedding')} AS dot,"
        f" {_dot_duck('e.embedding', 'e.embedding')} AS naa,"
        f" {_dot_duck('qv.embedding', 'qv.embedding')} AS nqq"
        " FROM embeddings e JOIN ta ON ta.vec_id = e.vec_id, qv"
        " WHERE e.vec_id != qv.vec_id),"
        f" ex AS MATERIALIZED (SELECT vec_id FROM ({exact_d})"
        f" ORDER BY {_COS_RANK_DUCK} DESC, vec_id LIMIT 10),"
        " curve AS (" + " UNION ALL ".join(rows) + ")"
        " SELECT n_probe, n_list, hits,"
        " CAST(hits * 10 AS BIGINT) AS recall_pct"
        " FROM curve ORDER BY n_probe"
    )


def tree_multiprobe_recall_curve(spark, sf_dir, probes=(1, 2, 4)):
    """(n_probe, n_list, hits, recall_pct) recall curve of tree-routed
    multiprobe search against the exact cosine top-10 — one row per
    probe width. Recall is monotone non-decreasing in n_probe by
    construction (each probe adds a list, never replaces one); the
    curve prices the probe width: n_list is the scanned candidate mass,
    recall_pct what it buys.

    ONE tree-walk pass (round-13 restructure of the per-width loop):
    the query's leaf ranking computes driver-side once (the ivf_search
    d2 fold, ties by code), the corpus walks the tree once filtered to
    the max(probes) nearest leaves, each candidate carries its leaf's
    probe RANK, and every width derives as `rank <= n_probe` from that
    single lineage — width membership explodes row-locally, per-width
    top-10 is one row_number window over the tiny candidate set, and
    the exact top-10 joins in as a broadcast. The old shape re-planned
    the walk + cosine per width (3x the work and three cache scans AQE
    could not dedup across re-aliased InMemoryRelations)."""
    qid = _min_vec_id(spark, sf_dir)
    rows = (
        table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(TREE_LEAVES)
        .collect()
    )
    leaves = [
        (r["vec_id"], [float(v) for v in r["embedding"]]) for r in rows
    ]
    levels = _tree_levels(leaves, TREE_BRANCH)
    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == qid).first()
    qvec = [float(v) for v in qrow["embedding"]]

    def d2(c):
        dot = 0.0
        for a, b in zip(qvec, c):
            dot = dot + a * b
        cc = 0.0
        for b in c:
            cc = cc + b * b
        return -2.0 * dot + cc

    ranked = [
        int(code)
        for code, vec in sorted(leaves, key=lambda c: (d2(c[1]), c[0]))
    ][: max(int(p) for p in probes)]
    rank_case = "CASE code " + " ".join(
        f"WHEN {code}L THEN {i + 1}" for i, code in enumerate(ranked)
    ) + " END"

    nq = math.sqrt(sum(v * v for v in qvec))
    qlit = F.expr(sql_darr(qvec))
    e = F.col("embedding")
    cos = dot_fold(e, qlit) / (F.sqrt(dot_fold(e, e)) * F.lit(nq))
    walk = _tree_walk_expr(levels)["jn"].cast("long")
    cand = (
        spread(spark, emb)
        .where(walk.isin(ranked) & (F.col("vec_id") != qid))
        .select("vec_id", cos.alias("cosine"), walk.alias("code"))
        .select("vec_id", "cosine", F.expr(rank_case).alias("rnk"))
    )
    widths = F.expr(
        "filter(array("
        + ", ".join(str(int(p)) for p in sorted(probes))
        + "), p -> p >= rnk)"
    )
    per = cand.select(
        "vec_id", "cosine", F.explode(widths).alias("n_probe")
    )
    from pyspark.sql import Window

    wk = Window.partitionBy("n_probe").orderBy(
        F.col("cosine").desc(), "vec_id"
    )
    exact = q30(spark, sf_dir).select("vec_id", F.lit(1).alias("ex"))
    return (
        per.withColumn("rk", F.row_number().over(wk))
        .join(F.broadcast(exact), "vec_id", "left")
        .groupBy("n_probe")
        .agg(
            F.count("*").cast("long").alias("n_list"),
            F.sum(
                F.when(
                    (F.col("rk") <= 10) & F.col("ex").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("hits"),
        )
        .select(
            F.col("n_probe").cast("long").alias("n_probe"),
            "n_list",
            "hits",
            (F.col("hits") * 10).cast("long").alias("recall_pct"),
        )
        .orderBy("n_probe")
    )


@register(
    "q196_embedding_split_leakage",
    _split_leakage_oracle(),
    doc="Semantic split-leakage audit — the embedding-space member of"
    " the decontamination family (lexical: q68/q86/q170/q177): one row"
    " per val/test vector with >= 1 train-split near-duplicate (its"
    " train-dup count and strongest cosine, q33 e4 integer space)."
    " An eval example whose paraphrase sits in train leaks — its"
    " benchmark score measures memorization, and lexical detectors"
    " miss what survives only in embedding space. Reuses q33's"
    " hyperplane-bucketed pair generation AS-IS (never all-pairs) and"
    " the q50 90/5/5 md5 split policy applied row-locally to both pair"
    " sides — no split-table join; everything downstream of q33 is"
    " arithmetic on the tiny verified pair set. Staged-probe 8x ratio"
    " 1.7x (SCALE.md staged table).",
)
def q196(spark, sf_dir):
    return embedding_split_leakage(spark, sf_dir)


@register(
    "q197_tree_multiprobe_recall",
    _multiprobe_oracle(),
    doc="Multiprobe recall curve for tree-routed ANN search: recall@10"
    " against the exact cosine top-10 (q30) at n_probe in {1, 2, 4},"
    " one row per probe width — q190's single-probe gate widened into"
    " the n_probe/recall trade-off curve an index deployment tunes"
    " against. The query's probe set is the n_probe nearest leaves"
    " ranked driver-side over the K leaf vectors with the ivf_search"
    " d2 fold (bit-replayable by the oracle); candidates are corpus"
    " rows whose q183 tree-walk assignment lands in the probe set —"
    " an IN-list of leaf codes, i.e. partition pruning at 100 TB."
    " Recall is monotone in n_probe by construction; the oracle"
    " replays every width. Staged-probe 8x ratio 1.2x (corpus-flat).",
)
def q197(spark, sf_dir):
    return tree_multiprobe_recall_curve(spark, sf_dir)
