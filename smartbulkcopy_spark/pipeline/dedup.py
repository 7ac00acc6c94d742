"""Near-duplicate detection: MinHash-LSH candidate pairs, SimHash
signatures, and exact n-gram Jaccard verification of candidates.

No reference analog — Phase-5 pipeline operators (SURVEY §7.2). The
critical scale property: candidate generation is **banded LSH, never
all-pairs**. The only shuffle keyed by anything document-sized is
(band_key, doc_id); documents are never crossed with documents. Hot
bands (duplication-heavy corpora produce them, and their pair count is
quadratic in band size no matter how pairs are generated) switch
representation at MINHASH_CLIQUE_CAP members: bands up to the cap
enumerate their pairs in full, hotter bands — by construction families
of near-identical documents — collapse to a STAR around the band's
minimum doc_id (one (rep, member) edge per member, each still
exact-Jaccard-verified downstream). The star keeps the family CONNECTED
for the cluster/keep/soft-dedup consumers at linear cost, where the old
skip-the-band rule silently lost every over-cap family and the
clique-only rule measured exponent 1.93 on a verbatim corpus at
16x->32x and broadcast-OOM'd at 64x (SCALE.md staged tail). The cap and
the star are part of the operator's definition and the DuckDB oracle
applies them identically. The no-recall-loss claim is REGISTERED and
oracle-checked, not asserted: q199_star_fallback_recall builds families
sized 6/14/22/30 (straddling the cap), labels both the clique/star and
the clique-only candidate graphs with connected components, and pins
family count + per-member agreement at 100%. SimHash bands use a TWO-LEVEL rule
(round 12): bucket members group by their full 64-bit signature,
identical-signature members connect through hamming-0 stars around the
group min, and MAX_BAND_BUCKET caps DISTINCT signatures per bucket —
family connectivity provably matches the old member-clique rule
wherever it applied, verbatim families of any size stay connected
(the old skip-cap silently dropped them past 1024 copies), and the cap
still kills ambient birthday-collision mass (sf0.1 buckets reach 291
members by collisions alone), where a raw star WOULD be unjustified: a
16-bit band match between DISTINCT signatures is weak evidence. Image
ahash bands keep the plain skip-cap pending the same treatment.

Cross-engine determinism: both Spark and DuckDB compute signatures from
the same md5-based definition, so the DuckDB oracle reproduces the
*exact* candidate set — the strongest possible check for an LSH pipeline.

Signature definition (shared):
    mh_k(doc) = min over 8-char shingles s_i of
                substr(md5(concat(k div 4, ':', s_i)), 1 + 8*(k mod 4), 8)
i.e. two salted md5 digests per shingle, each sliced into four
independent 8-hex-char hash values — 2 md5 calls per shingle instead of
8. The Spark side explodes shingles and MIN-aggregates the slices (all
whole-stage codegen, map-side combined); the DuckDB oracle uses the
naive 8-lambda spelling of the same definition — different evaluation
order, identical values.

Parameters: 8-char shingles, K=8 minhash values, 2 bands of r=4 — tuned
so the fixture corpus yields a bounded nonempty candidate set (28 pairs
at sf0.01, 356 at sf0.1); P(candidate) ≈ 1-(1-J^4)^2 for Jaccard J.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from smartbulkcopy_spark.queries import eager, register, spread, table

# The q50 split policy, from its single generator (q86's oracle derives
# its spelling here so the split CANNOT drift from q50/q76/q92/q98).
# Note: this import makes text.py register its queries before this
# module's — harmless to the driver window (ordering inside a
# QUEUED_SINCE batch never changes window membership).
from smartbulkcopy_spark.pipeline.text import (  # noqa: E402
    TOKENS_SQL_DUCK as _TEXT_TOKENS_SQL_DUCK,
    gram_key_duck,
    gram_key_spark,
    split_case_sql as _text_split_case_sql,
)


def _text_tokens_sql_duck() -> str:
    return _TEXT_TOKENS_SQL_DUCK

SHINGLE = 8
R_ROWS = 4  # minhashes per band
N_BANDS = 2
K_HASHES = R_ROWS * N_BANDS

# Normalization, in each engine's string-escaping dialect (Spark SQL
# string literals treat backslash as escape; DuckDB does not; DuckDB
# regexp_replace needs the 'g' flag to replace all matches).
# NULL text coalesces to '' so both engines give NULL-text documents the
# same shared signature — without it, Spark's min() skips NULL hash
# slices and drops such docs from banding while the oracle pairs them.
NORM_SPARK = r"lower(regexp_replace(coalesce(text, ''), '\\s+', ' '))"
NORM_DUCK = r"lower(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))"

# Spark computes the signatures by exploding shingles and MIN-aggregating
# the hash slices: every step (explode, md5, substring, partial min) runs
# in whole-stage codegen, and the map-side combine collapses the exploded
# rows back to one (doc_id, 8 minima) row per doc per partition BEFORE
# the shuffle — measured ~2x faster than an equivalent higher-order-
# function fold, whose lambda interpreter dominates. The shingle
# enumeration reads a PRE-PROJECTED normalized column `n`; inlining the
# regexp there would re-evaluate it per element.
SHINGLES_SPARK = (
    f"transform(sequence(1, greatest(length(n) - {SHINGLE - 1}, 1)),"
    f" i -> substr(n, i, {SHINGLE}))"
)


# The DuckDB shingle-list spelling — the single source every duck-side
# consumer (minhash, shingle sets, q66 repetition) derives from, so a
# SHINGLE/normalization change cannot drift between oracles.
SHINGLES_DUCK = (
    f"list_transform(range(1, greatest(length({NORM_DUCK})"
    f" - {SHINGLE - 1}, 1) + 1), i -> substr({NORM_DUCK}, i, {SHINGLE}))"
)


def minhash_duck(k: int) -> str:
    """The k-th MinHash in the DuckDB spelling of the shared definition.
    Minima are 32-bit INTEGERS (the md5 slice parsed to BIGINT before
    the min — fixed-width lowercase hex is order-isomorphic to its
    numeric value, so min-of-parse == parse-of-min and the signature
    shuffle carries 8 longs per doc, never 8 hex strings: the round-13
    integer-key rule)."""
    salt, off = k // 4, 1 + 8 * (k % 4)
    return (
        f"list_min(list_transform({SHINGLES_DUCK},"
        f" s -> CAST(('0x' || substr(md5(concat('{salt}:', s)),"
        f" {off}, 8)) AS BIGINT)))"
    )


def _band_from_cols(engine: str) -> list[str]:
    """Band key = 60-bit integer gram key of the band's minhash columns
    + band tag (md5-derived; see text.gram_key_spark). The band key is
    pure join/group identity — no query outputs it — so the 8-byte long
    replaces the old 32-char hex everywhere the LSH index shuffles
    (band explode, clique/star windows, incremental batchxindex joins):
    the round-13 gram-key rule, motivated by the measured hex-string
    sort cliff at high verbatim mass (SCALE.md round-13 probes)."""
    key = gram_key_spark if engine == "spark" else gram_key_duck
    cast_t = "STRING" if engine == "spark" else "VARCHAR"
    out = []
    for b in range(N_BANDS):
        # ':' separators keep the decimal concat injective (variable-
        # width ints, unlike the old fixed-width hex slices)
        parts = ", ':', ".join(
            f"CAST(mh{b * R_ROWS + j} AS {cast_t})" for j in range(R_ROWS)
        )
        out.append(key(f"concat({parts}, ':{b}')"))
    return out


def shingle_set_expr(engine: str) -> str:
    """Distinct 8-char shingle set, for exact Jaccard verification.
    The Spark spelling reads the pre-projected normalized column `n`."""
    if engine == "spark":
        return (
            f"array_distinct(transform(sequence(1,"
            f" greatest(length(n) - {SHINGLE - 1}, 1)),"
            f" i -> substr(n, i, {SHINGLE})))"
        )
    return f"list_distinct({SHINGLES_DUCK})"


def _normed(spark, sf_dir):
    """(doc_id, n) with the normalization materialized once per row."""
    docs = spread(spark, table(spark, sf_dir, "documents"))
    return docs.select("doc_id", F.expr(NORM_SPARK).alias("n"))


# Clique/star threshold for the TEXT minhash chain (see module
# docstring): <= cap enumerates in full (<= C(16,2) = 120 pairs per
# band, the WINNOW_MAX_POSTINGS/MOSS-aligned value), > cap emits star
# edges around the band's min doc_id. Applied identically by both
# engines, so the candidate sets still hash-match. Fixture buckets max
# out at 6 members (sf0.1), so every registered result at every test
# scale is identical to the clique-only definition.
MINHASH_CLIQUE_CAP = 16

# SimHash/image bands keep the legacy skip-cap (weak 16-bit band
# evidence; see module docstring — round-12 recall study).
MAX_BAND_BUCKET = 1024


def _banded_cte_duck() -> str:
    """sig/bnd/expl CTEs — the LSH index definition, single source of
    truth for every oracle that bands (q27/q29/q34/q49/q61/q63)."""
    mhs = ", ".join(f"{minhash_duck(k)} AS mh{k}" for k in range(K_HASHES))
    bands = ", ".join(
        f"{e} AS b{i}" for i, e in enumerate(_band_from_cols("duck"))
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, b{i} AS band FROM bnd" for i in range(N_BANDS)
    )
    return (
        f"sig AS (SELECT doc_id, {mhs} FROM documents),"
        f" bnd AS (SELECT doc_id, {bands} FROM sig),"
        f" expl AS MATERIALIZED ({unions})"
    )


def _candidate_cte_duck() -> str:
    """cand(a_id, b_id): clique pairs for bands <= MINHASH_CLIQUE_CAP;
    above it, STAR edges (band-min rep, member) plus CHAIN edges
    (consecutive members by doc_id) — two edges per member, so
    co-located subfamilies of a mixed hot band still connect through
    verified adjacent runs even when they fail the rep verify. The
    single oracle source for every banding consumer, in lockstep with
    `candidate_pairs`."""
    return (
        _banded_cte_duck() + ","
        " bandsz AS (SELECT band, count(*) AS bc FROM expl GROUP BY band"
        f" HAVING count(*) <= {MINHASH_CLIQUE_CAP}),"
        " cliq AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id"
        " FROM expl x JOIN bandsz s ON x.band = s.band"
        " JOIN expl y ON x.band = y.band"
        " AND x.doc_id < y.doc_id),"
        " hot AS (SELECT band, min(doc_id) AS rep FROM expl GROUP BY band"
        f" HAVING count(*) > {MINHASH_CLIQUE_CAP}),"
        " star AS (SELECT h.rep AS a_id, e.doc_id AS b_id FROM expl e"
        " JOIN hot h ON e.band = h.band AND e.doc_id > h.rep),"
        " chn AS (SELECT e.band, e.doc_id FROM expl e"
        " JOIN hot h ON e.band = h.band),"
        " chain AS (SELECT lag(doc_id) OVER (PARTITION BY band"
        " ORDER BY doc_id) AS a_id, doc_id AS b_id FROM chn),"
        " cand AS (SELECT DISTINCT a_id, b_id FROM (SELECT a_id, b_id"
        " FROM cliq UNION ALL SELECT a_id, b_id FROM star"
        " UNION ALL SELECT a_id, b_id FROM chain"
        " WHERE a_id IS NOT NULL) u)"
    )


def signatures(spark, sf_dir, member_ids=None):
    """(doc_id, mh0..mh7) MinHash signatures: explode shingles ->
    codegen md5 -> slice parsed to a 32-bit INTEGER -> partial-
    aggregated MIN per hash slice (fixed-width lowercase hex is
    order-isomorphic to its numeric value, so min-of-parse ==
    parse-of-min). Shuffles carry (doc_id, 8 long minima) after
    map-side combine — document bodies never shuffle, and neither do
    hex strings (the round-13 integer-key rule).

    member_ids: optional (doc_id) DataFrame — when given, the corpus is
    LEFT-SEMI thinned to those ids BEFORE shingles are built (the
    verify-stage rule: never compute per-doc features for the whole
    corpus to decorate a tiny pair set)."""
    base = _normed(spark, sf_dir)
    if member_ids is not None:
        base = base.join(member_ids, "doc_id", "left_semi")
    return _minhash_minima(
        base.select("doc_id", F.explode(F.expr(SHINGLES_SPARK)).alias("sh")),
        "sh",
    )


def _signatures_from_shingle_sets(sh):
    """(doc_id, mh0..mh7) from an (already thinned, usually cached)
    (doc_id, s: array<string>) DISTINCT-shingle table — the q107 reuse
    path: MinHash minima are duplicate-insensitive, so minima over the
    verify stage's distinct shingle sets are IDENTICAL to `signatures`'
    minima over the raw shingle stream, for free from the cached sh."""
    return _minhash_minima(
        sh.select("doc_id", F.explode("s").alias("shg")), "shg"
    )


def _minhash_minima(shingles, col):
    """(doc_id, mh0..mh7) of a (doc_id, ``col``) shingle stream: two md5
    digests per shingle, each cut into four 8-hex-digit slices, and the
    per-doc MIN of every slice parsed as a BIGINT."""
    hashed = shingles.select(
        "doc_id",
        F.md5(F.concat(F.lit("0:"), F.col(col))).alias("h0"),
        F.md5(F.concat(F.lit("1:"), F.col(col))).alias("h1"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.expr(
                    f"CAST(conv(substr(h{k // 4}, {1 + 8 * (k % 4)}, 8),"
                    " 16, 10) AS BIGINT)"
                )
            ).alias(f"mh{k}")
            for k in range(K_HASHES)
        ]
    )


def banded_rows(spark, sf_dir):
    """(doc_id, band) rows of the MinHash-LSH index: the signature
    pipeline (see `signatures`) runs ONCE, then band keys derive
    row-locally from the 8 minima."""
    return signatures(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.array(*[F.expr(e) for e in _band_from_cols("spark")])
        ).alias("band"),
    )


def candidate_pairs(spark, sf_dir):
    """Spark side of MinHash-LSH candidate generation: explode shingles ->
    codegen md5 -> partial-aggregated MIN per hash slice -> band keys ->
    groupBy band -> in-bucket pair explosion -> distinct ordered pairs.

    The signature pipeline runs ONCE (a self-join formulation reads it
    from both sides, forcing either a recompute or a cache); the only
    shuffles carry (doc_id, 8 long minima) after map-side combine and
    then (8-byte band key, doc_id) — document bodies never shuffle.
    Each bucket's sorted doc list explodes to its ordered pairs with a
    nested JVM-side transform; a bucket of size s yields s*(s-1)/2 pairs,
    exactly the candidate count a band join would produce. Buckets larger
    than MINHASH_CLIQUE_CAP switch to STAR edges around the band's min
    doc_id BEFORE the collect_list (near-identical families — see module
    docstring), mirroring the oracle's `hot`/`star` CTEs: count() and
    min() windows over the same band partitioning classify each row, so
    a hot band's members are never aggregated into one giant array row
    and never pair-exploded — one row-local edge each. The windows share
    the groupBy's hash partitioning (one shuffle total, no signature
    recompute), and their row buffers spill to disk where a single
    collect_list row cannot."""
    return _pairs_from_band_rows(banded_rows(spark, sf_dir))


def _pairs_from_band_rows(bnd):
    """Clique/star/chain candidate pairs from (doc_id, band) rows — the
    body of `candidate_pairs`, factored so the q199 recall study can
    apply the production rule to a synthetic hot-band corpus. See
    `candidate_pairs` for the plan-shape constraints (the noop
    predicate, window/groupBy partitioning reuse)."""
    w = Window.partitionBy("band")
    wo = Window.partitionBy("band").orderBy("doc_id")
    marked = (
        bnd.withColumn("bc", F.count("*").over(w))
        .withColumn("rep", F.min("doc_id").over(w))
        .withColumn("prev", F.lag("doc_id").over(wo))
    )
    # Every branch below must keep ALL window columns referenced:
    # column pruning would otherwise specialize the clique branch's
    # Window nodes, the subtrees stop being identical, and
    # ReuseExchange can no longer dedupe the band shuffle — the whole
    # signature pipeline would run twice (caught by the q27 plan test).
    # rep is a min over non-null doc_ids so isNotNull is a no-op, and
    # doc_ids are non-negative so the coalesced prev bound always
    # holds — both predicates are runtime-true but not foldable.
    noop = F.col("rep").isNotNull() & (
        F.coalesce(F.col("prev"), F.lit(-1)) >= -1
    )
    buckets = (
        marked.where(
            (F.col("bc") > 1)
            & (F.col("bc") <= MINHASH_CLIQUE_CAP)
            & noop
        )
        .groupBy("band")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    pairs = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))"
    )
    clique = buckets.select(F.explode(pairs).alias("p")).select(
        F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id")
    )
    # Star + chain fallback: two row-local edges per hot-band member —
    # never a collect_list of the hot bucket, never its quadratic
    # explosion. The chain (consecutive members by doc_id) keeps
    # co-located subfamilies connected when they fail the rep verify.
    star = marked.where(
        (F.col("bc") > MINHASH_CLIQUE_CAP)
        & (F.col("doc_id") > F.col("rep"))
    ).select(F.col("rep").alias("a_id"), F.col("doc_id").alias("b_id"))
    chain = marked.where(
        (F.col("bc") > MINHASH_CLIQUE_CAP) & F.col("prev").isNotNull()
    ).select(F.col("prev").alias("a_id"), F.col("doc_id").alias("b_id"))
    return clique.union(star).union(chain).distinct()


@register(
    "q27_minhash_lsh_pairs",
    "WITH " + _candidate_cte_duck()
    + " SELECT a_id, b_id FROM cand ORDER BY a_id, b_id",
    doc="MinHash-LSH near-duplicate candidate pairs (8-char shingles, 8"
    " hashes, 2 bands x 4 rows). Banded candidate generation — the"
    " all-pairs comparison never happens; the oracle reproduces the exact"
    " candidate set because the signatures are identical md5 math.",
)
def q27(spark, sf_dir):
    return candidate_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash: 16-bit signature over whitespace tokens. The Spark side
# explodes tokens so each token is hashed ONCE and the 16 per-bit
# majority counters are partial-aggregated (map-side combined) before the
# only shuffle, which carries (doc_id, 16 small ints). A nested-HOF
# spelling would be zero-shuffle but re-evaluates the tokenize+hash work
# per bit position — 16x the md5 cost (Spark HOF lambdas re-evaluate
# their bound expression per element); the DuckDB oracle keeps that naive
# nested spelling, which is fine engine-side.
# ---------------------------------------------------------------------------

_TOKENS_DUCK = r"string_split_regex(trim(coalesce(text, '')), '\s+')"
SIMHASH_BITS = 16


def simhash_duck() -> str:
    tok_hash = "CAST(('0x' || substr(md5(t), 1, 4)) AS INT)"
    inner = (
        f"list_sum(list_transform({_TOKENS_DUCK}, t ->"
        f" CASE WHEN (({tok_hash} >> j) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    return (
        f"list_sum(list_transform(range(0, {SIMHASH_BITS}), j ->"
        f" CASE WHEN {inner} > 0 THEN (1 << j) ELSE 0 END))"
    )


@register(
    "q28_simhash",
    f"SELECT doc_id, CAST({simhash_duck()} AS BIGINT) AS simhash16"
    " FROM documents ORDER BY doc_id",
    doc="16-bit SimHash per document (per-bit majority vote over token"
    " hashes). Explode + partial-aggregated bit counters: one md5 per"
    " token, one narrow shuffle; near-dups land within small Hamming"
    " distance.",
)
def q28(spark, sf_dir):
    docs = spread(spark, table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(r"split(trim(coalesce(text, '')), '\\s+')")
        ).alias("t"),
    )
    bits = toks.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(t), 1, 4), 16, 10) AS INT)").alias("th"),
    )
    per_bit = bits.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(th, {j}) & 1) = 1"), 1).otherwise(
                    -1
                )
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return per_bit.select("doc_id", sim.cast("bigint").alias("simhash16"))


# ---------------------------------------------------------------------------
# SimHash near-duplicate pairs — the consumer that makes the SimHash
# signature family (q28) an actual dedup detector. q28's 16-bit hash is
# right for a compact per-doc quality signal but too coarse to band at
# corpus scale (a 16-bit space saturates: banding 5k fixture docs into
# 2x8-bit bands already yields ~780k candidates — quadratic death at
# 100 TB). The detector therefore computes the standard 64-BIT SimHash
# (per-bit majority over 64-bit token hashes, same definition, wider
# space), bands it 4x16 exactly like the image-ahash side (q111), and
# verifies candidates on exact Hamming distance. Catches
# token-multiset-preserving edits (reorderings, small substitutions)
# that shingle-based MinHash scores low, complementing q27/q29.
# ---------------------------------------------------------------------------

SIMHASH64_HAMMING_MAX = 8  # of 64 bits; fixture verifies pairs at every SF


def simhash64(spark, sf_dir):
    """(doc_id, sim_hi, sim_lo): 64-bit SimHash as two 32-bit halves
    (BIGINT sign-bit rule, q110 convention). One md5 per token occurrence
    via explode; the 64 per-bit majority counters partial-aggregate
    (map-side combine) before the single (doc_id)-keyed shuffle."""
    docs = spread(spark, table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(r"split(trim(coalesce(text, '')), '\\s+')")
        ).alias("t"),
    )
    th = toks.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)").alias(
            "th_hi"
        ),
        F.expr("CAST(conv(substr(md5(t), 9, 8), 16, 10) AS BIGINT)").alias(
            "th_lo"
        ),
    )
    per_bit = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"(shiftright(th_hi, {j}) & 1) = 1"), 1
                ).otherwise(-1)
            ).alias(f"h{j}")
            for j in range(32)
        ],
        *[
            F.sum(
                F.when(
                    F.expr(f"(shiftright(th_lo, {j}) & 1) = 1"), 1
                ).otherwise(-1)
            ).alias(f"l{j}")
            for j in range(32)
        ],
    )
    sim_hi = sum(
        F.when(F.col(f"h{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(32)
    )
    sim_lo = sum(
        F.when(F.col(f"l{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(32)
    )
    return per_bit.select(
        "doc_id",
        sim_hi.cast("bigint").alias("sim_hi"),
        sim_lo.cast("bigint").alias("sim_lo"),
    )


def _simhash64_cte_duck(p: str = "") -> str:
    """tk/hs/sim CTEs: the 64-bit SimHash as {p}sim(doc_id, sim_hi,
    sim_lo) — md5 once per token, then per-bit majority folds. CTE
    names are prefixable so multi-chain oracles (q115) can compose
    this beside the lexical/semantic chains without collisions."""
    half = (
        "CAST(list_sum(list_transform(range(0, 32), j ->"
        " CASE WHEN list_sum(list_transform({h}, x ->"
        " CASE WHEN ((x >> j) & 1) = 1 THEN 1 ELSE -1 END)) > 0"
        " THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)"
    )
    return (
        f" {p}tk AS (SELECT doc_id, {_TOKENS_DUCK} AS ts FROM documents),"
        f" {p}hs AS (SELECT doc_id,"
        " list_transform(ts, t ->"
        " CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hh,"
        " list_transform(ts, t ->"
        " CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT)) AS hl"
        f" FROM {p}tk),"
        f" {p}sim AS (SELECT doc_id,"
        + half.format(h="hh")
        + " AS sim_hi,"
        + half.format(h="hl")
        + f" AS sim_lo FROM {p}hs)"
    )


def simhash_pairs_cte_duck(p: str = "") -> str:
    """Full q112 chain ending in {p}ham(a_id, b_id, hamming): signature
    -> 4x16-bit bands -> two-level capped candidates -> Hamming. The
    single source for the q112 oracle and any composed consumer.

    Two-level rule (round 12): bucket members GROUP BY their full
    64-bit signature first. Identical-signature members connect through
    a hamming-0 STAR around the group's min doc_id (costs one edge per
    member, passes the Hamming verify by definition); the
    MAX_BAND_BUCKET cap then counts DISTINCT SIGNATURES, and group
    representatives clique within capped buckets. Family connectivity
    is EXACTLY the old member-clique rule's wherever that rule applied
    (a member pair verifies iff its rep pair does — identical
    signatures), while verbatim mass no longer consumes the cap: under
    the old rule every bucket of a >cap verbatim family was skipped
    outright and the family silently lost (and at 100 TB ambient
    bucket growth in a 16-bit band space eventually skipped EVERY
    bucket). Ambient birthday-collision mass still caps out — a 16-bit
    band match between DISTINCT signatures stays weak evidence."""
    return (
        _simhash64_cte_duck(p) + ","
        f" {p}bands AS (SELECT doc_id, sim_hi, sim_lo, t.b AS band_idx,"
        " CASE WHEN t.b = 0 THEN (sim_lo & 65535)"
        " WHEN t.b = 1 THEN ((sim_lo >> 16) & 65535)"
        " WHEN t.b = 2 THEN (sim_hi & 65535)"
        " ELSE ((sim_hi >> 16) & 65535) END AS band_val"
        f" FROM {p}sim CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(b)),"
        f" {p}grp AS (SELECT band_idx, band_val, sim_hi, sim_lo,"
        f" min(doc_id) AS gmin FROM {p}bands"
        " GROUP BY band_idx, band_val, sim_hi, sim_lo),"
        f" {p}star AS (SELECT g.gmin AS a_id, b.doc_id AS b_id"
        f" FROM {p}bands b JOIN {p}grp g ON b.band_idx = g.band_idx"
        " AND b.band_val = g.band_val AND b.sim_hi = g.sim_hi"
        " AND b.sim_lo = g.sim_lo AND b.doc_id > g.gmin),"
        f" {p}bsz AS (SELECT band_idx, band_val FROM {p}grp"
        " GROUP BY band_idx, band_val"
        f" HAVING count(*) > 1 AND count(*) <= {MAX_BAND_BUCKET}),"
        f" {p}repp AS (SELECT x.gmin AS a_id, y.gmin AS b_id"
        f" FROM {p}grp x JOIN {p}bsz s"
        " ON x.band_idx = s.band_idx AND x.band_val = s.band_val"
        f" JOIN {p}grp y ON x.band_idx = y.band_idx"
        " AND x.band_val = y.band_val AND x.gmin < y.gmin),"
        f" {p}cand AS (SELECT DISTINCT a_id, b_id FROM"
        f" (SELECT a_id, b_id FROM {p}star UNION ALL"
        f" SELECT a_id, b_id FROM {p}repp) {p}u),"
        f" {p}ham AS (SELECT c.a_id, c.b_id,"
        " CAST(bit_count(xor(a.sim_hi, b.sim_hi))"
        " + bit_count(xor(a.sim_lo, b.sim_lo)) AS BIGINT) AS hamming"
        f" FROM {p}cand c JOIN {p}sim a ON a.doc_id = c.a_id"
        f" JOIN {p}sim b ON b.doc_id = c.b_id)"
    )


def simhash_near_dup_pairs(spark, sf_dir):
    """(a_id, b_id, hamming) SimHash near-dup pairs: 64-bit signature ->
    4x16-bit bands -> TWO-LEVEL capped candidates -> Hamming verify.

    Two-level rule (round 12; see `simhash_pairs_cte_duck` for the full
    rationale): bucket members group by their full 64-bit signature —
    identical-signature members connect through a hamming-0 star around
    the group's min doc_id, and the MAX_BAND_BUCKET cap counts DISTINCT
    SIGNATURES, whose representatives clique within capped buckets.
    Family connectivity is provably identical to the old member-clique
    rule wherever it applied, while a verbatim family of ANY size stays
    connected (the old rule skipped its >cap buckets outright — a
    silent recall hole the q199 minhash study pattern exposed) and the
    cap keeps doing its one legitimate job: killing ambient
    birthday-collision mass between DISTINCT signatures.

    Scale shape: after the signature aggregation everything is (id, two
    longs); within each branch the group-min and bucket-width windows
    share one explicit (band_idx, band_val) repartition (the finer
    window rides the same exchange via sort — never a 4-column
    exchange, and the width count carries O(1) per-row state, never a
    per-row distinct set); the star and rep-clique branches each shuffle the narrow
    banded rows once (AQE exchange reuse doesn't fire across the
    self-union's re-aliased cache scans; accepted — see the plan test),
    while the EXPENSIVE md5 signature pipeline feeds both from cache;
    star edges are row-local; only DISTINCT-signature reps enter the
    collect_list, so no giant bucket row exists even on fully-verbatim
    corpora."""
    sim = eager(simhash64(spark, sf_dir))
    bands = sim.select(
        "doc_id",
        "sim_hi",
        "sim_lo",
        F.posexplode(
            F.array(
                F.expr("sim_lo & 65535"),
                F.expr("shiftright(sim_lo, 16) & 65535"),
                F.expr("sim_hi & 65535"),
                F.expr("shiftright(sim_hi, 16) & 65535"),
            )
        ).alias("band_idx", "band_val"),
    )
    # One explicit coarse shuffle on (band_idx, band_val); BOTH windows
    # ride it (hash over the 2-col key satisfies clustering for the
    # 4-col signature-group key, and the fine sort prefix covers the
    # coarse one). gmin — the signature-group representative — computes
    # FIRST so bc can be an O(1)-state conditional count of rep rows
    # (= DISTINCT signatures in the bucket, the capped quantity). A
    # collect_set here would materialize each bucket's full distinct-
    # signature set in executor memory PER ROW before the cap filter —
    # ambient birthday-collision buckets grow linearly with the corpus,
    # so that state is unbounded at 100 TB (round-13 ADVICE fix).
    wb = Window.partitionBy("band_idx", "band_val")
    wg = Window.partitionBy("band_idx", "band_val", "sim_hi", "sim_lo")
    marked = (
        bands.repartition("band_idx", "band_val")
        .withColumn("gmin", F.min("doc_id").over(wg))
        .withColumn(
            "bc",
            F.count(
                F.when(F.col("doc_id") == F.col("gmin"), F.lit(1))
            ).over(wb),
        )
    )
    # Both branches reference every window column (q27's noop trick) so
    # the Window subtrees stay structurally identical — it keeps the
    # two branches' plans in lockstep (and exchange-reuse-eligible if a
    # future Catalyst canonicalizes the re-aliased cache scans equal).
    # bc counts a nonempty bucket's reps so >= 1 is runtime-true, not
    # foldable.
    noop = (F.col("bc") >= 1) & F.col("gmin").isNotNull()
    star = marked.where((F.col("doc_id") > F.col("gmin")) & noop).select(
        F.col("gmin").alias("a_id"), F.col("doc_id").alias("b_id")
    )
    buckets = (
        marked.where(
            (F.col("doc_id") == F.col("gmin"))
            & (F.col("bc") > 1)
            & (F.col("bc") <= MAX_BAND_BUCKET)
            & noop
        )
        .groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list("gmin")).alias("ds"))
    )
    pairs = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))"
    )
    repp = buckets.select(F.explode(pairs).alias("p")).select(
        F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id")
    )
    cand = star.union(repp).distinct()
    a = sim.select(
        F.col("doc_id").alias("a_id"),
        F.col("sim_hi").alias("hi_a"),
        F.col("sim_lo").alias("lo_a"),
    )
    b = sim.select(
        F.col("doc_id").alias("b_id"),
        F.col("sim_hi").alias("hi_b"),
        F.col("sim_lo").alias("lo_b"),
    )
    ham = F.expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)")
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH64_HAMMING_MAX)
    )


@register(
    "q112_simhash_near_dup",
    "WITH" + simhash_pairs_cte_duck()
    + " SELECT a_id, b_id, hamming FROM ham"
    f" WHERE hamming <= {SIMHASH64_HAMMING_MAX} ORDER BY a_id, b_id",
    doc="SimHash near-duplicate pairs — the banded consumer that turns"
    " the SimHash family (q28) into a third dedup detector beside"
    " MinHash-Jaccard (q27/q29) and embedding cosine (q33): 64-bit"
    " per-bit-majority signature over token hashes, 4x16-bit bands,"
    " TWO-LEVEL candidate rule (identical-signature members connect"
    " via hamming-0 stars around the group min; MAX_BAND_BUCKET caps"
    " DISTINCT signatures per bucket, whose reps clique — never"
    " all-pairs, and verbatim mass can neither explode a bucket nor"
    " blind it), exact"
    f" Hamming <= {SIMHASH64_HAMMING_MAX}/64 verify on the tiny"
    " candidate set. Catches token-multiset-preserving edits"
    " (reorderings, small substitutions) that shingle-Jaccard scores"
    " low. Oracle re-derives signature, bands, grouping, cap, and"
    " Hamming bit-for-bit.",
)
def q112(spark, sf_dir):
    return simhash_near_dup_pairs(spark, sf_dir).orderBy("a_id", "b_id")


@register(
    "q29_ngram_jaccard",
    "WITH " + _candidate_cte_duck() + ","
    f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s FROM documents)"
    " SELECT c.a_id, c.b_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
    "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
    " AS BIGINT) AS jaccard_millis"
    " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
    " JOIN sh sb ON sb.doc_id = c.b_id"
    " ORDER BY a_id, b_id",
    doc="Exact n-gram Jaccard similarity, computed ONLY for LSH candidate"
    " pairs — the verify step of the dedup pipeline. Joins candidates back"
    " to shingle sets by doc_id; never all-pairs.",
)
def q29(spark, sf_dir):
    return jaccard_pairs(spark, sf_dir)


def jaccard_pairs(spark, sf_dir):
    """Exact-Jaccard verify stage, computed ONLY for candidate members.
    See `_jaccard_pairs_with_shingles` for the plan shape."""
    return _jaccard_pairs_with_shingles(spark, sf_dir)[0]


def _jaccard_pairs_with_shingles(spark, sf_dir):
    """(jac, sh): the exact-Jaccard pair frame plus the EAGER-persisted
    member shingle-set table it verifies from.

    The candidate set (id pairs — tiny relative to the corpus) is
    persisted EAGERLY so the banded-LSH pipeline runs once even though
    three consumers read it (the probe plus both id-thinning filters; a
    lazy persist lets them race to materialize it independently). The
    corpus is then LEFT-SEMI thinned to candidate members BEFORE the
    normalization regex and shingle sets are built: at 100 TB the verify
    stage touches |candidates| documents, not the whole corpus — the
    point of having an LSH filter stage at all. The semi-join key side
    is id-only and broadcast-sized (AQE converts it at runtime), so no
    document bodies shuffle to apply the thinning.

    The member shingle table `sh` is ALSO persisted (round 14): both
    verify-join sides read it under different aliases, and ReuseExchange
    cannot dedupe re-aliased subtrees (the r12 lesson) — unpersisted,
    the member NORM + shingle build ran twice in every verify consumer.
    `sh` is member-sized, so the persist is candidate-scale, never
    corpus-scale; q107 additionally derives its MinHash signatures from
    the same cached shingles (minima over distinct shingles equal
    minima over the raw shingle stream)."""
    # eager: materialize before fan-out (q33 pattern), tracked so a
    # long-lived session can queries.release_caches() afterwards
    cand = eager(candidate_pairs(spark, sf_dir))
    ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    members = (
        table(spark, sf_dir, "documents")
        .join(ids, "doc_id", "left_semi")
        .select("doc_id", F.expr(NORM_SPARK).alias("n"))
    )
    sh = eager(
        members.select(
            "doc_id", F.expr(shingle_set_expr("spark")).alias("s")
        )
    )
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.floor(1000.0 * inter / union)
            .cast("bigint")
            .alias("jaccard_millis"),
        )
    )
    return jac, sh


@register(
    "q49_cross_source_neardups",
    "WITH " + _candidate_cte_duck() + ","
    " src AS (SELECT doc_id, source FROM documents)"
    " SELECT c.a_id, c.b_id, sa.source AS src_a, sb.source AS src_b"
    " FROM cand c JOIN src sa ON sa.doc_id = c.a_id"
    " JOIN src sb ON sb.doc_id = c.b_id"
    " WHERE sa.source != sb.source ORDER BY a_id, b_id",
    doc="Cross-source contamination check: near-duplicate candidate pairs"
    " whose members come from DIFFERENT sources — the pass that catches"
    " eval/benchmark text leaking into training crawls, where exact-hash"
    " matching misses the rewrapped copies. Reuses the banded LSH"
    " candidate generation (never all-pairs); the source labels join on"
    " doc_id, so only (doc_id, source) shuffles beyond the candidate"
    " pipeline itself.",
)
def q49(spark, sf_dir):
    cand = candidate_pairs(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("src_b"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .where(F.col("src_a") != F.col("src_b"))
        .select("a_id", "b_id", "src_a", "src_b")
    )


NEAR_DUP_JACCARD_MILLIS = 500  # fixture yields candidates from j=50 to 991


@register(
    "q34_near_dup_dedup",
    "WITH " + _candidate_cte_duck() + ","
    f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s FROM documents),"
    " jac AS (SELECT c.a_id, c.b_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
    "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
    " AS BIGINT) AS j"
    " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
    " JOIN sh sb ON sb.doc_id = c.b_id)"
    " SELECT doc_id FROM documents WHERE doc_id NOT IN"
    f" (SELECT b_id FROM jac WHERE j >= {NEAR_DUP_JACCARD_MILLIS})"
    " ORDER BY doc_id",
    doc="The assembled near-dup dedup decision: keep every document except"
    " the higher-id member of each verified near-duplicate pair"
    " (keep-first semantics over LSH candidates + exact Jaccard >= 0.5)."
    " The full pipeline: banded candidates -> exact verify -> anti-join;"
    " each stage shuffles keys, never corpora.",
)
def q34(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    drops = (
        jaccard_pairs(spark, sf_dir)
        .where(F.col("jaccard_millis") >= NEAR_DUP_JACCARD_MILLIS)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    return docs.select("doc_id").join(drops, "doc_id", "left_anti")


# Incremental ingestion: the daily-batch-vs-existing-corpus shape. The
# corpus side is the persisted LSH index (here recomputed from the same
# table for oracle-checkability; in production it is read back from its
# parquet form); the NEW batch bands against it, so the join is
# new-batch x index on the 8-byte band key — the whole corpus is never
# self-joined again. The fixture batch boundary is by doc_id, mirroring
# an id-ordered append-only corpus.
INCREMENTAL_SPLIT_ID = 400


@register(
    "q66_intra_doc_repetition",
    f"WITH s AS (SELECT doc_id, {SHINGLES_DUCK} AS sh FROM documents)"
    " SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,"
    " CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,"
    " CAST(floor(100.0 * (len(sh) - len(list_distinct(sh)))"
    "   / greatest(len(sh), 1)) AS BIGINT) AS repetition_pct"
    " FROM s ORDER BY doc_id",
    doc="Intra-document repetition score: the share of repeated 8-char"
    " shingles WITHIN each document — the quality signal that catches"
    " boilerplate loops, keyboard mashing, and degenerate generations,"
    " which inter-document dedup (q21/q34) cannot see. Reuses the"
    " MinHash pipeline's shingle definition; pure row-local"
    " array arithmetic, zero shuffle, pipelines into the curation"
    " filter chain at any corpus size.",
)
def q66(spark, sf_dir):
    base = _normed(spark, sf_dir)
    # Project the shingle array ONCE, then take both sizes from the
    # column: inlining the transform into each consumer would rebuild
    # the array per reference (the HOF re-evaluation trap).
    sh = base.select("doc_id", F.expr(SHINGLES_SPARK).alias("sh"))
    sized = sh.select(
        "doc_id",
        F.size("sh").cast("long").alias("n_shingles"),
        F.size(F.array_distinct("sh")).cast("long").alias("n_distinct"),
    )
    ns, nd = F.col("n_shingles"), F.col("n_distinct")
    return sized.select(
        "doc_id",
        "n_shingles",
        "n_distinct",
        F.floor(100.0 * (ns - nd) / F.greatest(ns, F.lit(1)))
        .cast("long")
        .alias("repetition_pct"),
    )


@register(
    "q63_incremental_dedup",
    "WITH " + _banded_cte_duck() + ","
    f" old AS (SELECT doc_id, band FROM expl"
    f" WHERE doc_id < {INCREMENTAL_SPLIT_ID}),"
    f" nw AS (SELECT doc_id, band FROM expl"
    f" WHERE doc_id >= {INCREMENTAL_SPLIT_ID}),"
    " osz AS (SELECT band FROM old GROUP BY band"
    f" HAVING count(*) <= {MINHASH_CLIQUE_CAP}),"
    " ohot AS (SELECT band, doc_id FROM"
    " (SELECT band, doc_id, count(*) OVER (PARTITION BY band) AS bc,"
    " row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn"
    " FROM old) t"
    f" WHERE bc > {MINHASH_CLIQUE_CAP} AND rn <= {MINHASH_CLIQUE_CAP}),"
    " cand2 AS (SELECT DISTINCT old_id, new_id FROM"
    " (SELECT o.doc_id AS old_id, n.doc_id AS new_id"
    " FROM nw n JOIN osz s ON n.band = s.band"
    " JOIN old o ON o.band = n.band"
    " UNION ALL SELECT h.doc_id AS old_id, n.doc_id AS new_id"
    " FROM nw n JOIN ohot h ON n.band = h.band) u),"
    f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s"
    " FROM documents),"
    " jac2 AS (SELECT c.new_id, c.old_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
    "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
    " AS BIGINT) AS j"
    " FROM cand2 c JOIN sh sa ON sa.doc_id = c.old_id"
    " JOIN sh sb ON sb.doc_id = c.new_id)"
    " SELECT new_id, min(old_id) AS dup_of,"
    " max(j) AS jaccard_millis FROM jac2"
    f" WHERE j >= {NEAR_DUP_JACCARD_MILLIS}"
    " GROUP BY new_id ORDER BY new_id",
    doc="Incremental-ingestion dedup: which documents of a NEW batch are"
    " near-duplicates of the EXISTING corpus. The batch bands against"
    " the corpus's LSH index — a (band-key, id) join; the index's hot"
    " bands contribute a bounded representative set (their cap lowest"
    " doc_ids) BEFORE joining — then exact-Jaccard verifies"
    " only the cross-side candidates. The corpus is never re-self-"
    "joined: cost scales with batch x band-collision rate, not corpus"
    " squared — the property that lets a daily crawl dedup against"
    " 100 TB already ingested.",
)
def q63(spark, sf_dir):
    bnd = banded_rows(spark, sf_dir)
    old = bnd.where(F.col("doc_id") < INCREMENTAL_SPLIT_ID)
    new = bnd.where(F.col("doc_id") >= INCREMENTAL_SPLIT_ID)
    # Cold index bands join all their members; hot bands contribute a
    # BOUNDED representative set — their MINHASH_CLIQUE_CAP lowest
    # doc_ids — so a new doc landing in a hot band verifies against at
    # most cap canonical old members (not the whole family, not only a
    # single rep that might belong to a different subfamily of a mixed
    # band). One window pass over the old index classifies every row.
    ow = Window.partitionBy("band")
    owo = Window.partitionBy("band").orderBy("doc_id")
    old_marked = old.withColumn("bc", F.count("*").over(ow)).withColumn(
        "rn", F.row_number().over(owo)
    )
    osz = (
        old_marked.where(F.col("bc") <= MINHASH_CLIQUE_CAP)
        .select("band")
        .distinct()
    )
    ohot = old_marked.where(
        (F.col("bc") > MINHASH_CLIQUE_CAP)
        & (F.col("rn") <= MINHASH_CLIQUE_CAP)
    ).select("band", F.col("doc_id").alias("old_id"))
    cold = (
        new.join(osz, "band", "left_semi")
        .join(
            old.select(F.col("doc_id").alias("old_id"), "band"), "band"
        )
        .select(F.col("doc_id").alias("new_id"), "old_id")
    )
    hot = new.join(ohot, "band").select(
        F.col("doc_id").alias("new_id"), "old_id"
    )
    cand = cold.union(hot).distinct()
    cand = eager(cand)  # probe + both id-thinning filters read it
    ids = (
        cand.select(F.col("old_id").alias("doc_id"))
        .union(cand.select(F.col("new_id").alias("doc_id")))
        .distinct()
    )
    # Verify-stage thinning (same shape as jaccard_pairs): shingle sets
    # are built only for candidate members, never the whole corpus.
    sh = (
        table(spark, sf_dir, "documents")
        .join(ids, "doc_id", "left_semi")
        .select("doc_id", F.expr(NORM_SPARK).alias("n"))
        .select("doc_id", F.expr(shingle_set_expr("spark")).alias("s"))
    )
    a = sh.select(F.col("doc_id").alias("old_id"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("new_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    j = F.floor(1000.0 * inter / union).cast("bigint")
    return (
        cand.join(a, "old_id")
        .join(b, "new_id")
        .select("new_id", "old_id", j.alias("j"))
        .where(F.col("j") >= NEAR_DUP_JACCARD_MILLIS)
        .groupBy("new_id")
        .agg(
            F.min("old_id").alias("dup_of"),
            F.max("j").alias("jaccard_millis"),
        )
        .orderBy("new_id")
    )


# ---------------------------------------------------------------------------
# Connected-component dedup clustering. q34's keep-list is pair-local:
# in a transitive chain A~B~C where (A, C) never became an LSH candidate,
# it has no notion that all three are one duplicate family. The cluster
# operator closes that gap: verified near-dup pairs form a graph, and
# every member is labeled with its component's minimum doc_id — the
# canonical representative the curation layer keeps.
#
# Scale design ("hash-min" label propagation): the graph is the VERIFIED
# pair set — orders of magnitude smaller than the corpus (LSH banding +
# Jaccard verification already pruned it), so the iteration runs on
# (id, label) pairs only; document bodies are never touched. Each round
# is one join + one min-aggregation, both hash-partitioned on id keys,
# and converges in O(component diameter) rounds — near-dup families are
# shallow (a few hops), not long chains, so a handful of rounds settles
# 100 TB-scale corpora. Every round checkpoints the label table so
# lineage stays O(1) instead of growing one join per round (the classic
# iterative-Spark failure mode): localCheckpoint() by default (fast,
# executor-local blocks — fine on local[N] and for short jobs), or
# RELIABLE managed parquet rounds when the session has a checkpoint dir
# configured (spark.sparkContext.setCheckpointDir): each round's labels
# are durably written and the superseded round's file is deleted as the
# next materializes (see _ReliableRounds) — survives executor loss
# without leaking a snapshot per round, the right setting for a
# 1000-executor cluster where losing one node mid-iteration must not
# kill the job. For adversarial diameters the
# large-star/small-star variant (Kiveris et al., "Connected Components
# in MapReduce and Beyond") halves path lengths per round; hash-min is
# the right default for the shallow components dedup graphs produce.
# Graphs up to LOCAL_CC_MAX_EDGES skip the rounds altogether: their edge
# list fits the driver, where union-find labels it in one pass.
# ---------------------------------------------------------------------------

# Round budget: each round is one cheap id-keyed join + min-agg over the
# (tiny) verified-pair node set, so the budget is generous — a diameter
# beyond this on a *verified near-dup* graph means templated boilerplate
# chains, worth failing loudly over rather than looping forever.
MAX_CC_ROUNDS = 50

# Propagate steps fused into each checkpointed CC round: the per-round
# cost at local scale is almost entirely FIXED materialization latency
# (q117's 21-step image chain measured ~0.27 s/checkpoint), so two
# steps share one checkpoint — long chains converge in half the
# checkpoints for the same certified fixpoint. Kept small: each step
# deepens the uncheckpointed plan by a join + agg.
CC_UNROLL = 2

# Adaptive iteration width (guide §2): target label rows per reduce
# partition when the caller did not pass an explicit width. The label
# table is bounded by 2 x edges, so width = clamp(2*edges / this, 4,
# session width) — a 100 TB pair graph derives the session width and
# behaves exactly as before; the common tiny graph stops paying
# session-width near-empty tasks per round.
CC_ROWS_PER_PARTITION = 4_000_000

# Driver-side CC limit: a graph of at most this many edges is pulled to
# the driver in one Arrow collect and labelled by union-find
# (_driver_labels) instead of running the distributed rounds, each of
# which pays Spark's fixed per-job latency whatever the data size
# (q69's 25-edge sf0.01 graph: 11 jobs, 2.6-3.2 s distributed; 4 jobs,
# ~0.6 s on the driver). On 10-node-chain graphs (4-core host) the
# driver branch won at every size up to this limit: 800 edges 0.1-0.7 s
# vs 2.5-4.5 s, 240k 0.7-1.5 s vs 9.5-12.5 s, 1M 2.5-3.3 s vs 39-46 s.
# So the limit is set by driver memory: at 1M edges the driver's Python
# process peaked 236 MB above its baseline. SCALE.md "Driver-side
# connected components".
LOCAL_CC_MAX_EDGES = 1 << 20


def verified_pairs(spark, sf_dir):
    """The verified near-dup edge set: LSH candidates whose exact
    Jaccard clears the dedup threshold. The one expensive artifact the
    dedup family shares — compute it once (persist it) and inject it
    into `dedup_clusters(pairs=...)` / `cluster_keep_docs(...)` /
    `curate.curated_docs(pairs=...)` so a production run pays for LSH +
    verification a single time."""
    return (
        jaccard_pairs(spark, sf_dir)
        .where(F.col("jaccard_millis") >= NEAR_DUP_JACCARD_MILLIS)
        .select("a_id", "b_id")
    )


class _ReliableRounds:
    """Fault-tolerant per-round lineage truncation for cluster
    deployments: each round's label table is written to the session's
    checkpoint dir as parquet and read back (survives executor loss,
    unlike localCheckpoint's executor-resident blocks), and the
    PREVIOUS round's file is deleted as soon as the new round has
    materialized. ``df.checkpoint(eager=True)`` would instead leak one
    label-table snapshot per round — Spark reclaims RDD checkpoints
    only via the async GC-driven cleaner, and only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is enabled.
    ``close()`` removes the whole run directory; connected_components
    calls it after hopping the final labels off the run dir via
    localCheckpoint, so a long-lived session never accumulates one
    label-table snapshot per call."""

    def __init__(self, spark):
        import uuid

        base = spark.sparkContext.getCheckpointDir()
        assert base is not None, "reliable rounds need a checkpoint dir"
        self._spark = spark
        self._dir = base.rstrip("/") + "/cc-" + uuid.uuid4().hex
        self._n = 0
        self._prev: str | None = None

    def __call__(self, df):
        path = f"{self._dir}/round-{self._n}"
        self._n += 1
        df.write.parquet(path)  # synchronous: fully durable on return
        out = self._spark.read.parquet(path)
        if self._prev is not None:
            self._delete(self._prev)
        self._prev = path
        return out

    def _delete(self, path: str) -> None:
        jvm = self._spark._jvm
        conf = self._spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).delete(p, True)

    def close(self) -> None:
        """Remove the whole run directory (incl. the final round)."""
        self._delete(self._dir)
        self._prev = None


def _round_truncator(spark):
    """Pick the per-round lineage truncation: the fault-tolerant parquet
    rounds iff the session has a checkpoint dir configured, else
    localCheckpoint(). Both are eager, so each round's plan is computed
    exactly once."""
    if spark.sparkContext.getCheckpointDir() is not None:
        return _ReliableRounds(spark)

    def _local(df):
        return df.localCheckpoint()

    _local.close = lambda: None
    return _local


def connected_components(spark, pair_df):
    """Label every node of an undirected edge list with its component's
    minimum id.

    pair_df: DataFrame with columns (a_id, b_id) — one row per edge;
    edges with a null endpoint are not part of the graph. Returns
    (node, lbl) in the edge columns' own type, where lbl = min node id
    of the component. The graph is any near-dup pair set
    (Jaccard-verified text pairs, cosine-verified embedding pairs, ...)
    — orders of magnitude smaller than the corpus.

    Which branch runs is chosen from the edge count:

    - n_edges <= LOCAL_CC_MAX_EDGES (every fixture and bench graph): the
      edges come to the driver in one Arrow collect and union-find
      labels them (_driver_labels). No rounds, no checkpoints, no conf
      change, and no Spark job besides the collect.
    - larger graphs: distributed hash-min label propagation with a
      pointer-doubling fallback (_distributed_labels).

    The distributed branch runs MAX_CC_ROUNDS hash-min propagate steps
    before switching to the doubling phase. Hash-min converges in
    O(diameter) steps — right for the shallow components dedup graphs
    produce; a corpus of chained boilerplate can exceed any fixed
    budget, so past it each step additionally shortcuts lbl(v) <-
    lbl(lbl(v)) (pointer doubling, one extra id-keyed self-join per
    step), which halves
    remaining path lengths and settles ANY diameter in O(log d) extra
    steps. Convergence is still certified by a full propagate step
    reporting zero changes, so the exit state is a hash-min fixpoint
    (= exact component minima) regardless of which phase reached it.
    Steps run CC_UNROLL at a time between checkpoints (round-13: the
    iteration cost at local scale is per-checkpoint FIXED latency —
    q117's 21-step image chain measured ~0.27 s/checkpoint of pure
    overhead — so two propagate steps share one materialization; zero
    changes in the LAST unrolled step still certifies the fixpoint,
    because propagate is deterministic: unchanged output means the
    step's input already was the fixpoint).
    Rounds are fault-tolerant parquet files when the session has a
    checkpoint dir, localCheckpoint() otherwise; the parquet path
    deletes each superseded round's file as the next materializes (see
    _ReliableRounds).

    The distributed iteration runs at a SCALE-ADAPTIVE shuffle width
    derived from the edge count (guide §2: the label table is <= 2 x
    edges rows, so CC_ROWS_PER_PARTITION label rows per reduce
    partition, floored at 4 and capped at the session width), bound
    through a scoped spark.sql.shuffle.partitions because each round
    checkpoints + counts INSIDE this call. When that width is narrower
    than the session's, AQE is also scoped OFF for the loop: its
    per-job replanning is pure latency on kilobyte rounds (measured
    ~25% of q117's CC wall). Both confs restore in the finally, safe in
    the engine's one-query-at-a-time sessions; the driver branch
    touches neither."""
    # .select() wraps caller-provided pairs in a fresh plan node, so the
    # persist/unpersist below never touches the caller's own cache
    # state, and a bad edge frame fails analysis before anything else.
    edges = pair_df.select("a_id", "b_id").where(
        F.col("a_id").isNotNull() & F.col("b_id").isNotNull()
    )
    # Persisted for the distributed branch, which reads the edges again
    # in every round.
    edges = edges.persist()
    # Both branches return frames that no longer read the edge cache:
    # driver labels are Arrow-built, distributed ones checkpointed.
    try:
        # One action runs the caller's pair chain (the expensive part)
        # at full session width, fills the edge cache and brings a
        # driver-sized graph home whole; no more than
        # LOCAL_CC_MAX_EDGES + 1 edges ever reach the driver. (A count
        # first would cost three jobs on the fresh cache under AQE: the
        # cache stage plus two aggregation stages.)
        head = edges.limit(LOCAL_CC_MAX_EDGES + 1).toArrow()
        if head.num_rows <= LOCAL_CC_MAX_EDGES:
            return _driver_labels(spark, head, edges.schema["a_id"].dataType)
        return _distributed_labels(spark, edges, edges.count())
    finally:
        edges.unpersist()


def _distributed_labels(spark, edges, n_edges):
    """Hash-min label propagation over the (a_id, b_id) ``edges``, read
    as the symmetric edge list ``sym`` (u, v), with the pointer-doubling
    fallback; see connected_components for the round structure and conf
    scoping."""
    sym = edges.select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    ).union(edges.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
    trunc = _round_truncator(spark)
    _sess_sp = spark.conf.get("spark.sql.shuffle.partitions")
    width = min(
        int(_sess_sp), max(4, -(-2 * n_edges // CC_ROWS_PER_PARTITION))
    )
    _narrowed = width < int(_sess_sp)
    _prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    if _narrowed:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # Init fuses the first propagation round: every member appears as
        # u in the symmetric edge list, so label(u) = min(u, min neighbor)
        # is both the node inventory and one round of hash-min for free.
        labels = trunc(
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select(
                F.col("u").alias("node"),
                F.least(F.col("u"), F.col("mn")).alias("lbl"),
            )
        )
        budget = MAX_CC_ROUNDS
        # Doubling steps halve the longest remaining chain, so 64 more
        # steps settle any graph addressable by 64-bit ids. Each outer
        # iteration checkpoints once and runs CC_UNROLL propagate steps
        # (>= 1 step each), so budget + 64 outer rounds always cover
        # budget + 64 steps.
        steps = 0
        for _ in range(budget + 64):
            base = labels
            for k in range(CC_UNROLL):
                if steps >= budget:
                    # Doubling phase: shortcut each node's label through
                    # its label's own label. Every label value IS a node
                    # id of the same component (init and every step take
                    # minima of node ids), so the left join hits except
                    # at roots. Composes lazily into this round's single
                    # checkpoint — the doubling join never materializes
                    # on its own.
                    par = base.select(
                        F.col("node").alias("pn"),
                        F.col("lbl").alias("plbl"),
                    )
                    base = base.join(
                        par, base["lbl"] == par["pn"], "left"
                    ).select(
                        "node",
                        F.least(
                            F.col("lbl"),
                            F.coalesce(F.col("plbl"), F.col("lbl")),
                        ).alias("lbl"),
                    )
                # candidate label for v: the smallest current label among
                # its neighbors u; labels only ever decrease, so min(old,
                # candidates) is monotone and the fixpoint is exactly
                # min-id-in-component. The per-node OLD label rides the
                # same aggregation (each node contributes exactly one
                # own=true row) on the LAST unrolled step, so convergence
                # is a filter-count on the checkpointed result — no
                # per-round join. ("old" is that step's input label:
                # zero changes certifies a propagate fixpoint, which is
                # the exact component minima no matter how we got there —
                # earlier unrolled steps need no check, because an
                # unchanged final step proves its input was already the
                # fixpoint.)
                cand = sym.join(
                    base, sym["u"] == base["node"]
                ).select(F.col("v").alias("node"), F.col("lbl"))
                aggs = [F.min("lbl").alias("lbl")]
                if k == CC_UNROLL - 1:
                    aggs.append(
                        F.min(
                            F.when(F.col("own"), F.col("lbl"))
                        ).alias("old")
                    )
                base = (
                    base.select("node", "lbl")
                    .withColumn("own", F.lit(True))
                    .union(cand.withColumn("own", F.lit(False)))
                    .groupBy("node")
                    .agg(*aggs)
                )
                steps += 1
            new_labels = trunc(base)
            changed = new_labels.where(F.col("lbl") < F.col("old")).count()
            labels = new_labels.select("node", "lbl")
            if changed == 0:
                break
        else:  # pragma: no cover — unreachable: doubling is O(log d)
            raise RuntimeError(
                f"connected_components did not converge in"
                f" {budget} + 64 rounds"
            )
        if isinstance(trunc, _ReliableRounds):
            # Hop the final labels off the run dir so close() below can
            # remove EVERY file this call created: the returned frame
            # must not depend on leaked snapshots. The handoff window
            # (executor loss between here and the caller's consumption)
            # costs one re-run of this call; the durability that
            # mattered — surviving executor loss across the O(rounds)
            # iteration — is already banked.
            labels = labels.localCheckpoint()
    finally:
        trunc.close()
        spark.conf.set("spark.sql.shuffle.partitions", _sess_sp)
        if _narrowed:
            spark.conf.set("spark.sql.adaptive.enabled", _prev_aqe)
    return labels


def _driver_labels(spark, tbl, id_type):
    """Union-find labels of a driver-sized Arrow edge table (see
    LOCAL_CC_MAX_EDGES): union-by-smaller-root over dense ranks makes
    every root its set's minimum id, and the labels go back as an
    Arrow-built frame of ``id_type`` (no Python workers, no
    executor-resident blocks, no Spark job)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    a = tbl.column("a_id").to_numpy()
    ids, pos = np.unique(
        np.concatenate([a, tbl.column("b_id").to_numpy()]),
        return_inverse=True,
    )
    # np.unique sorts, so rank order is id order: the smaller root rank
    # is the smaller id, and each root stays its set's minimum.
    parent = list(range(len(ids)))
    for u, v in zip(pos[: len(a)].tolist(), pos[len(a) :].tolist()):
        while parent[u] != u:  # path halving
            parent[u] = u = parent[parent[u]]
        while parent[v] != v:
            parent[v] = v = parent[parent[v]]
        if u < v:
            parent[v] = u
        elif v < u:
            parent[u] = v
    root = np.asarray(parent, dtype=np.int64)
    while True:  # pointer jumping: every rank straight to its root
        up = root[root]
        if np.array_equal(up, root):
            break
        root = up
    return spark.createDataFrame(
        pa.table({"node": ids, "lbl": ids[root]}),
        StructType(
            [StructField("node", id_type), StructField("lbl", id_type)]
        ),
    )


def dedup_clusters(spark, sf_dir, pairs=None):
    """(doc_id, cluster_rep) for every document in >=1 verified near-dup
    pair; cluster_rep = min doc_id of its connected component.

    pairs: optional precomputed verified-pair DataFrame (a_id, b_id) —
    see `verified_pairs`.
    """
    if pairs is None:
        pairs = verified_pairs(spark, sf_dir)
    labels = connected_components(spark, pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_rep")
    ).orderBy("doc_id")


@register(
    "q69_dedup_clusters",
    "WITH RECURSIVE " + _candidate_cte_duck() + ","
    f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s FROM documents),"
    " jac AS (SELECT c.a_id, c.b_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
    "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
    " AS BIGINT) AS j"
    " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
    " JOIN sh sb ON sb.doc_id = c.b_id),"
    f" vp AS (SELECT a_id, b_id FROM jac WHERE j >= {NEAR_DUP_JACCARD_MILLIS}),"
    " sym AS (SELECT a_id AS u, b_id AS v FROM vp"
    " UNION ALL SELECT b_id, a_id FROM vp),"
    " reach(u, v) AS (SELECT u, v FROM sym"
    " UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)"
    " SELECT u AS doc_id, CAST(least(u, min(v)) AS BIGINT) AS cluster_rep"
    " FROM reach GROUP BY u ORDER BY doc_id",
    doc="Connected-component dedup clusters over VERIFIED near-dup pairs:"
    " each member document labeled with its component's min doc_id."
    " Transitive closure that q34's pair-local keep-list cannot express;"
    " union-find on the driver for a driver-sized graph, else iterative"
    " hash-min label propagation on (id, label) pairs only,"
    " localCheckpointed per round. Oracle: DuckDB recursive-CTE"
    " reachability over the same verified pair set.",
)
def q69(spark, sf_dir):
    return dedup_clusters(spark, sf_dir)


@register(
    "q70_cluster_dedup_keep",
    "WITH RECURSIVE " + _candidate_cte_duck() + ","
    f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s FROM documents),"
    " jac AS (SELECT c.a_id, c.b_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
    "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
    " AS BIGINT) AS j"
    " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
    " JOIN sh sb ON sb.doc_id = c.b_id),"
    f" vp AS (SELECT a_id, b_id FROM jac WHERE j >= {NEAR_DUP_JACCARD_MILLIS}),"
    " sym AS (SELECT a_id AS u, b_id AS v FROM vp"
    " UNION ALL SELECT b_id, a_id FROM vp),"
    " reach(u, v) AS (SELECT u, v FROM sym"
    " UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),"
    " labels AS (SELECT u AS doc_id, least(u, min(v)) AS rep"
    " FROM reach GROUP BY u)"
    " SELECT d.doc_id FROM documents d LEFT JOIN labels l"
    " ON d.doc_id = l.doc_id"
    " WHERE l.doc_id IS NULL OR l.rep = d.doc_id ORDER BY d.doc_id",
    doc="The cluster-correct dedup decision: keep every document that is"
    " either outside the verified near-dup graph or its component's"
    " representative (min doc_id). Strictly stronger than q34's"
    " pair-local keep-list — a transitive family collapses to exactly"
    " one survivor. Corpus-side cost is one id-only anti-join against"
    " the (tiny) non-representative member set.",
)
def q70(spark, sf_dir):
    return cluster_keep_docs(spark, sf_dir)


def cluster_keep_docs(spark, sf_dir, labels=None):
    """Keep-list under cluster semantics; labels: optional precomputed
    (doc_id, cluster_rep) table from `dedup_clusters` so composed
    pipelines (curate) pay for LSH + verify + label propagation once."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    if labels is None:
        labels = dedup_clusters(spark, sf_dir)
    drops = labels.where(F.col("doc_id") != F.col("cluster_rep")).select(
        "doc_id"
    )
    return docs.join(drops, "doc_id", "left_anti").orderBy("doc_id")


# The q69 label CTE chain (candidates -> jaccard verify -> symmetric
# closure -> reachability), shared by q69/q70/q86 oracles.
def _labels_cte_duck() -> str:
    return (
        _candidate_cte_duck() + ","
        f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s"
        " FROM documents),"
        " jac AS (SELECT c.a_id, c.b_id,"
        " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
        "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
        " AS BIGINT) AS j"
        " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
        " JOIN sh sb ON sb.doc_id = c.b_id),"
        " vp AS (SELECT a_id, b_id FROM jac"
        f" WHERE j >= {NEAR_DUP_JACCARD_MILLIS}),"
        " sym AS (SELECT a_id AS u, b_id AS v FROM vp"
        " UNION ALL SELECT b_id, a_id FROM vp),"
        " reach(u, v) AS (SELECT u, v FROM sym"
        " UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),"
        " labels AS (SELECT u AS doc_id,"
        " CAST(least(u, min(v)) AS BIGINT) AS cluster_rep"
        " FROM reach GROUP BY u)"
    )


@register(
    "q86_split_leakage_audit",
    "WITH RECURSIVE " + _labels_cte_duck() + ","
    " ls AS (SELECT cluster_rep, "
    + _text_split_case_sql("duck", "doc_id")
    + " AS split FROM labels)"
    " SELECT cluster_rep, count(*) AS n_members,"
    " CAST(count(DISTINCT split) AS BIGINT) AS n_splits,"
    " CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_train,"
    " CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_val,"
    " CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_test,"
    " (count(DISTINCT split) > 1) AS leaky"
    " FROM ls GROUP BY cluster_rep ORDER BY cluster_rep",
    doc="Cross-split contamination audit: every verified near-dup"
    " cluster (q69 labels) tagged with how its members fall across the"
    " q50 train/val/test split — a cluster spanning train AND test"
    " means the eval set contains a near-copy of training data, the"
    " exact leak eval-decontamination exists to prevent. The split is"
    " the q50 hash expression over doc_id (no join to the corpus"
    " needed); the rollup groups the TINY cluster-member table."
    " Oracle: the q69 recursive-CTE labels + the same split CASE.",
)
def q86(spark, sf_dir):
    from smartbulkcopy_spark.pipeline.text import split_col

    labels = dedup_clusters(spark, sf_dir)
    return (
        labels.withColumn("split", split_col())
        .groupBy("cluster_rep")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("split").alias("n_splits"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
                "n_train"
            ),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias(
                "n_val"
            ),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias(
                "n_test"
            ),
        )
        .withColumn("leaky", F.col("n_splits") > 1)
        .orderBy("cluster_rep")
    )


# Shared jac CTE (candidates -> shingle sets -> exact Jaccard), used by
# several oracles below and in curate.py.
def _jac_cte_duck() -> str:
    return (
        _candidate_cte_duck() + ","
        f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s"
        " FROM documents),"
        " jac AS (SELECT c.a_id, c.b_id,"
        " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
        "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
        " AS BIGINT) AS j"
        " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
        " JOIN sh sb ON sb.doc_id = c.b_id)"
    )


@register(
    "q106_dedup_provenance",
    "WITH " + _jac_cte_duck() + ","
    f" drops AS (SELECT a_id, b_id, j FROM jac"
    f" WHERE j >= {NEAR_DUP_JACCARD_MILLIS}),"
    " r AS (SELECT b_id, a_id, j,"
    " row_number() OVER (PARTITION BY b_id ORDER BY j DESC, a_id)"
    " AS rn FROM drops)"
    " SELECT b_id AS dropped_doc_id, a_id AS kept_doc_id,"
    " j AS j_millis FROM r WHERE rn = 1 ORDER BY dropped_doc_id",
    doc="Dedup provenance map: for every document the pair-local"
    " keep-list (q34) drops, the single pair that CAUSED the drop —"
    " the strongest verified pair (max Jaccard, ties to the lower"
    " kept id). This is the 'why was my document removed' audit"
    " artifact a curation pipeline must be able to produce; note the"
    " cited keeper may itself be dropped by ANOTHER pair — the"
    " transitive survivor is q69's cluster representative. Rank"
    " windows partition by the dropped id (duplicate-family-sized"
    " groups); everything upstream is the shared bucketed"
    " candidates + verify chain.",
)
def q106(spark, sf_dir):
    return dedup_provenance(spark, sf_dir)


def dedup_provenance(spark, sf_dir, jac=None):
    """q106 as a composable builder: jac = optional precomputed exact-
    Jaccard pair table (see `dedup_report` in pipeline/curate.py, which
    persists one chain and feeds all four audits)."""
    if jac is None:
        jac = jaccard_pairs(spark, sf_dir)
    drops = jac.where(
        F.col("jaccard_millis") >= NEAR_DUP_JACCARD_MILLIS
    )
    w = Window.partitionBy("b_id").orderBy(
        F.col("jaccard_millis").desc(), "a_id"
    )
    return (
        drops.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("b_id").alias("dropped_doc_id"),
            F.col("a_id").alias("kept_doc_id"),
            F.col("jaccard_millis").alias("j_millis"),
        )
        .orderBy("dropped_doc_id")
    )


def _sig_eq_duck() -> str:
    terms = " + ".join(
        f"CAST(sa.mh{k} = sb.mh{k} AS INT)" for k in range(K_HASHES)
    )
    return f"({terms})"


@register(
    "q107_minhash_estimate_quality",
    "WITH " + _jac_cte_duck() + ","
    " est AS (SELECT j.a_id, j.b_id, j.j,"
    f" CAST(1000 * {_sig_eq_duck()} // {K_HASHES} AS BIGINT)"
    " AS est_millis"
    " FROM jac j JOIN sig sa ON sa.doc_id = j.a_id"
    " JOIN sig sb ON sb.doc_id = j.b_id)"
    " SELECT a_id, b_id, j AS j_millis, est_millis,"
    " abs(j - est_millis) AS abs_err_millis"
    " FROM est ORDER BY a_id, b_id",
    doc="MinHash estimator quality audit: for every LSH candidate pair,"
    " the signature-agreement Jaccard estimate (matching minima / 8,"
    " the unbiased MinHash estimator) next to the exact shingle-set"
    " Jaccard, with the absolute error — the measurement that"
    " justifies (or re-tunes) the K_HASHES/band configuration before"
    " scaling it to 100 TB. The exact side reuses the LEFT-SEMI-"
    " thinned verify stage, and the signature side is thinned to the"
    " SAME candidate member ids and persisted once before feeding both"
    " join sides — nothing corpus-sized is recomputed to decorate the"
    " tiny pair set.",
)
def q107(spark, sf_dir):
    return minhash_estimate_quality(spark, sf_dir)


def minhash_estimate_quality(spark, sf_dir, jac=None):
    """q107 as a composable builder: jac = optional precomputed
    (already-persisted) exact-Jaccard pair table."""
    if jac is None:
        # eager pair set: it feeds the member-id derivation AND the
        # final join (q33 pattern; release via queries.release_caches())
        # — and the signatures derive from the SAME cached member
        # shingle table the verify stage built (round 14): MinHash
        # minima over distinct shingles equal minima over the raw
        # shingle stream, so no second member NORM + shingle pass.
        jac, sh = _jaccard_pairs_with_shingles(spark, sf_dir)
        jac = eager(jac)
        sig = eager(_signatures_from_shingle_sets(sh))  # 2 join sides
    else:
        ids = (
            jac.select(F.col("a_id").alias("doc_id"))
            .union(jac.select(F.col("b_id").alias("doc_id")))
            .distinct()
        )
        sig = eager(signatures(spark, sf_dir, member_ids=ids))  # 2 sides
    sa = sig.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(K_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(K_HASHES)],
    )
    eq = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(K_HASHES)
    )
    return (
        jac.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.col("jaccard_millis").alias("j_millis"),
            (1000 * eq).cast("long").alias("est_raw"),
        )
        .select(
            "a_id",
            "b_id",
            "j_millis",
            F.expr(f"est_raw DIV {K_HASHES}").alias("est_millis"),
        )
        .withColumn(
            "abs_err_millis",
            F.abs(F.col("j_millis") - F.col("est_millis")),
        )
        .orderBy("a_id", "b_id")
    )


@register(
    "q108_jaccard_distribution",
    "WITH " + _jac_cte_duck() + ""
    " SELECT CAST(j // 100 AS BIGINT) AS decile,"
    " count(*) AS n_pairs,"
    " min(j) AS min_j_millis, max(j) AS max_j_millis"
    " FROM jac GROUP BY decile ORDER BY decile",
    doc="Near-dup threshold sensitivity: the exact-Jaccard distribution"
    " of every LSH candidate pair in Jaccard deciles — the evidence for"
    " (or against) the verification threshold before committing a 100 TB"
    " dedup run: a mass of pairs just under the cut means the threshold"
    " is doing real work; an empty gap means it is arbitrary. Reuses"
    " the shared bucketed candidates + LEFT-SEMI-thinned verify chain;"
    " the rollup groups the tiny candidate pair set by decile.",
)
def q108(spark, sf_dir):
    return jaccard_distribution(spark, sf_dir)


def jaccard_distribution(spark, sf_dir, jac=None):
    """q108 as a composable builder: jac = optional precomputed exact-
    Jaccard pair table."""
    if jac is None:
        jac = jaccard_pairs(spark, sf_dir)
    return (
        jac.select(F.expr("jaccard_millis DIV 100").alias("decile"), "jaccard_millis")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("jaccard_millis").alias("min_j_millis"),
            F.max("jaccard_millis").alias("max_j_millis"),
        )
        .orderBy("decile")
    )


@register(
    "q113_cluster_size_histogram",
    "WITH RECURSIVE " + _labels_cte_duck() + ","
    " sizes AS (SELECT cluster_rep, count(*) AS sz FROM labels"
    " GROUP BY cluster_rep),"
    " h AS (SELECT sz AS cluster_size,"
    " CAST(count(*) AS BIGINT) AS n_clusters,"
    " CAST(sum(sz) AS BIGINT) AS n_docs FROM sizes GROUP BY sz"
    " UNION ALL SELECT 1,"
    " CAST((SELECT count(*) FROM documents)"
    " - (SELECT count(*) FROM labels) AS BIGINT),"
    " CAST((SELECT count(*) FROM documents)"
    " - (SELECT count(*) FROM labels) AS BIGINT))"
    " SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,"
    " n_docs FROM h ORDER BY cluster_size",
    doc="Duplicate-family size distribution: how many verified near-dup"
    " clusters exist at each member count, plus the singleton row"
    " (documents in no verified pair, counted as size-1 families) —"
    " the capacity-planning readout before a 100 TB dedup commit: the"
    " mass in large families bounds what transitive dedup can reclaim"
    " beyond pair-local keep-lists, and a heavy tail flags templated"
    " boilerplate. Rollups run on the tiny cluster-label table; the"
    " corpus contributes only its count. Oracle: the q69 recursive-CTE"
    " labels re-aggregated.",
)
def q113(spark, sf_dir):
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_rep").agg(F.count("*").alias("sz"))
    hist = sizes.groupBy(F.col("sz").cast("long").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )
    n_total = table(spark, sf_dir, "documents").count()
    n_members = labels.count()
    singletons = spark.createDataFrame(
        [(1, n_total - n_members, n_total - n_members)],
        "cluster_size long, n_clusters long, n_docs long",
    )
    return hist.unionByName(singletons).orderBy("cluster_size")


# ---------------------------------------------------------------------------
# Cross-document repeated-substring spans — the distributed form of
# exact-substring dedup (the suffix-array method of Lee et al.,
# "Deduplicating Training Data Makes Language Models Better"): hash
# every L-char window of the normalized text, keep the hashes seen in
# >= 2 distinct documents, and merge each document's hit positions into
# maximal overlapping spans. The emitted spans are the "what to cut"
# artifact that document-level dedup (q21/q34/q70) cannot produce: two
# documents sharing one long boilerplate paragraph keep their unique
# remainders. One shuffle keys the gram-hash space (singleton hashes —
# the vast majority — die in the partial aggregate); the span merge is
# a per-document window bounded by document length. Per-position md5 is
# map-side linear work, the honest distributed substitute for a suffix
# array, which cannot be built across a 100 TB corpus.
# ---------------------------------------------------------------------------

CROSSDOC_L = 40  # span granularity: repeated runs of >= 40 normalized chars


@register(
    "q119_crossdoc_repeated_spans",
    f"WITH nn AS (SELECT doc_id, {NORM_DUCK} AS n FROM documents),"
    f" lg AS (SELECT doc_id, n FROM nn WHERE length(n) >= {CROSSDOC_L}),"
    " g0 AS (SELECT doc_id, n,"
    f" unnest(range(1, length(n) - {CROSSDOC_L} + 2)) AS pos FROM lg),"
    " g AS (SELECT doc_id, pos, "
    + gram_key_duck(f"substr(n, CAST(pos AS INT), {CROSSDOC_L})")
    + " AS h FROM g0),"
    " dup AS (SELECT h FROM g GROUP BY h"
    " HAVING count(DISTINCT doc_id) >= 2),"
    " hit AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),"
    " fl AS (SELECT doc_id, pos,"
    f" CASE WHEN pos > lag(pos) OVER w + {CROSSDOC_L} THEN 1 ELSE 0 END"
    " AS brk FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),"
    " isl AS (SELECT doc_id, pos, sum(brk)"
    " OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM fl),"
    " sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,"
    f" CAST(max(pos) + {CROSSDOC_L} - 1 AS BIGINT) AS span_end,"
    " CAST(count(*) AS BIGINT) AS n_grams"
    " FROM isl GROUP BY doc_id, island)"
    " SELECT doc_id, span_start, span_end,"
    " span_end - span_start + 1 AS span_len, n_grams FROM sp"
    " ORDER BY doc_id, span_start",
    doc="Cross-document repeated-substring spans (distributed exact-"
    f"substring dedup): every {CROSSDOC_L}-char window of the"
    " normalized text is hashed to the 60-bit integer gram key"
    " (gram_key_spark — the per-CHAR gram stream is the repo's"
    " heaviest shuffle, and the 8-byte long key avoids the measured"
    " hex-string sort cliff at high verbatim mass); keys occurring in"
    " >= 2 distinct documents mark their positions, and per-document"
    " positions merge into maximal overlapping spans (interval-union"
    " gaps-and-islands). The sub-document artifact that document-level"
    " dedup cannot emit: shared boilerplate is excised, unique"
    " remainders survive. One gram-key shuffle (singletons die"
    " map-side), doc-length-bounded windows; linear in corpus size.",
)
def q119(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    L = CROSSDOC_L
    base = spread(
        spark,
        docs.select("doc_id", F.expr(NORM_SPARK).alias("n")).where(
            F.length("n") >= L
        ),
    )
    # length(n) >= L guarantees sequence() is ascending and non-empty
    # (Spark's sequence DESCENDS when stop < start — never feed it one).
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(n) - {L - 1}),"
                " i -> "
                + gram_key_spark(f"substr(n, i, {L})")
                + ")"
            )
        ).alias("i0", "h"),
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("pos"), "h")
    # ONE hash exchange on h, BY CONSTRUCTION (round 14). The r13
    # repartition("h") fan-out DID get runtime exchange reuse here
    # (executed-plan probe: 1 ReusedExchange — identically-shaped
    # branches reuse, unlike the column-pruned winnow keep branch),
    # so the md5 Generate already ran once; the win is structural:
    # max(dense_rank) over the SAME h partitioning replaces the
    # countDistinct aggregate + left-semi join, dropping two shuffle
    # stages (executed final plan 6 -> 4 stages; 1.89 -> 1.51 s).
    wh = Window.partitionBy("h")
    who = Window.partitionBy("h").orderBy("doc_id")
    hits = (
        grams.withColumn("dr", F.dense_rank().over(who))
        .withColumn("nd", F.max("dr").over(wh))
        .where(F.col("nd") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + L, 1).otherwise(0)
    isl = hits.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w)
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + L - 1).cast("long").alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            "n_grams",
        )
        .orderBy("doc_id", "span_start")
    )


@register(
    "q124_source_dedup_rates",
    "WITH " + _candidate_cte_duck() + ","
    f" sh AS MATERIALIZED (SELECT doc_id, {shingle_set_expr('duck')} AS s"
    " FROM documents),"
    " jac AS (SELECT c.a_id, c.b_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
    "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
    " AS BIGINT) AS j"
    " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
    " JOIN sh sb ON sb.doc_id = c.b_id),"
    f" vp AS (SELECT a_id, b_id FROM jac"
    f" WHERE j >= {NEAR_DUP_JACCARD_MILLIS}),"
    " mem AS (SELECT a_id AS doc_id FROM vp"
    " UNION SELECT b_id FROM vp)"
    " SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(count(m.doc_id) AS BIGINT) AS n_dup_members,"
    " CAST(count(m.doc_id) * 1000000 // count(*) AS BIGINT)"
    " AS dup_ppm"
    " FROM documents d LEFT JOIN mem m ON d.doc_id = m.doc_id"
    " GROUP BY d.source ORDER BY d.source",
    doc="Per-source near-duplication rate: for each ingestion source,"
    " how many documents sit in at least one verified near-dup pair"
    " (the q29/q69 chain) and the rate in ppm — the triage readout"
    " that tells a curation run WHICH feed is flooding the corpus with"
    " boilerplate before paying for transitive dedup on all of it."
    " The member-id set is tiny (pair-graph-sized); the corpus pays"
    " one id-keyed left join and a per-source rollup bounded by the"
    " source count.",
)
def q124(spark, sf_dir):
    pairs = verified_pairs(spark, sf_dir)
    mem = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .union(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
        .withColumn("is_mem", F.lit(1))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.join(mem, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("is_mem").alias("n_dup_members"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_members").cast("long").alias("n_dup_members"),
            F.expr("n_dup_members * 1000000L DIV n_docs")
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("source")
    )


@register(
    "q125_cluster_keep_best",
    "WITH RECURSIVE " + _labels_cte_duck() + ","
    " fam AS (SELECT d.doc_id,"
    " CAST(coalesce(l.cluster_rep, d.doc_id) AS BIGINT) AS family_rep,"
    " CAST(" + _text_tokens_sql_duck() + " AS BIGINT) AS n_tokens"
    " FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)"
    " SELECT doc_id, family_rep, n_tokens,"
    " (row_number() OVER (PARTITION BY family_rep"
    " ORDER BY n_tokens DESC, doc_id) = 1) AS keep"
    " FROM fam ORDER BY doc_id",
    doc="Quality-aware transitive dedup: keep the LONGEST member of each"
    " verified near-dup family (token count, min doc_id breaking ties)"
    " instead of q70's min-id convention — the production choice, since"
    " near-dup families usually contain one full document plus"
    " truncated/boilerplate variants. Labels come from the same"
    " connected-component chain; the rank window partitions by family"
    " rep (duplicate-family-sized groups, singletons are their own"
    " partition), so no corpus-wide window state.",
)
def q125(spark, sf_dir):
    from smartbulkcopy_spark.pipeline.text import token_count

    labels = dedup_clusters(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count().cast("long").alias("n_tokens")
    )
    fam = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_rep", "doc_id")
        .cast("long")
        .alias("family_rep"),
        "n_tokens",
    )
    w = Window.partitionBy("family_rep").orderBy(
        F.col("n_tokens").desc(), "doc_id"
    )
    return (
        fam.withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "family_rep", "n_tokens", "keep")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Prefix-filtering exact similarity self-join (PPJoin-style). The LSH
# family above is probabilistic: a near-dup pair can be missed when no
# band collides. When the pipeline contract requires EVERY pair above
# the threshold (legal takedown sweeps, benchmark-contamination audits),
# the classic scale path is prefix filtering (Chaudhuri et al. 2006,
# Xiao et al. PPJoin 2008): order the vocabulary by ascending document
# frequency, keep only each document's first
# |d| - ceil(t*|d|) + 1 rarest tokens (its "prefix"), and join documents
# on shared PREFIX tokens only — any pair with Jaccard >= t provably
# shares a prefix token, so the join is lossless, yet the inverted index
# holds the rare half of each document instead of every token. A length
# filter (min/max size ratio >= t) prunes candidates before the exact
# verify. All arithmetic is integer and the token order is
# (doc_frequency, token) — engine-identical, so the oracle reproduces
# the exact pair set.
# ---------------------------------------------------------------------------

PF_T_MILLIS = 500  # Jaccard threshold: keep pairs with J >= 0.5
# Prefix-token inverted lists larger than this are stopword-like tokens
# that slipped into prefixes of short documents; their quadratic pair
# mass is boilerplate (same argument as MAX_BAND_BUCKET). Applied
# identically by both engines.
PF_MAX_LIST = 1024

# Integer ceil(t*n) with t in millis: (t*n + 999) DIV 1000.
_PF_PREFIX_LEN_SPARK = (
    f"size(arr) - (({PF_T_MILLIS} * size(arr) + 999) DIV 1000) + 1"
)


@register(
    "q128_prefix_filter_join",
    "WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(trim("
    + NORM_DUCK + "), ' ')) AS t FROM documents"
    f" WHERE trim({NORM_DUCK}) != ''),"
    " dfq AS (SELECT t, count(*) AS dfreq FROM tok GROUP BY t),"
    " rk AS (SELECT k.doc_id, k.t,"
    " row_number() OVER (PARTITION BY k.doc_id"
    " ORDER BY d.dfreq, k.t) AS rn,"
    " count(*) OVER (PARTITION BY k.doc_id) AS n"
    " FROM tok k JOIN dfq d ON d.t = k.t),"
    " pre AS (SELECT doc_id, t, n FROM rk"
    f" WHERE rn <= n - ({PF_T_MILLIS} * n + 999) // 1000 + 1),"
    " lst AS (SELECT t FROM pre GROUP BY t"
    f" HAVING count(*) > 1 AND count(*) <= {PF_MAX_LIST}),"
    " cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,"
    " x.n AS na, y.n AS nb"
    " FROM pre x JOIN lst l ON x.t = l.t"
    " JOIN pre y ON x.t = y.t AND x.doc_id < y.doc_id),"
    " cf AS (SELECT a_id, b_id FROM cand"
    f" WHERE 1000 * least(na, nb) >= {PF_T_MILLIS} * greatest(na, nb)),"
    " st AS (SELECT doc_id, list_distinct(string_split(trim("
    + NORM_DUCK + "), ' ')) AS s FROM documents"
    f" WHERE trim({NORM_DUCK}) != ''),"
    " ver AS (SELECT c.a_id, c.b_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
    "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
    " AS BIGINT) AS jaccard_millis"
    " FROM cf c JOIN st sa ON sa.doc_id = c.a_id"
    " JOIN st sb ON sb.doc_id = c.b_id)"
    " SELECT a_id, b_id, jaccard_millis FROM ver"
    f" WHERE jaccard_millis >= {PF_T_MILLIS}"
    " ORDER BY a_id, b_id",
    doc="EXACT Jaccard >= 0.5 similarity self-join over whitespace-token"
    " sets via prefix filtering (PPJoin-style): vocabulary ordered by"
    " ascending document frequency, each document indexes only its"
    " |d| - ceil(t|d|) + 1 rarest tokens, candidates share a prefix"
    " token (provably lossless for J >= t), a min/max-size length filter"
    " prunes before the exact verify. The guaranteed-complete"
    " counterpart to the probabilistic LSH chain (q27/q29): no pair"
    " above threshold can be missed, yet the inverted index carries only"
    " rare-half tokens and over-cap stopword lists are dropped"
    " identically by both engines.",
)
def q128(spark, sf_dir):
    return prefix_filter_pairs(spark, sf_dir)


def prefix_filter_pairs(spark, sf_dir):
    """(a_id, b_id, jaccard_millis) — every pair with token-set Jaccard
    >= PF_T_MILLIS/1000, found without any all-pairs comparison.

    Scale shape: two token-table shuffles build the frequency-ordered
    prefixes (token -> dfreq join, then doc_id regroup — the textbook
    PPJoin cost, both keyed and partial-aggregated); the inverted index
    holds PREFIX tokens only (the rarest ~half of each document, so
    list sizes are small by construction and capped at PF_MAX_LIST);
    the in-list pair explosion is the q27 bucket pattern (sorted
    collect_list + row-local nested transform, never an inequality
    self-join); the exact verify LEFT-SEMI thins the corpus to
    candidate members first (q29 rule). Document bodies never shuffle —
    only (token, doc_id, n) prefix rows and id pairs. Per-doc token
    dedup is ROW-LOCAL (array_distinct before the explode): the old
    explode + global .distinct() paid a full (doc_id, token) exchange
    for a dedup that never crosses rows (round-14, guide §2.4)."""
    base = _normed(spark, sf_dir).where(F.trim("n") != "")
    tok = base.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("n"), " "))).alias("t"),
    )
    dfq = tok.groupBy("t").agg(F.count("*").alias("dfreq"))
    per_doc = (
        tok.join(dfq, "t")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dfreq", "t"))).alias("arr"))
    )
    pre = per_doc.select(
        "doc_id",
        F.size("arr").alias("n"),
        F.explode(
            F.expr(f"slice(arr, 1, {_PF_PREFIX_LEN_SPARK})")
        ).alias("s"),
    ).select("doc_id", "n", F.col("s.t").alias("t"))
    list_count = F.count("*").over(Window.partitionBy("t"))
    buckets = (
        pre.withColumn("bc", list_count)
        .where((F.col("bc") > 1) & (F.col("bc") <= PF_MAX_LIST))
        .groupBy("t")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))"
    )
    cand = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("a_id"),
            F.col("p.b.doc_id").alias("b_id"),
            F.col("p.a.n").alias("na"),
            F.col("p.b.n").alias("nb"),
        )
        .distinct()
        .where(
            1000 * F.least("na", "nb")
            >= PF_T_MILLIS * F.greatest("na", "nb")
        )
        .select("a_id", "b_id")
    )
    # eager: the id set feeds the probe plus both thinning filters
    cand = eager(cand)
    ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # eager: BOTH verify-join sides read the member token-set table
    # under different aliases, and ReuseExchange cannot dedupe
    # re-aliased subtrees (r12/r14 rule) — unpersisted, the member
    # NORM + tokenize ran once per side.
    sets = eager(
        base.join(ids, "doc_id", "left_semi").select(
            "doc_id",
            F.array_distinct(F.split(F.trim("n"), " ")).alias("s"),
        )
    )
    a = sets.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    b = sets.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.floor(1000.0 * inter / union)
            .cast("bigint")
            .alias("jaccard_millis"),
        )
        .where(F.col("jaccard_millis") >= PF_T_MILLIS)
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# Containment join: the ASYMMETRIC dup relation Jaccard misses. A tweet
# quoted inside an article, a truncated variant of a full document, a
# chapter extracted from a book — all have tiny Jaccard (the union is
# container-sized) but containment |A∩B|/|A| near 1. Prefix filtering
# adapts: a pair with |A∩B| >= ceil(t|A|) must share one of A's
# |A| - ceil(t|A|) + 1 rarest tokens, provided the CONTAINER indexes its
# full token list (single-sided prefix, asymmetric index). A's prefix
# tokens are globally rarest-first, so the joined inverted lists stay
# small; hot stopword lists are capped identically in both engines.
# ---------------------------------------------------------------------------

CONT_T_MILLIS = 600  # containment threshold: |A∩B| / |A| >= 0.6
CONT_MAX_LIST = 1024


@register(
    "q129_containment_join",
    "WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(trim("
    + NORM_DUCK + "), ' ')) AS t FROM documents"
    f" WHERE trim({NORM_DUCK}) != ''),"
    " dfq AS (SELECT t, count(*) AS dfreq FROM tok GROUP BY t),"
    " rk AS (SELECT k.doc_id, k.t,"
    " row_number() OVER (PARTITION BY k.doc_id"
    " ORDER BY d.dfreq, k.t) AS rn,"
    " count(*) OVER (PARTITION BY k.doc_id) AS n"
    " FROM tok k JOIN dfq d ON d.t = k.t),"
    " lst AS (SELECT t FROM rk GROUP BY t"
    f" HAVING count(*) > 1 AND count(*) <= {CONT_MAX_LIST}),"
    " pre AS (SELECT doc_id, t, n FROM rk"
    f" WHERE rn <= n - ({CONT_T_MILLIS} * n + 999) // 1000 + 1),"
    " cand AS (SELECT DISTINCT x.doc_id AS contained_id,"
    " y.doc_id AS container_id"
    " FROM pre x JOIN lst l ON x.t = l.t"
    " JOIN rk y ON x.t = y.t AND x.doc_id != y.doc_id"
    " AND (y.n > x.n OR (y.n = x.n AND x.doc_id < y.doc_id))),"
    " st AS (SELECT doc_id, list_distinct(string_split(trim("
    + NORM_DUCK + "), ' ')) AS s FROM documents"
    f" WHERE trim({NORM_DUCK}) != ''),"
    " ver AS (SELECT c.contained_id, c.container_id,"
    " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s)) / len(sa.s))"
    " AS BIGINT) AS containment_millis"
    " FROM cand c JOIN st sa ON sa.doc_id = c.contained_id"
    " JOIN st sb ON sb.doc_id = c.container_id)"
    " SELECT contained_id, container_id, containment_millis FROM ver"
    f" WHERE containment_millis >= {CONT_T_MILLIS}"
    " ORDER BY contained_id, container_id",
    doc="EXACT containment join (|A∩B|/|A| >= 0.6): finds the asymmetric"
    " duplicates Jaccard misses — excerpts, truncations, quotes inside"
    " larger documents. Single-sided prefix filter (the contained side"
    " indexes its rarest |A|-ceil(t|A|)+1 tokens; the container side is"
    " fully indexed), provably lossless; prefix tokens are globally"
    " rarest-first so joined lists stay small, hot lists capped"
    " identically in both engines. Directed output: contained -> its"
    " no-smaller container (doc_id order breaking size ties).",
)
def q129(spark, sf_dir):
    return containment_pairs(spark, sf_dir)


def containment_pairs(spark, sf_dir):
    """(contained_id, container_id, containment_millis), directed toward
    the no-smaller container.

    Scale shape: ONE tokenize + dfreq-join + per-doc regroup builds the
    frequency-ordered arrays; posexplode emits each doc's full ranked
    token list once, tagged with its prefix membership, so the bipartite
    (prefix-member x full-member) candidate explosion happens ROW-LOCAL
    inside each token bucket (q27 bucket pattern generalized — never a
    token-table self-join, which would recompute or cache the whole
    chain). The count window shares the groupBy's token partitioning;
    over-cap stopword lists drop BEFORE any array is collected. The
    exact verify LEFT-SEMI thins the corpus to candidate members.
    Per-doc token dedup is ROW-LOCAL (array_distinct before the
    explode, the q128 spelling) — no global distinct exchange."""
    base = _normed(spark, sf_dir).where(F.trim("n") != "")
    tok = base.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("n"), " "))).alias("t"),
    )
    dfq = tok.groupBy("t").agg(F.count("*").alias("dfreq"))
    arrs = (
        tok.join(dfq, "t")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dfreq", "t"))).alias("arr"))
    )
    full = arrs.select(
        "doc_id",
        F.size("arr").alias("n"),
        F.posexplode("arr").alias("pos", "s"),
    ).select(
        "doc_id",
        "n",
        (F.col("pos") + 1).alias("rn"),
        F.col("s.t").alias("t"),
    )
    in_prefix = F.expr(
        f"rn <= n - (({CONT_T_MILLIS} * n + 999) DIV 1000) + 1"
    )
    list_count = F.count("*").over(Window.partitionBy("t"))
    grouped = (
        full.withColumn("bc", list_count)
        .where((F.col("bc") > 1) & (F.col("bc") <= CONT_MAX_LIST))
        .groupBy("t")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "n"))
            ).alias("ds"),
            F.sort_array(
                F.collect_list(
                    F.when(in_prefix, F.struct("doc_id", "n"))
                )
            ).alias("pa"),
        )
    )
    pair_expr = F.expr(
        "flatten(transform(pa, a -> transform("
        " filter(ds, b -> b.doc_id != a.doc_id AND (b.n > a.n"
        " OR (b.n = a.n AND a.doc_id < b.doc_id))),"
        " b -> named_struct('cid', a.doc_id, 'bid', b.doc_id))))"
    )
    cand = eager(
        grouped.select(F.explode(pair_expr).alias("p"))
        .select(
            F.col("p.cid").alias("contained_id"),
            F.col("p.bid").alias("container_id"),
        )
        .distinct()
    )
    ids = (
        cand.select(F.col("contained_id").alias("doc_id"))
        .union(cand.select(F.col("container_id").alias("doc_id")))
        .distinct()
    )
    # eager: two re-aliased verify sides (the q128 rationale) — local
    # steady state is a wash (2.50 vs 2.64 s) but the foreign-session
    # mimic halves (9.2 vs 16.1 s: the cached half of the plan
    # materializes narrow under the eager() AQE guard).
    sets = eager(
        base.join(ids, "doc_id", "left_semi").select(
            "doc_id",
            F.array_distinct(F.split(F.trim("n"), " ")).alias("s"),
        )
    )
    a = sets.select(
        F.col("doc_id").alias("contained_id"), F.col("s").alias("sa")
    )
    b = sets.select(
        F.col("doc_id").alias("container_id"), F.col("s").alias("sb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(a, "contained_id")
        .join(b, "container_id")
        .select(
            "contained_id",
            "container_id",
            F.floor(1000.0 * inter / F.size("sa"))
            .cast("bigint")
            .alias("containment_millis"),
        )
        .where(F.col("containment_millis") >= CONT_T_MILLIS)
        .orderBy("contained_id", "container_id")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
# the MOSS algorithm). Per document: hash every K-char gram of the
# normalized text with the q39 polynomial (base 31 mod 2^31), slide a
# W-gram window, and keep the distinct window MINIMA as the document's
# fingerprint set (value-level winnowing: the guarantee that any shared
# run of >= W + K - 1 chars contributes at least one common fingerprint
# is preserved, because both documents select the same minimum inside
# the shared run). Documents are then paired through an inverted index
# on the fingerprint hash — KEYED join, never all-pairs — and, MOSS-
# style, fingerprints appearing in more than WINNOW_MAX_POSTINGS
# documents are dropped as ambient boilerplate before pairing: a hot
# posting list is quadratic in its length no matter how pairs are
# generated, and shared-boilerplate detection is q96/q119/q160's job.
# The cap is part of the operator definition; the oracle applies it
# identically.
# ---------------------------------------------------------------------------

WINNOW_K = 12  # gram length (chars)
WINNOW_W = 6  # winnowing window (grams); detects matches >= 17 chars
WINNOW_MOD = 2_147_483_648  # q39's modulus — shared hash definition
# MOSS's "too common to be interesting" cap — applies to the PAIR
# chains (q164/q180/q187) only, never the contamination screens
# (q170/q177 route through _contamination_rollup, which is cap-free by
# design). q202 registers the split as an oracle-checked metric: on a
# cap-straddling verbatim corpus the screen holds 100% recall while
# the capped chain drops to 29% (it goes blind on every over-cap
# family — q180's verbatim exponent -1.00 is the cost-side view).
WINNOW_MAX_POSTINGS = 16

_WINNOW_MIN_LEN = WINNOW_K + WINNOW_W - 1

_H_SPARK = (
    f"transform(sequence(1, length(n) - {WINNOW_K - 1}),"
    f" i -> aggregate(transform(sequence(i, i + {WINNOW_K - 1}),"
    " j -> ascii(substr(n, j, 1))), 0L,"
    f" (a, c) -> (a * 31 + c) % {WINNOW_MOD}))"
)
_H_DUCK = (
    f"list_transform(range(1, length(n) - {WINNOW_K} + 2),"
    " i -> CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
    f" list_transform(range(i, i + {WINNOW_K}),"
    " j -> ord(substr(n, CAST(j AS INT), 1)))),"
    f" (a, c) -> (a * 31 + c) % {WINNOW_MOD}) AS BIGINT))"
)


def winnow_fingerprints(spark, sf_dir, docs=None):
    """(doc_id, fph) distinct winnowing fingerprints per document
    (optionally of a pre-thinned `docs` frame — the incremental q177
    path fingerprints ONLY the new batch).

    Row-local HOF chain: gram hashes H (pre-projected so the window
    lambda doesn't recompute them — H is referenced twice in the picks
    expression, which keeps the projection alive through
    CollapseProject), then distinct minima of each W-slice."""
    if docs is None:
        docs = spread(spark, table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", F.expr(NORM_SPARK).alias("n")
    ).where(F.length("n") >= _WINNOW_MIN_LEN)
    h = base.select("doc_id", F.expr(_H_SPARK).alias("H"))
    picks = (
        f"array_distinct(transform(sequence(0, size(H) - {WINNOW_W}),"
        f" p -> array_min(slice(H, p + 1, {WINNOW_W}))))"
    )
    return h.select(
        "doc_id", F.explode(F.expr(picks)).alias("fph")
    )


# Shared oracle CTE chain: (doc_id, fph) distinct winnowing
# fingerprints — q164 pairs them, q170 screens them against the eval
# source, q177 builds the eval-index and batch sides separately via the
# prefix/where parameters. Single definition so the oracles cannot
# drift.
def _winnow_pk_ctes(p: str = "", where: str = "") -> str:
    return (
        f"nn{p} AS (SELECT doc_id, {NORM_DUCK} AS n"
        f" FROM documents{where}),"
        f" lg{p} AS (SELECT doc_id, n FROM nn{p}"
        f" WHERE length(n) >= {_WINNOW_MIN_LEN}),"
        f" hh{p} AS (SELECT doc_id, {_H_DUCK} AS H FROM lg{p}),"
        f" pk{p} AS (SELECT doc_id, unnest(list_distinct(list_transform("
        f"range(0, len(H) - {WINNOW_W} + 1),"
        f" p -> list_min(list_slice(H, p + 1, p + {WINNOW_W}))))) AS fph"
        f" FROM hh{p})"
    )


_WINNOW_PK_CTES = _winnow_pk_ctes()


def _winnow_pair_ctes() -> str:
    """keep/pkf/pr — the q164 capped inverted-index pair chain (single
    definition; q164 and q180 share it so the oracles cannot drift).
    pkf is MATERIALIZED: both sides of the pair self-join read it, and
    DuckDB re-executes unmaterialized CTEs per reference (the q179
    lesson)."""
    return (
        " keep AS (SELECT fph FROM pk GROUP BY fph"
        f" HAVING count(*) <= {WINNOW_MAX_POSTINGS}),"
        " pkf AS MATERIALIZED (SELECT doc_id, fph"
        " FROM pk JOIN keep USING (fph)),"
        " pr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,"
        " CAST(count(*) AS BIGINT) AS shared_fps"
        " FROM pkf x JOIN pkf y ON x.fph = y.fph"
        " AND x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id)"
    )


@register(
    "q191_winnow_posting_histogram",
    f"WITH {_WINNOW_PK_CTES},"
    " s AS (SELECT fph, CAST(count(*) AS BIGINT) AS sz"
    " FROM pk GROUP BY fph)"
    " SELECT sz, CAST(count(*) AS BIGINT) AS n_fps,"
    f" (sz > {WINNOW_MAX_POSTINGS}) AS dropped"
    " FROM s GROUP BY sz ORDER BY sz",
    doc="Posting-list size histogram of the winnowing fingerprint"
    " index — the q31 balance check for the MOSS chain: how many"
    " fingerprints sit at each posting-list size, with the lists the"
    f" WINNOW_MAX_POSTINGS={WINNOW_MAX_POSTINGS} cap drops flagged."
    " The readout that justifies the cap empirically (the SCALE.md"
    " verbatim tail probe shows WHY: pair cost is quadratic in list"
    " length) and the early-warning signal when boilerplate mass"
    " shifts the distribution toward the cap. Two narrow partial-agg"
    " shuffles — (fph, count) then (sz, count) — document text never"
    " shuffles.",
)
def q191(spark, sf_dir):
    pk = winnow_fingerprints(spark, sf_dir)
    sz = pk.groupBy("fph").agg(F.count("*").cast("long").alias("sz"))
    return (
        sz.groupBy("sz")
        .agg(F.count("*").cast("long").alias("n_fps"))
        .select(
            "sz",
            "n_fps",
            (F.col("sz") > WINNOW_MAX_POSTINGS).alias("dropped"),
        )
        .orderBy("sz")
    )


def winnow_drop_share(spark, sf_dir):
    """(doc_id, n_fps, n_dropped, drop_ppm) — the per-document view of
    q191 (the round-12 stage): what fraction of each document's
    winnowing fingerprints the WINNOW_MAX_POSTINGS cap removes. A
    boilerplate-heavy document loses most of its fingerprint mass to
    the cap and becomes invisible to the q164/q180 pair chain — this
    is the audit that finds those blind spots. Round-14 shape: the
    posting-size mark is a window count over the SAME fph partitioning
    the fingerprint stream shuffles into — the whole cap + mark
    happens inside ONE exchange and the corpus-sized fingerprint HOF
    runs exactly once by construction (the r13 repartition +
    aggregate/join fan-out needed runtime exchange reuse to avoid a
    second HOF pass, and reuse never fired). Integer ppm
    (non-negative: Spark DIV == DuckDB //)."""
    pk = winnow_fingerprints(spark, sf_dir)
    pc = F.count("*").over(Window.partitionBy("fph")).alias("pc")
    marked = pk.select("doc_id", "fph", pc)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_fps"),
            F.sum(
                F.when(
                    F.col("pc") > WINNOW_MAX_POSTINGS, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            "doc_id",
            "n_fps",
            "n_dropped",
            F.expr("n_dropped * 1000000 DIV n_fps")
            .cast("long")
            .alias("drop_ppm"),
        )
        .orderBy("doc_id")
    )


def winnow_capped_pairs(spark, sf_dir):
    """(pkf, pr): the EAGER-persisted capped fingerprint table and the
    fph-keyed pair frame (a_id, b_id, shared_fps) — the Spark twin of
    the `_winnow_pair_ctes` oracle chain, shared by q164/q180/q187 so
    the three detectors cannot drift. Callers own the persisted pkf
    (released via queries.release_caches()).

    Round-14 shape (the r13 `repartition("fph")` one-exchange bet is
    resolved): the corpus-sized rolling-hash fingerprint HOF runs
    EXACTLY ONCE by construction — the posting-size cap is a window
    count over the SAME fph partitioning the fingerprint stream
    shuffles into, so cap + filter happen inside one exchange instead
    of a groupBy/semi-join fan-out whose runtime exchange reuse never
    fired (the r12 re-aliased-cache-scan lesson; the r13 repartition
    was pure cost when reuse missed). Pairs come from the q27 bucket
    pattern — sorted collect_list per fph + row-local nested
    transform — whose lists are provably <= WINNOW_MAX_POSTINGS after
    the cap, instead of a pkf x pkf self-join that shuffled the capped
    table twice more; the groupBy reads the persisted pkf on the
    partitioning it was cached with."""
    pk = winnow_fingerprints(spark, sf_dir)
    pc = F.count("*").over(Window.partitionBy("fph")).alias("pc")
    pkf = eager(
        pk.select("doc_id", "fph", pc)
        .where(F.col("pc") <= WINNOW_MAX_POSTINGS)
        .select("doc_id", "fph")
    )
    buckets = pkf.groupBy("fph").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)),"
        " b -> named_struct('a_id', a, 'b_id', b))))"
    )
    pr = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.a_id", "p.b_id")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("long").alias("shared_fps"))
    )
    return pkf, pr


@register(
    "q164_winnowing_overlap",
    f"WITH {_WINNOW_PK_CTES},"
    + _winnow_pair_ctes()
    + ", cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf"
    " FROM pkf GROUP BY doc_id)"
    " SELECT a_id, b_id, shared_fps,"
    " CAST(shared_fps * 1000000 // least(ca.nf, cb.nf) AS BIGINT)"
    " AS containment_ppm"
    " FROM pr JOIN cnt ca ON ca.doc_id = pr.a_id"
    " JOIN cnt cb ON cb.doc_id = pr.b_id"
    " ORDER BY shared_fps DESC, a_id, b_id LIMIT 20",
    doc="MOSS winnowing overlap: per-doc fingerprints are the distinct"
    f" {WINNOW_W}-window minima over {WINNOW_K}-char polynomial gram"
    " hashes (any shared run >= 17 chars contributes a common"
    " fingerprint); docs pair through a KEYED inverted-index join on"
    " the fingerprint, with posting lists longer than"
    f" {WINNOW_MAX_POSTINGS} docs dropped as ambient boilerplate"
    " (MOSS's own rule — hot lists are quadratic by construction and"
    " boilerplate is q96/q119/q160's job). Top-20 pairs by shared"
    " fingerprints with min-side containment ppm. Row-local HOF"
    " hashing; the only data-sized shuffle keys the fingerprint hash.",
)
def q164(spark, sf_dir):
    pkf, pr = winnow_capped_pairs(spark, sf_dir)
    cnt = pkf.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("nf")
    )
    ca = cnt.select(F.col("doc_id").alias("ka"), F.col("nf").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("kb"), F.col("nf").alias("nb"))
    return (
        pr.join(ca, F.col("a_id") == F.col("ka"))
        .join(cb, F.col("b_id") == F.col("kb"))
        .select(
            "a_id",
            "b_id",
            "shared_fps",
            F.expr("shared_fps * 1000000 DIV least(na, nb)")
            .cast("long")
            .alias("containment_ppm"),
        )
        .orderBy(F.col("shared_fps").desc(), "a_id", "b_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Winnowing contamination screen. q68 catches VERBATIM 5-token grams
# shared with the eval source and q123 bloom-screens exact shingles;
# winnowing fingerprints catch the middle ground — near-verbatim eval
# passages surviving light edits, at ~1/W the index size of all-gram
# methods (the winnowing guarantee: any shared run >= W + K - 1 chars
# still lands a common fingerprint). Eval-side fingerprints are
# DEDUPED before the join (q68's rule), so a boilerplate fingerprint
# fans out 1:1 per training doc, never quadratically.
# ---------------------------------------------------------------------------

WINNOW_EVAL_SOURCE = "src0"  # q68's stand-in held-out eval source


def _contamination_rollup(tr, ev):
    """(doc_id, n_hits, n_fps, contamination_ppm) — the cap-FREE
    contamination screen core shared by q170, q177, and the q202
    recall study: the eval fingerprint index `ev` is deduped and the
    training side `tr` joins 1:1 per (doc, fph). WINNOW_MAX_POSTINGS
    is deliberately NOT applied on this path — a hot eval fingerprint
    is the SIGNAL in a contamination screen, not boilerplate noise
    (the cap's job is bounding the q164/q180/q187 pair chains, where
    hot lists are quadratic). q202 registers that no-loss property as
    an oracle-checked metric, so a refactor that routes the screens
    through the capped chain turns the driver red."""
    nf = tr.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fps")
    )
    hit = (
        tr.join(ev, "fph", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return hit.join(nf, "doc_id").select(
        "doc_id",
        "n_hits",
        "n_fps",
        F.expr("n_hits * 1000000 DIV n_fps")
        .cast("long")
        .alias("contamination_ppm"),
    )


@register(
    "q170_winnowing_contamination",
    f"WITH {_WINNOW_PK_CTES},"
    " src AS (SELECT doc_id, source FROM documents),"
    " pks AS (SELECT pk.doc_id, src.source, pk.fph"
    " FROM pk JOIN src ON src.doc_id = pk.doc_id),"
    " ev AS (SELECT DISTINCT fph FROM pks"
    f" WHERE source = '{WINNOW_EVAL_SOURCE}'),"
    " tr AS (SELECT doc_id, fph FROM pks"
    f" WHERE source != '{WINNOW_EVAL_SOURCE}'),"
    " nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps"
    " FROM tr GROUP BY doc_id),"
    " hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits"
    " FROM tr JOIN ev USING (fph) GROUP BY doc_id)"
    " SELECT hit.doc_id AS doc_id, n_hits, n_fps,"
    " CAST(n_hits * 1000000 // n_fps AS BIGINT) AS contamination_ppm"
    " FROM hit JOIN nf ON nf.doc_id = hit.doc_id"
    " ORDER BY n_hits DESC, doc_id LIMIT 20",
    doc="Winnowing contamination screen: training documents sharing"
    " MOSS fingerprints with the held-out eval source — the near-"
    "verbatim middle ground q68's exact 5-gram pass (verbatim only)"
    " and q49's LSH pass (whole-document rewraps) both miss. Eval"
    " fingerprints are deduped before the KEYED join (q68 rule: 1:1"
    " fanout per training doc, never quadratic); contamination is the"
    " hit share of the doc's own fingerprint set in ppm. Top-20 by"
    " hits.",
)
def q170(spark, sf_dir):
    return (
        winnow_contamination_screen_full(spark, sf_dir)
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(20)
    )


def winnow_contamination_screen_full(spark, sf_dir):
    """q170's screen WITHOUT the top-20 cut: every contaminated
    training doc's (n_hits, n_fps, contamination_ppm). The registered
    q170 ranks it; the round-14 staged contamination ensemble consumes
    the full flag set."""
    docs = table(spark, sf_dir, "documents")
    # Source split BELOW the fingerprint HOF (the q177 spelling): the
    # old shape fingerprinted the WHOLE corpus once per branch and
    # joined source back on doc_id — two full rolling-hash passes for
    # one corpus. Fingerprints are row-local, so filtering docs first
    # computes the identical (doc_id, fph) sets.
    ev = (
        winnow_fingerprints(
            spark,
            sf_dir,
            docs=spread(
                spark, docs.where(F.col("source") == WINNOW_EVAL_SOURCE)
            ),
        )
        .select("fph")
        .distinct()
    )
    tr = eager(
        winnow_fingerprints(
            spark,
            sf_dir,
            docs=spread(
                spark, docs.where(F.col("source") != WINNOW_EVAL_SOURCE)
            ),
        )
    )
    return _contamination_rollup(tr, ev)


# ---------------------------------------------------------------------------
# Incremental winnowing contamination (SURVEY §7.5 item 1). q170
# re-fingerprints the whole corpus per run; the daily-ingest shape
# fingerprints ONLY the new batch and screens it against the persisted
# eval fingerprint index (here recomputed from the eval source for
# oracle-checkability; in production it is read back from parquet —
# the q63/q114 incremental rule). Cost scales with batch size x the
# index join, never with the corpus already ingested. The fixture
# batch boundary is q63's id split.
# ---------------------------------------------------------------------------


@register(
    "q177_incremental_contamination",
    "WITH "
    + _winnow_pk_ctes("e", f" WHERE source = '{WINNOW_EVAL_SOURCE}'")
    + ","
    + _winnow_pk_ctes(
        "b",
        f" WHERE source != '{WINNOW_EVAL_SOURCE}'"
        f" AND doc_id >= {INCREMENTAL_SPLIT_ID}",
    )
    + ","
    " ev AS (SELECT DISTINCT fph FROM pke),"
    " nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps"
    " FROM pkb GROUP BY doc_id),"
    " hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits"
    " FROM pkb JOIN ev USING (fph) GROUP BY doc_id)"
    " SELECT hit.doc_id AS doc_id, n_hits, n_fps,"
    " CAST(n_hits * 1000000 // n_fps AS BIGINT) AS contamination_ppm"
    " FROM hit JOIN nf ON nf.doc_id = hit.doc_id"
    " ORDER BY n_hits DESC, doc_id LIMIT 20",
    doc="Incremental contamination screen: ONLY the new batch (q63's"
    " id-split fixture boundary) is winnow-fingerprinted and joined"
    " against the eval fingerprint index — the corpus already ingested"
    " is never re-read (q63/q114 incremental rule; the index is"
    " persisted in production and recomputed here for oracle-"
    "checkability). Same output shape and hit semantics as q170"
    " restricted to the batch; cost = batch fingerprinting + one"
    " fph-keyed semi join.",
)
def q177(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    ev = (
        winnow_fingerprints(
            spark,
            sf_dir,
            docs=spread(
                spark,
                docs.where(F.col("source") == WINNOW_EVAL_SOURCE),
            ),
        )
        .select("fph")
        .distinct()
    )
    batch = spread(
        spark,
        docs.where(
            (F.col("source") != WINNOW_EVAL_SOURCE)
            & (F.col("doc_id") >= INCREMENTAL_SPLIT_ID)
        ),
    )
    tr = eager(winnow_fingerprints(spark, sf_dir, docs=batch))
    return (
        _contamination_rollup(tr, ev)
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Exact-substring verify over winnowing candidates (SURVEY §7.5 item 3).
# A shared winnowing fingerprint only GUARANTEES a shared K-gram; this
# stage upgrades the strongest candidate pairs into verified exact
# substring containment WITHOUT a suffix automaton: hash every
# DOUBLE-LENGTH window (2 * (W + K - 1) = 34 normalized chars — twice
# the winnowing guarantee span) of the candidate members only, and
# count the distinct window hashes the pair shares. Any verified gram
# is a literal 34-char exact match; zero verified grams demotes the
# pair to "similar wording, no long verbatim run". The q29/q34/q61
# verify discipline: the candidate pair set is persisted eagerly, the
# corpus is LEFT-SEMI thinned to candidate MEMBERS before any
# per-doc gram work, and pairs join through their member ids — the
# corpus-sized stages are exactly the q164 fingerprint pass plus one
# row-local gram explode over the thinned members.
# ---------------------------------------------------------------------------

Q180_MIN_SHARED_FPS = 5  # verify only the strongest winnowing pairs
Q180_L2 = 2 * _WINNOW_MIN_LEN  # 34-char windows: 2x the winnow span


@register(
    "q180_exact_substring_verify",
    f"WITH {_WINNOW_PK_CTES},"
    + _winnow_pair_ctes()
    + ", cand AS MATERIALIZED (SELECT a_id, b_id, shared_fps FROM pr"
    f" WHERE shared_fps >= {Q180_MIN_SHARED_FPS}),"
    " mem AS (SELECT a_id AS doc_id FROM cand"
    " UNION SELECT b_id FROM cand),"
    f" nn2 AS (SELECT d.doc_id, {NORM_DUCK} AS n"
    " FROM documents d JOIN mem USING (doc_id)),"
    f" lg2 AS (SELECT doc_id, n FROM nn2 WHERE length(n) >= {Q180_L2}),"
    " g2 AS MATERIALIZED (SELECT DISTINCT doc_id, "
    + gram_key_duck(f"substr(n, CAST(pos AS INT), {Q180_L2})")
    + " AS h2"
    " FROM (SELECT doc_id, n,"
    f" unnest(range(1, length(n) - {Q180_L2} + 2)) AS pos FROM lg2)),"
    " hit AS (SELECT c.a_id, c.b_id,"
    " CAST(count(*) AS BIGINT) AS verified_grams"
    " FROM cand c JOIN g2 xa ON xa.doc_id = c.a_id"
    " JOIN g2 xb ON xb.doc_id = c.b_id AND xb.h2 = xa.h2"
    " GROUP BY c.a_id, c.b_id)"
    " SELECT c.a_id, c.b_id, c.shared_fps,"
    " CAST(coalesce(h.verified_grams, 0) AS BIGINT) AS verified_grams,"
    " CAST(CASE WHEN coalesce(h.verified_grams, 0) >= 1"
    " THEN 1 ELSE 0 END AS BIGINT) AS verified"
    " FROM cand c LEFT JOIN hit h"
    " ON h.a_id = c.a_id AND h.b_id = c.b_id"
    " ORDER BY verified_grams DESC, shared_fps DESC, c.a_id, c.b_id"
    " LIMIT 20",
    doc="Exact-substring verify stage for winnowing candidates: pairs"
    f" sharing >= {Q180_MIN_SHARED_FPS} capped-index fingerprints (the"
    " q164 chain) are upgraded by hashing every"
    f" {Q180_L2}-char window — double the winnowing guarantee span —"
    " of the CANDIDATE MEMBERS only and counting distinct shared"
    " window hashes: each is a literal 34-char exact match, the"
    " suffix-automaton-free containment proof; zero demotes the pair"
    " to reworded-only. Verify discipline: eager-persisted candidate"
    " set, LEFT-SEMI member thinning before gram work, row-local"
    " explode to the 60-bit integer gram key (q119 spelling — 8-byte"
    " long join keys, never hex strings); the only corpus-sized stages"
    " are the shared fingerprint pass and its fph-keyed pair join.",
)
def q180(spark, sf_dir):
    _pkf, pr = winnow_capped_pairs(spark, sf_dir)
    cand = eager(pr.where(F.col("shared_fps") >= Q180_MIN_SHARED_FPS))
    mem = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    thin = (
        table(spark, sf_dir, "documents")
        .join(mem, "doc_id", "left_semi")
        .select("doc_id", F.expr(NORM_SPARK).alias("n"))
        .where(F.length("n") >= Q180_L2)
    )
    # eager: BOTH verify-join sides read the member gram table and the
    # two joins key differently (a_id vs (b_id, h2)), so an unpersisted
    # plan would run the heaviest verify expression twice (CLAUDE.md
    # multi-consumer rule; q164's pkf precedent)
    grams = eager(
        thin.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"sequence(1, length(n) - {Q180_L2 - 1}),"
                    " i -> "
                    + gram_key_spark(f"substr(n, i, {Q180_L2})")
                    + "))"
                )
            ).alias("h2"),
        )
    )
    ga = grams.select(F.col("doc_id").alias("a_id"), "h2")
    gb = grams.select(F.col("doc_id").alias("b_id"), "h2")
    hits = (
        cand.select("a_id", "b_id")
        .join(ga, "a_id")
        .join(gb, ["b_id", "h2"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("long").alias("vg"))
    )
    return (
        cand.join(hits, ["a_id", "b_id"], "left")
        .select(
            "a_id",
            "b_id",
            "shared_fps",
            F.coalesce(F.col("vg"), F.lit(0))
            .cast("long")
            .alias("verified_grams"),
            F.when(F.coalesce(F.col("vg"), F.lit(0)) >= 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("verified"),
        )
        .orderBy(
            F.col("verified_grams").desc(),
            F.col("shared_fps").desc(),
            "a_id",
            "b_id",
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-12 stage: soft dedup — duplication-aware DOWNWEIGHTING. Hard
# dedup (q70) throws duplicates away; modern data recipes instead keep
# every copy and resample each near-dup family back to unit mass, so a
# document duplicated k times contributes ~1 expected copy rather than
# k (and rare text is never collateral damage of an over-eager
# threshold). weight_ppm = 1e6 DIV cluster_size; the keep decision is a
# deterministic salted md5 coin per doc_id, so reprocessing or
# backfilling never flips earlier decisions.
# ---------------------------------------------------------------------------

_SOFT_U_SPARK = (
    "CAST(conv(substr(md5(concat('soft:', CAST(doc_id AS STRING))),"
    " 1, 8), 16, 10) AS BIGINT) % 1000000"
)


def _soft_u_duck(col: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('soft:' || CAST({col} AS VARCHAR)),"
        " 1, 8)) AS BIGINT) % 1000000"
    )


def soft_dedup_weights(spark, sf_dir):
    """Per document: its q69 near-dup cluster (rep + size, singletons
    stay their own cluster of 1), the resampling weight in ppm, and the
    deterministic keep decision (u < weight for a 32-bit md5 coin in
    [0, 1e6)). Expected kept mass per cluster is ~1 document.

    Scale: reuses q69's verified-pair CC as-is (bucketed candidates,
    label propagation on the tiny pair graph); everything added on top
    is one count over the label table (cluster-rep keyed), one join of
    the labels back to it, and a row-local coin — document text never
    shuffles."""
    labels = eager(dedup_clusters(spark, sf_dir))
    sizes = labels.groupBy("cluster_rep").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    member = labels.join(sizes, "cluster_rep")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    u = F.expr(_SOFT_U_SPARK)
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id")).cast("long")
    size = F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long")
    return (
        docs.join(member, "doc_id", "left")
        .select("doc_id", rep.alias("cluster_rep"), size.alias("cluster_size"))
        .select(
            "doc_id",
            "cluster_rep",
            "cluster_size",
            F.expr("1000000 DIV cluster_size").alias("weight_ppm"),
            (u < F.expr("1000000 DIV cluster_size")).alias("kept"),
        )
        .orderBy("doc_id")
    )


def _soft_dedup_oracle() -> str:
    """DuckDB replay of soft_dedup_weights, drafted with the builder
    (round-12 registration wires it up): q69's recursive-CTE component
    labels + sizes, LEFT-joined to the corpus with singleton defaults,
    and the same salted 32-bit md5 coin."""
    return (
        "WITH RECURSIVE " + _candidate_cte_duck() + ","
        " sh AS MATERIALIZED (SELECT doc_id,"
        f" {shingle_set_expr('duck')} AS s FROM documents),"
        " jac AS (SELECT c.a_id, c.b_id,"
        " CAST(floor(1000.0 * len(list_intersect(sa.s, sb.s))"
        "   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))"
        " AS BIGINT) AS j"
        " FROM cand c JOIN sh sa ON sa.doc_id = c.a_id"
        " JOIN sh sb ON sb.doc_id = c.b_id),"
        f" vp AS (SELECT a_id, b_id FROM jac WHERE j >= {NEAR_DUP_JACCARD_MILLIS}),"
        " sym AS (SELECT a_id AS u, b_id AS v FROM vp"
        " UNION ALL SELECT b_id, a_id FROM vp),"
        " reach(u, v) AS (SELECT u, v FROM sym"
        " UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),"
        " labels AS MATERIALIZED (SELECT u AS doc_id,"
        " least(u, min(v)) AS rep FROM reach GROUP BY u),"
        " sz AS (SELECT rep, count(*) AS n FROM labels GROUP BY rep)"
        " SELECT d.doc_id,"
        " CAST(coalesce(l.rep, d.doc_id) AS BIGINT) AS cluster_rep,"
        " CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size,"
        " CAST(1000000 // coalesce(sz.n, 1) AS BIGINT) AS weight_ppm,"
        f" ({_soft_u_duck('d.doc_id')}) < 1000000 // coalesce(sz.n, 1)"
        " AS kept"
        " FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id"
        " LEFT JOIN sz ON sz.rep = l.rep ORDER BY d.doc_id"
    )


def _drop_share_oracle() -> str:
    """DuckDB replay of winnow_drop_share, drafted pre-registration:
    the shared fingerprint CTE chain (re-aliased MATERIALIZED — pk is
    read twice here and DuckDB re-executes unmaterialized CTEs per
    reference), posting sizes, per-doc dropped rollup."""
    return (
        "WITH " + _WINNOW_PK_CTES + ","
        " pkm AS MATERIALIZED (SELECT doc_id, fph FROM pk),"
        " sz AS (SELECT fph, count(*) AS pc FROM pkm GROUP BY fph),"
        " mk AS (SELECT p.doc_id,"
        f" CASE WHEN s.pc > {WINNOW_MAX_POSTINGS} THEN 1 ELSE 0 END"
        " AS dropped FROM pkm p JOIN sz s USING (fph))"
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,"
        " CAST(sum(dropped) AS BIGINT) AS n_dropped,"
        " CAST(sum(dropped) * 1000000 // count(*) AS BIGINT) AS drop_ppm"
        " FROM mk GROUP BY doc_id ORDER BY doc_id"
    )


@register(
    "q194_soft_dedup_weights",
    _soft_dedup_oracle(),
    doc="Duplication-aware soft dedup: instead of dropping near-dups"
    " (q70), every document gets its q69 cluster (singletons stay"
    " clusters of 1), a resampling weight of 1e6 DIV cluster_size ppm,"
    " and a deterministic salted-md5 keep coin (u < weight), so each"
    " near-dup family contributes ~1 expected kept copy and"
    " reprocessing never flips earlier decisions. Reuses q69's"
    " verified-pair CC as-is (bucketed LSH candidates, clique/star"
    " capped hot bands, label propagation on the tiny pair graph);"
    " everything on top is one count over the label table, one id-keyed"
    " join back, and a row-local coin — document text never shuffles."
    " Probed 16x/32x BOTH corpus modes pre-registration (SCALE.md"
    " staged tail): verbatim exponent 0.79 post-star-fallback.",
)
def q194(spark, sf_dir):
    return soft_dedup_weights(spark, sf_dir)


@register(
    "q195_winnow_drop_share",
    _drop_share_oracle(),
    doc="Per-document winnowing drop-share audit — q191's histogram"
    " viewed from the document: how much of each doc's fingerprint"
    f" mass the WINNOW_MAX_POSTINGS={WINNOW_MAX_POSTINGS} boilerplate"
    " cap removes (a boilerplate-heavy doc loses most fingerprints and"
    " goes invisible to the q164/q180 pair chain — this finds those"
    " blind spots). One fph-keyed partial agg sizes the lists, the"
    " over-cap set marks each doc's dropped rows, per-doc rollup in"
    " integer ppm. Probed 16x/32x both corpus modes pre-registration:"
    " exponents 0.95 disjoint / 0.93 verbatim (SCALE.md staged tail).",
)
def q195(spark, sf_dir):
    return winnow_drop_share(spark, sf_dir)


# ---------------------------------------------------------------------------
# q199: the star-fallback recall study (round-12 verdict item 4). The
# clique/star rule (MINHASH_CLIQUE_CAP) claims: collapsing over-cap
# bands to star+chain edges loses NO families and NO members vs the
# quadratic clique enumeration, because every member still connects to
# the band rep. Fixture bands max out at 6 members, so no registered
# query ever exercises the star path at test scale — this study builds
# a synthetic hot-band corpus INSIDE the query (verbatim families of
# sizes 6/14/22/30, straddling the cap from both sides), runs BOTH
# candidate rules, labels both graphs with connected components, and
# reports family-count + per-member label agreement. Verbatim copies
# have identical minhash signatures BY DEFINITION (same text -> same
# shingles -> same minima), so replicating each seed's band rows is
# exactly what the full LSH chain would produce on the inflated text,
# at seed cost. Both engines derive the same synthetic corpus.
# ---------------------------------------------------------------------------

STUDY_SEEDS = 24
STUDY_ID_STRIDE = 32  # > max family size, so member ids never collide
# family size = 6 + (seed % 4) * 8 in {6, 14, 22, 30}: two sizes under
# the cap (clique path), two over it (star path)
_STUDY_SIZE_SPARK = "5 + (doc_id % 4) * 8"  # sequence() upper bound, inclusive


def parity_graph(lab, g, label):
    """(doc_id, ``label``) of graph ``g`` from one CC over parity-tagged
    ids (graph-g node 2*id + g). Holds for ids of any sign: pmod(x, 2) is
    the parity even of a negative x (x % 2 truncates: -5 % 2 = -1), and
    shiftright(x, 1) is exact floor division (x DIV 2 truncates:
    -5 DIV 2 = -2, not -3). Ids must stay within +-2^62 so that 2*id + 1
    fits a long."""
    return lab.where(F.expr(f"pmod(node, 2) = {g}")).select(
        F.expr("shiftright(node, 1)").alias("doc_id"),
        F.expr("shiftright(lbl, 1)").alias(label),
    )


def star_fallback_recall(spark, sf_dir):
    """One row: family-count and per-member CC-label agreement between
    the production clique/star candidate rule and the clique-only rule
    on the synthetic straddling-hot-band corpus (see block comment).
    agree_pct = 100 means the star fallback loses nothing vs clique.

    Scale: seeds are 24 docs (signatures LEFT-SEMI thinned before
    shingling); both graphs are bounded (<= 24 families x 30 members);
    ONE fused CC labels both parity-tagged graphs at once, iterating on
    (id, label) pairs of that bounded union."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    seeds = docs.orderBy("doc_id").limit(STUDY_SEEDS)
    sig = signatures(spark, sf_dir, member_ids=seeds)
    bnd = sig.select(
        "doc_id",
        F.explode(
            F.array(*[F.expr(e) for e in _band_from_cols("spark")])
        ).alias("band"),
    )
    members = bnd.select(
        "doc_id",
        "band",
        F.explode(F.expr(f"sequence(0, {_STUDY_SIZE_SPARK})")).alias("k"),
    ).select(
        (F.col("doc_id") * STUDY_ID_STRIDE + F.col("k")).alias("doc_id"),
        "band",
    )
    star_pairs = _pairs_from_band_rows(members)
    buckets = members.groupBy("band").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pairs = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))"
    )
    clique_pairs = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .distinct()
    )
    # both graphs are bounded by constants (<= STUDY_SEEDS x 30
    # members), far under LOCAL_CC_MAX_EDGES, so the CC always labels
    # them on the driver.
    # ONE fused CC labels BOTH graphs (round 14): parity-tagging the
    # node ids (star nodes 2*id, clique nodes 2*id+1) makes the two
    # graphs disjoint inside a single edge list, so one label
    # propagation converges both at once — the per-round checkpoint
    # latency is paid max(rounds) times instead of sum(rounds), and the
    # edge persist/count setup once. Labels transform exactly:
    # min(2*id + g) over a component = 2*min(id) + g (the parity g is
    # constant within a component), so floor(lbl / 2) recovers each
    # side's original component minimum bit-for-bit (parity_graph).
    tagged = star_pairs.select(
        (F.col("a_id") * 2).alias("a_id"),
        (F.col("b_id") * 2).alias("b_id"),
    ).union(
        clique_pairs.select(
            (F.col("a_id") * 2 + 1).alias("a_id"),
            (F.col("b_id") * 2 + 1).alias("b_id"),
        )
    )
    lab = connected_components(spark, tagged)
    j = parity_graph(lab, 0, "sl").join(
        parity_graph(lab, 1, "cl"), "doc_id", "full"
    )
    agree = F.sum(
        F.coalesce((F.col("sl") == F.col("cl")).cast("long"), F.lit(0))
    )
    return j.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("sl").cast("long").alias("star_families"),
        F.countDistinct("cl").cast("long").alias("clique_families"),
        agree.cast("long").alias("agree_docs"),
    ).select(
        "n_docs",
        "star_families",
        "clique_families",
        "agree_docs",
        F.expr("agree_docs * 100 DIV n_docs").cast("long").alias(
            "agree_pct"
        ),
    )


def _star_recall_oracle() -> str:
    """DuckDB replay of star_fallback_recall: same seed signatures
    (shared minhash definition), same synthetic inflation, the
    production rule's cliq/hot/star/chain CTEs over the inflated band
    rows (mirroring `_candidate_cte_duck`), the clique-only pair set,
    and two recursive-CTE reachability labelings."""
    mhs = ", ".join(f"{minhash_duck(k)} AS mh{k}" for k in range(K_HASHES))
    bands = ", ".join(
        f"{e} AS b{i}" for i, e in enumerate(_band_from_cols("duck"))
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, b{i} AS band FROM bnd" for i in range(N_BANDS)
    )
    return (
        "WITH RECURSIVE seeds AS MATERIALIZED (SELECT doc_id, text"
        f" FROM documents ORDER BY doc_id LIMIT {STUDY_SEEDS}),"
        f" sig AS (SELECT doc_id, {mhs} FROM seeds),"
        f" bnd AS (SELECT doc_id, {bands} FROM sig),"
        f" sexpl AS ({unions}),"
        " mem AS MATERIALIZED (SELECT s.doc_id *"
        f" {STUDY_ID_STRIDE} + u.k AS doc_id, s.band FROM sexpl s,"
        " unnest(range(0, 6 + (s.doc_id % 4) * 8)) AS u(k)),"
        " bandsz AS (SELECT band, count(*) AS bc FROM mem GROUP BY band"
        f" HAVING count(*) <= {MINHASH_CLIQUE_CAP}),"
        " cliq AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id"
        " FROM mem x JOIN bandsz s ON x.band = s.band"
        " JOIN mem y ON x.band = y.band AND x.doc_id < y.doc_id),"
        " hot AS (SELECT band, min(doc_id) AS rep FROM mem GROUP BY band"
        f" HAVING count(*) > {MINHASH_CLIQUE_CAP}),"
        " star AS (SELECT h.rep AS a_id, m.doc_id AS b_id FROM mem m"
        " JOIN hot h ON m.band = h.band AND m.doc_id > h.rep),"
        " chn AS (SELECT m.band, m.doc_id FROM mem m"
        " JOIN hot h ON m.band = h.band),"
        " chain AS (SELECT lag(doc_id) OVER (PARTITION BY band"
        " ORDER BY doc_id) AS a_id, doc_id AS b_id FROM chn),"
        " sp AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM"
        " (SELECT a_id, b_id FROM cliq UNION ALL SELECT a_id, b_id"
        " FROM star UNION ALL SELECT a_id, b_id FROM chain"
        " WHERE a_id IS NOT NULL) u),"
        " cp AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a_id,"
        " y.doc_id AS b_id FROM mem x JOIN mem y ON x.band = y.band"
        " AND x.doc_id < y.doc_id),"
        " ssym AS (SELECT a_id AS u, b_id AS v FROM sp"
        " UNION ALL SELECT b_id, a_id FROM sp),"
        " sreach(u, v) AS (SELECT u, v FROM ssym"
        " UNION SELECT r.u, s.v FROM sreach r JOIN ssym s ON r.v = s.u),"
        " slab AS MATERIALIZED (SELECT u AS doc_id,"
        " least(u, min(v)) AS sl FROM sreach GROUP BY u),"
        " csym AS (SELECT a_id AS u, b_id AS v FROM cp"
        " UNION ALL SELECT b_id, a_id FROM cp),"
        " creach(u, v) AS (SELECT u, v FROM csym"
        " UNION SELECT r.u, s.v FROM creach r JOIN csym s ON r.v = s.u),"
        " clab AS MATERIALIZED (SELECT u AS doc_id,"
        " least(u, min(v)) AS cl FROM creach GROUP BY u),"
        " j AS (SELECT coalesce(s.doc_id, c.doc_id) AS doc_id,"
        " s.sl AS sl, c.cl AS cl FROM slab s"
        " FULL JOIN clab c ON s.doc_id = c.doc_id)"
        " SELECT CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(count(DISTINCT sl) AS BIGINT) AS star_families,"
        " CAST(count(DISTINCT cl) AS BIGINT) AS clique_families,"
        " CAST(coalesce(sum(CASE WHEN sl = cl THEN 1 ELSE 0 END), 0)"
        " AS BIGINT) AS agree_docs,"
        " CAST(coalesce(sum(CASE WHEN sl = cl THEN 1 ELSE 0 END), 0)"
        " * 100 // count(*) AS BIGINT) AS agree_pct"
        " FROM j"
    )


@register(
    "q199_star_fallback_recall",
    _star_recall_oracle(),
    doc="Star-fallback recall study: family-count and per-member"
    " CC-label agreement between the production clique/star candidate"
    f" rule (MINHASH_CLIQUE_CAP={MINHASH_CLIQUE_CAP}) and the"
    " clique-only rule, on a synthetic corpus of verbatim families"
    " sized 6/14/22/30 — straddling the cap from both sides, so the"
    " star path actually executes (fixture bands never exceed 6"
    " members). agree_pct = 100 is the registered, oracle-checked form"
    " of the claim the round-11 scale fix asserted: collapsing hot"
    " bands to star+chain edges loses no families and no members vs"
    " the quadratic clique, while costing one edge per member."
    " Verbatim copies share their seed's signature by definition, so"
    " the band rows replicate at seed cost; both graphs stay bounded"
    " and one fused CC labels both parity-tagged graphs at once.",
)
def q199(spark, sf_dir):
    return star_fallback_recall(spark, sf_dir)


# ---------------------------------------------------------------------------
# q202: the contamination-cap recall study (round-12 verdict item 3 —
# the winnowing analog of q199). The claim under test: the q170/q177
# contamination screens lose NOTHING to WINNOW_MAX_POSTINGS, because
# the screen path never applies the cap (the deduped eval index joins
# 1:1 per training fingerprint), while the q164/q180/q187 PAIR chain —
# which does cap — goes blind on exactly the families whose
# duplication mass matters most (q180's verbatim exponent -1.00 is the
# cost-side view of the same collapse). Fixture posting lists never
# straddle the cap, so this study builds the straddling corpus INSIDE
# the query: the first WSTUDY_SEEDS documents play the eval source,
# and each seed gets a verbatim TRAINING family of 10 or 24 copies —
# posting lists of 11 and 25 around the cap of 16. Verbatim copies
# share their seed's fingerprint set BY DEFINITION (same text -> same
# gram hashes -> same window minima), so the copies replicate at
# fingerprint rows, at seed cost — the q199 inflation trick. The
# screen branch runs the PRODUCTION _contamination_rollup; the capped
# branch applies the production keep rule to the combined posting
# lists. Both engines derive the same synthetic corpus.
# ---------------------------------------------------------------------------

WSTUDY_SEEDS = 12
WSTUDY_ID_STRIDE = 64  # > max family size; train ids never collide
# family size = 10 + (seed % 2) * 14 in {10, 24}: with the seed itself
# the posting list is 11 (under the cap -> pair chain sees it) or 25
# (over -> pair chain drops every fingerprint of the family)
_WSTUDY_SIZE_SPARK = "10 + (doc_id % 2) * 14"


def winnow_cap_recall_study(spark, sf_dir):
    """One row: training-copy recall of the cap-free contamination
    screen vs the capped pair chain on the synthetic straddling
    corpus (see block comment). screen_recall_pct = 100 is the
    registered form of the no-loss claim; capped_recall_pct < 100 is
    the measured blindness that justifies keeping the screens OFF the
    capped chain.

    Scale: seeds are 12 docs (fingerprinted once, eager — ev, tr, and
    the posting sizing all read it); every downstream frame is bounded
    by constants (<= 12 seeds x 24 copies x per-doc fingerprints)."""
    docs = table(spark, sf_dir, "documents")
    seeds = docs.orderBy("doc_id").limit(WSTUDY_SEEDS)
    pk = eager(winnow_fingerprints(spark, sf_dir, docs=seeds))
    ev = pk.select("fph").distinct()
    # explode the family sizes: k in 1..size, train id = seed*stride+k
    tr = pk.select(
        "doc_id",
        "fph",
        F.explode(
            F.expr(f"sequence(1, {_WSTUDY_SIZE_SPARK})")
        ).alias("k"),
    ).select(
        (F.col("doc_id") * WSTUDY_ID_STRIDE + F.col("k")).alias(
            "doc_id"
        ),
        "fph",
    )
    screen = _contamination_rollup(tr, ev)  # the PRODUCTION screen
    # the capped pair chain's visibility rule: a training copy is
    # findable iff >= 1 of its fingerprints survives the keep filter
    # over the combined eval+train posting lists (every tr fingerprint
    # is an eval fingerprint, so sharing-with-eval is automatic)
    allr = pk.select("doc_id", "fph").unionByName(tr)
    keep = (
        allr.groupBy("fph")
        .agg(F.count("*").alias("pc"))
        .where(F.col("pc") <= WINNOW_MAX_POSTINGS)
        .select("fph")
    )
    cap_vis = (
        tr.join(keep, "fph", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("cv", F.lit(1))
    )
    base = tr.select("doc_id").distinct()
    per = base.join(screen, "doc_id", "left").join(
        cap_vis, "doc_id", "left"
    )
    return per.agg(
        F.count("*").cast("long").alias("n_train"),
        F.sum(F.col("n_hits").isNotNull().cast("long"))
        .cast("long")
        .alias("screen_docs"),
        F.sum(
            F.coalesce(
                (F.col("n_hits") == F.col("n_fps")).cast("long"),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("screen_full"),
        F.sum(F.coalesce(F.col("cv"), F.lit(0)))
        .cast("long")
        .alias("capped_docs"),
    ).select(
        "n_train",
        "screen_docs",
        "screen_full",
        "capped_docs",
        F.expr("screen_docs * 100 DIV n_train")
        .cast("long")
        .alias("screen_recall_pct"),
        F.expr("capped_docs * 100 DIV n_train")
        .cast("long")
        .alias("capped_recall_pct"),
    )


def _cap_recall_oracle() -> str:
    """DuckDB replay of winnow_cap_recall_study: same seed
    fingerprints (shared winnowing chain), same synthetic family
    inflation, the same cap-free screen and capped keep rule."""
    return (
        f"WITH nn AS (SELECT doc_id, {NORM_DUCK} AS n FROM"
        " (SELECT * FROM documents ORDER BY doc_id"
        f" LIMIT {WSTUDY_SEEDS})),"
        f" lg AS (SELECT doc_id, n FROM nn"
        f" WHERE length(n) >= {_WINNOW_MIN_LEN}),"
        f" hh AS (SELECT doc_id, {_H_DUCK} AS H FROM lg),"
        " pk AS MATERIALIZED (SELECT doc_id,"
        " unnest(list_distinct(list_transform("
        f"range(0, len(H) - {WINNOW_W} + 1),"
        f" p -> list_min(list_slice(H, p + 1, p + {WINNOW_W})))))"
        " AS fph FROM hh),"
        " tr AS MATERIALIZED (SELECT pk.doc_id *"
        f" {WSTUDY_ID_STRIDE} + u.k AS doc_id, pk.fph FROM pk,"
        " unnest(range(1, 10 + (pk.doc_id % 2) * 14 + 1)) AS u(k)),"
        " ev AS (SELECT DISTINCT fph FROM pk),"
        " nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps"
        " FROM tr GROUP BY doc_id),"
        " hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits"
        " FROM tr JOIN ev USING (fph) GROUP BY doc_id),"
        " allr AS (SELECT doc_id, fph FROM pk"
        " UNION ALL SELECT doc_id, fph FROM tr),"
        " keep AS (SELECT fph FROM allr GROUP BY fph"
        f" HAVING count(*) <= {WINNOW_MAX_POSTINGS}),"
        " cv AS (SELECT DISTINCT tr.doc_id FROM tr"
        " JOIN keep USING (fph)),"
        " base AS (SELECT DISTINCT doc_id FROM tr),"
        " per AS (SELECT b.doc_id, h.n_hits, f.n_fps,"
        " CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS cv"
        " FROM base b LEFT JOIN hit h ON h.doc_id = b.doc_id"
        " LEFT JOIN nf f ON f.doc_id = b.doc_id"
        " LEFT JOIN cv c ON c.doc_id = b.doc_id)"
        " SELECT CAST(count(*) AS BIGINT) AS n_train,"
        " CAST(sum(CASE WHEN n_hits IS NOT NULL THEN 1 ELSE 0 END)"
        " AS BIGINT) AS screen_docs,"
        " CAST(sum(CASE WHEN n_hits = n_fps THEN 1 ELSE 0 END)"
        " AS BIGINT) AS screen_full,"
        " CAST(sum(cv) AS BIGINT) AS capped_docs,"
        " CAST(sum(CASE WHEN n_hits IS NOT NULL THEN 1 ELSE 0 END)"
        " * 100 // count(*) AS BIGINT) AS screen_recall_pct,"
        " CAST(sum(cv) * 100 // count(*) AS BIGINT)"
        " AS capped_recall_pct"
        " FROM per"
    )


@register(
    "q202_contamination_cap_recall",
    _cap_recall_oracle(),
    doc="Contamination-cap recall study — the winnowing analog of"
    " q199: on a synthetic corpus whose eval posting lists straddle"
    f" WINNOW_MAX_POSTINGS={WINNOW_MAX_POSTINGS} from both sides"
    " (verbatim training families of 10 and 24 copies -> lists of 11"
    " and 25), the PRODUCTION cap-free contamination screen"
    " (_contamination_rollup, the exact code behind q170/q177) finds"
    " every contaminated copy at full fingerprint coverage"
    " (screen_recall_pct = 100, oracle-checked), while the capped"
    " q164-style pair chain drops every over-cap family"
    " (capped_recall_pct < 100 — the measured blindness that keeps"
    " the screens OFF the capped chain; q180's verbatim exponent"
    " -1.00 is the cost-side view of the same collapse). Verbatim"
    " copies share their seed's fingerprints by definition, so the"
    " families replicate at fingerprint-row cost; every frame is"
    " bounded by study constants.",
)
def q202(spark, sf_dir):
    return winnow_cap_recall_study(spark, sf_dir)
