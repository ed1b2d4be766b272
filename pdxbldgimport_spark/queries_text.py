"""Training-data pipeline operators over the documents/embeddings tables
(BASELINE round instructions: dedup, similarity search, text analysis).

Cross-engine determinism rules used throughout:
- string hashing via md5 (identical lowercase hex in Spark and DuckDB),
  computed ONCE per token/shingle and folded to a 60-bit int64 via its
  hex nibbles; MinHash/SimHash/banding derive everything downstream with
  integer arithmetic — exact in both engines, codegen-able in Spark;
- embeddings are quantized to integer milli-units before any arithmetic,
  so dot products are exact integers in both engines (no float-sum order
  sensitivity); at production scale the same pipelines run on the raw
  float column (drop the quantization step) — ranking semantics are
  identical, only the oracle needs exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as Wnd

from . import synth
from .operators import components as C
from .queries import cut, register, stage, views
from .session import session_token

# ----------------------------------------------------------------------
# shared text fragments

STOPWORDS = ["the", "a", "of", "and"]

# Spark/DuckDB shared: tokens with position via posexplode / unnest+ord.
_TOKENS_SQL_DUCK = """
tokens AS (
  SELECT doc_id,
         UNNEST(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
)
"""

_SHINGLES_DUCK = """
, shingles AS (
  SELECT doc_id,
         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
  FROM tokens
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w, 2) OVER win IS NOT NULL
)
"""


def _tokens(spark: SparkSession) -> DataFrame:
    return spark.table("documents").select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )


def _shingles(spark: SparkSession) -> DataFrame:
    w = Wnd.partitionBy("doc_id").orderBy("pos")
    t = _tokens(spark)
    return (
        t.withColumn("w1", F.lead("w", 1).over(w))
        .withColumn("w2", F.lead("w", 2).over(w))
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2").alias("sh"))
    )


# ----------------------------------------------------------------------
# Exact dedup: hash-groupBy on text (keeper = min doc_id per group).
@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return (
        spark.table("documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


# ----------------------------------------------------------------------
# MinHash signatures: ONE md5 per shingle, folded to a 60-bit integer h
# via its 15 leading hex nibbles; the k=8 mins are mins of k independent
# affine permutations of h mod a prime — the classic (a·x+b) mod p
# min-hash family. (Round-1 design hashed every shingle k+bands times:
# md5(sh || '#i') per signature plus md5(mh||mh) per band — the VERDICT
# perf item; this computes the expensive hash once and derives the rest
# with int64 arithmetic that stays in whole-stage codegen.)
K_MINHASH = 8
MH_P = 1_000_000_007
MH_A = [(2654435761 * (i + 1)) % MH_P for i in range(K_MINHASH)]
MH_B = [(40503 * (i + 1) + 17) % MH_P for i in range(K_MINHASH)]

_HEX = "0123456789abcdef"


def _h60_sql(md5_expr: str, strpos_fn: str, off: int = 0) -> str:
    """60-bit integer from 15 hex nibbles of an md5 starting at nibble
    ``off`` (0-based): nibble n contributes (hexdigit_n) · 16^n.
    Identical value in Spark SQL and DuckDB → identical int64. off=15
    yields a second independent hash from the same digest (nibbles
    16-30) — the double-hashing pair.

    Spark dialect (``strpos_fn == 'instr'``): the little-endian
    polynomial IS ``conv(reverse(hex15), 16, 10)`` — reverse puts
    nibble 0 last, so conv's big-endian parse assigns it 16^0, exactly
    the polynomial. One string parse instead of 15×(instr+substr+mul)
    — measured 3× cheaper per hash (r6, OPTIMIZATION_r06.md: 0.57 s
    vs 1.75 s marginal over 20M md5s, 0 mismatches at both offsets).
    The DuckDB spelling stays the frozen polynomial (oracle SQL text is
    fingerprinted; only values must match)."""
    if strpos_fn == "instr":
        return (
            f"(CAST(conv(reverse(substr({md5_expr}, {off + 1}, 15)), 16, 10)"
            f" AS BIGINT))"
        )
    terms = [
        f"CAST({strpos_fn}('{_HEX}', substr({md5_expr}, {off + n + 1}, 1)) - 1 "
        f"AS BIGINT) * {16 ** n}"
        for n in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


def _mh_terms() -> list[tuple[str, str]]:
    return [
        (f"MIN(((h % {MH_P}) * {MH_A[i]} + {MH_B[i]}) % {MH_P})", f"mh{i}")
        for i in range(K_MINHASH)
    ]


def _minhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature table, stage-materialized: the LSH band self-join and the
    Jaccard refine both re-reference it — without a stage boundary the
    shingle window+agg lineage is recomputed once per reference (~8×)."""

    def build():
        sh = _shingles(spark).withColumn(
            "h", F.expr(_h60_sql("md5(cast(sh as binary))", "instr"))
        )
        return sh.groupBy("doc_id").agg(
            *[F.expr(sql).alias(name) for sql, name in _mh_terms()]
        )

    return stage(spark, (session_token(spark), sf_dir, "minhash"), build)


def _dsh_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — referenced 3× by the Jaccard
    refine (sizes + both join sides), so stage-materialized."""
    return stage(
        spark, (session_token(spark), sf_dir, "dsh"), lambda: _shingles(spark).distinct()
    )


# ----------------------------------------------------------------------
# Shared exact-refine machinery (r6): every shingle-set similarity
# refine (minhash-LSH, rare-gram Jaccard, containment, prefix-filter)
# needs |A∩B| per candidate pair. The r1-r5 formulation exploded every
# candidate pair against both docs' full shingle sets (3 shuffle joins
# + a pair-keyed agg over |cand|·|doc| rows — measured 143 s at sf1.0
# for dedup_prefix_filter's 26M candidates). Under a doc-count gate the
# refine instead broadcasts per-doc SORTED RANK-ID ARRAYS (the rarity
# rank is a dense bijection over the shingle vocabulary, so
# |array_intersect| IS the exact shingle intersection) and computes
# inter/na/nb in ONE codegen projection per pair — guide §2.3 "shuffle
# keys and metadata instead of payloads" + §3.1 broadcast. Beyond the
# gate (the 100-TB path) the inverted-index explode verify remains.
JR_BCAST_MAX_DOCS = 2_000_000  # ≈450 B/doc serialized → ≲0.9 GB broadcast


def _sh_ranked_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh → dense bijective rank id (ascending document frequency, ties
    by text) — staged; shared by dedup_prefix_filter's prefix cut and
    every rank-array refine."""
    from .operators.ranking import global_rank

    dsh = _dsh_df(spark, sf_dir)
    return stage(
        spark,
        (session_token(spark), sf_dir, "pf_ranked"),
        lambda: global_rank(
            dsh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")),
            F.col("df"), [F.col("df"), F.col("sh")], "r",
        ).select("sh", "r"),
    )


def _doc_rank_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → sorted array of shingle rank ids — staged."""
    dsh = _dsh_df(spark, sf_dir)
    ranked = _sh_ranked_df(spark, sf_dir)
    return stage(
        spark,
        (session_token(spark), sf_dir, "pf_docarr"),
        lambda: dsh.join(ranked, "sh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("r")).alias("shs")),
    )


def _pair_inter_sizes(
    spark: SparkSession, sf_dir: str, cand: DataFrame,
    prefer_broadcast: bool = True,
) -> DataFrame:
    """Exact (inter, na, nb) per unique candidate pair (doc_a < doc_b).

    Candidates sharing zero shingles (possible for LSH signature
    collisions) drop out in BOTH paths: their docs are absent from the
    matched shingle rows / carry inter = 0 below every ppm threshold —
    callers filter on a positive threshold, so outputs are identical.
    Docs with no shingles never reach ``cand`` (no signature, no gram).

    ``prefer_broadcast=False``: callers whose blocking provably bounds
    the candidate set to a sliver of the corpus (rare-gram df ≤ 3)
    keep the semi-join explode verify — for them the per-run ~50 MB
    array broadcast costs more than it saves (measured r6 sf1.0:
    ngram_jaccard 2.3 s explode vs 3.1 s broadcast).
    """
    dsh = _dsh_df(spark, sf_dir)
    if (prefer_broadcast
            and spark.table("documents").count() <= JR_BCAST_MAX_DOCS):
        doc_arr = _doc_rank_arrays(spark, sf_dir)
        arr_a = doc_arr.select(F.col("doc_id").alias("doc_a"),
                               F.col("shs").alias("sa"))
        arr_b = doc_arr.select(F.col("doc_id").alias("doc_b"),
                               F.col("shs").alias("sb"))
        return (
            cand.join(F.broadcast(arr_a), "doc_a")
            .join(F.broadcast(arr_b), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("sa", "sb")).cast("long")
                .alias("inter"),
                F.size("sa").cast("long").alias("na"),
                F.size("sb").cast("long").alias("nb"),
            )
        )
    # beyond the gate: candidate-doc semi-join + inverted-index verify
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    dsh_cand = dsh.join(cand_docs, "doc_id", "left_semi")
    sizes = dsh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = dsh_cand.select(F.col("doc_id").alias("doc_a"), "sh")
    y = dsh_cand.select(F.col("doc_id").alias("doc_b"), "sh")
    return (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n").alias("nb")), "doc_b")
    )


_MINHASH_DUCK = f"""
, shingles_h AS (
  SELECT doc_id, {_h60_sql("md5(sh)", "strpos")} AS h FROM shingles
)
, minhash AS (
  SELECT doc_id, {", ".join(f"{sql} AS {name}" for sql, name in _mh_terms())}
  FROM shingles_h GROUP BY doc_id
)
"""


@register(
    "minhash_signatures",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + _MINHASH_DUCK
    + "SELECT * FROM minhash",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return _minhash_df(spark, sf_dir)


# ----------------------------------------------------------------------
# MinHash-LSH near-dup: band→bucket join→candidate pairs→exact Jaccard
# refine (shingle-set intersection), threshold in ppm.
N_BANDS = 4  # bands of 2 signatures
JACCARD_PPM_MIN = 300_000

# band key = exact integer pairing of the band's two mins (both < MH_P,
# so mh_a * MH_P + mh_b is collision-free and fits int64) — no re-hash.
_BANDS_DUCK = "\n UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, mh{2*b} * {MH_P} + mh{2*b+1} AS bkey FROM minhash"
    for b in range(N_BANDS)
)
_LSH_DUCK = f"""
, bands AS ({_BANDS_DUCK})
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
)
, dsh AS (SELECT DISTINCT doc_id, sh FROM shingles)
, sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id)
, jac AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter,
         sa.n + sb.n - COUNT(*) AS uni
  FROM cand c
  JOIN dsh x ON x.doc_id = c.doc_a
  JOIN dsh y ON y.doc_id = c.doc_b AND y.sh = x.sh
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
)
"""


@register(
    "dedup_minhash_lsh",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + _MINHASH_DUCK
    + _LSH_DUCK
    + f"""
    SELECT doc_a, doc_b,
           CAST(FLOOR(inter * 1000000e0 / uni) AS BIGINT) AS jacc_ppm
    FROM jac
    WHERE CAST(FLOOR(inter * 1000000e0 / uni) AS BIGINT) >= {JACCARD_PPM_MIN}
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    mh = _minhash_df(spark, sf_dir)
    # single pass over mh: explode (band, bkey) structs instead of a
    # 4-way union (which would rescan the signature table per band)
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    (F.col(f"mh{2*b}") * F.lit(MH_P) + F.col(f"mh{2*b+1}")).alias("bkey"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b2 = bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    cand = (
        a.join(b2, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    jac = (
        _pair_inter_sizes(spark, sf_dir, cand)
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn(
            "jacc_ppm",
            F.floor(F.col("inter") * F.lit(1000000.0) / F.col("uni")).cast("long"),
        )
    )
    return jac.where(F.col("jacc_ppm") >= JACCARD_PPM_MIN).select("doc_a", "doc_b", "jacc_ppm")


# ----------------------------------------------------------------------
# Near-dup CLUSTERS: connected components over the verified minhash-LSH
# pair graph (alternating large-star/small-star — see
# operators/components.py). Output is one row per document labeled with
# its component's min doc_id, so canonical-per-cluster selection is
# `doc_id = component_id`. The oracle computes the same fixpoint as a
# recursive transitive closure over the symmetric pair edges — an
# algorithm-independent formulation (closure vs star-contraction), so a
# hash match certifies the component semantics, not the implementation.
@register(
    "dedup_components",
    "WITH RECURSIVE "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + _MINHASH_DUCK
    + _LSH_DUCK
    + f"""
, pairs AS (
  SELECT doc_a, doc_b FROM jac
  WHERE CAST(FLOOR(inter * 1000000e0 / uni) AS BIGINT) >= {JACCARD_PPM_MIN}
)
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b AS u, doc_a AS v FROM pairs
)
, reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b
)
SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    nodes = spark.table("documents").select("doc_id")
    return C.connected_components(nodes, pairs)


# ----------------------------------------------------------------------
# Multi-round CC certification: the LSH pair graph above converges in
# very few contraction rounds at small SF (near-dup clusters are tiny
# cliques), so a green `dedup_components` row certifies the fixpoint but
# not multi-round convergence. This gate builds deterministic PATHS of
# up to CHAIN_LEN consecutive doc_ids (doc i — doc i+1 within each
# `doc_id div CHAIN_LEN` bucket): a 64-node path provably needs ≥3
# alternating large-star/small-star rounds to contract (the 64-node-path
# pytest in tests/test_components.py measures 5), so the driver's hash
# match certifies the iterative machinery, not just a one-shot label.
# The oracle is the same algorithm-independent recursive closure as
# dedup_components over the same edge definition.
CHAIN_LEN = 64


@register(
    "components_chain",
    f"""
    WITH RECURSIVE chain AS (
      SELECT d.doc_id AS u, d2.doc_id AS v
      FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
      WHERE d.doc_id % {CHAIN_LEN} <> {CHAIN_LEN - 1}
    ), edges AS (
      SELECT u, v FROM chain UNION SELECT v AS u, u AS v FROM chain
    ), reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b
    )
    SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a
    """,
)
def q_components_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    nodes = spark.table("documents").select("doc_id")
    # edge (u, u+1) exists only when doc u+1 does: candidate edges are a
    # projection of the node set, the semi-join prunes dangling tails
    edges = (
        nodes.where(F.col("doc_id") % CHAIN_LEN != CHAIN_LEN - 1)
        .select(
            F.col("doc_id").alias("u"), (F.col("doc_id") + 1).alias("v")
        )
        .join(nodes.select(F.col("doc_id").alias("v")), "v", "left_semi")
    )
    return C.connected_components(nodes, edges)


# ----------------------------------------------------------------------
# n-gram Jaccard near-dup (round instructions name it as its own dedup
# family, distinct from the MinHash approximation): EXACT shingle-set
# Jaccard with rare-gram blocking — candidate pairs are docs sharing a
# shingle whose document frequency is tiny (df ≤ RARE_DF_MAX). The
# classic exact-dedup shape for 100-TB scale: the inverted index emits
# at most (df choose 2) ≤ 3 pairs per rare gram (bounded fan-out — no
# quadratic blowup on common grams), and near-dup pairs are recalled
# because near-identical documents share many grams that appear nowhere
# else. Complements MinHash-LSH: exact similarity, recall limited to
# rare-gram-sharing pairs rather than signature-collision pairs.
RARE_DF_MAX = 3
NGRAM_JACCARD_PPM_MIN = 300_000


@register(
    "dedup_ngram_jaccard",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + f"""
    , dsh AS (SELECT DISTINCT doc_id, sh FROM shingles)
    , rare AS (
      SELECT sh FROM dsh GROUP BY sh
      HAVING COUNT(*) BETWEEN 2 AND {RARE_DF_MAX}
    )
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM dsh a JOIN rare r ON a.sh = r.sh
      JOIN dsh b ON b.sh = a.sh AND a.doc_id < b.doc_id
    )
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id)
    , jac AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter,
             sa.n + sb.n - COUNT(*) AS uni
      FROM cand c
      JOIN dsh x ON x.doc_id = c.doc_a
      JOIN dsh y ON y.doc_id = c.doc_b AND y.sh = x.sh
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(inter * 1000000e0 / uni) AS BIGINT) AS jacc_ppm
    FROM jac
    WHERE CAST(FLOOR(inter * 1000000e0 / uni) AS BIGINT)
          >= {NGRAM_JACCARD_PPM_MIN}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    dsh = _dsh_df(spark, sf_dir)  # shared distinct-shingle stage
    rare = (
        dsh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(2, RARE_DF_MAX))
        .select("sh")
    )
    blocked = dsh.join(rare, "sh")  # tiny: rare grams only
    a = blocked.select(F.col("doc_id").alias("doc_a"), "sh")
    b = blocked.select(F.col("doc_id").alias("doc_b"), "sh")
    cand = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    jac = (
        _pair_inter_sizes(spark, sf_dir, cand, prefer_broadcast=False)
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn(
            "jacc_ppm",
            F.floor(F.col("inter") * F.lit(1000000.0) / F.col("uni"))
            .cast("long"),
        )
    )
    return (
        jac.where(F.col("jacc_ppm") >= NGRAM_JACCARD_PPM_MIN)
        .select("doc_a", "doc_b", "jacc_ppm")
    )


# ----------------------------------------------------------------------
# Benchmark decontamination: flag training documents whose n-grams
# overlap an evaluation set's n-grams (the standard leakage check every
# web-scale training pipeline runs before a corpus ships). The eval set
# is synthesized deterministically from the same table — docs with
# doc_id % EVAL_DOC_MOD == 0 play the benchmark — so no external data.
# 100-TB shape: the eval n-gram set is FIXED-SIZE (benchmarks are a few
# thousand docs regardless of corpus size), so it broadcasts and the
# corpus probes it map-side — the only shuffle is the per-doc partial
# aggregation; the 100 TB never re-partitions by n-gram.
EVAL_DOC_MOD = 29


@register(
    "decontam_ngram",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + f"""
    , dsh AS (SELECT DISTINCT doc_id, sh FROM shingles)
    , eval_sh AS (
      SELECT DISTINCT sh FROM dsh WHERE doc_id % {EVAL_DOC_MOD} = 0
    )
    , probe AS (
      SELECT d.doc_id, COUNT(*) AS n_shingles, COUNT(e.sh) AS n_contaminated
      FROM dsh d LEFT JOIN eval_sh e ON d.sh = e.sh
      WHERE d.doc_id % {EVAL_DOC_MOD} <> 0
      GROUP BY d.doc_id
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_contaminated AS BIGINT) AS n_contaminated,
           CAST(n_contaminated * 1000000 // n_shingles AS BIGINT) AS contam_ppm
    FROM probe
    """,
)
def q_decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    dsh = _dsh_df(spark, sf_dir)
    eval_sh = (
        dsh.where(F.col("doc_id") % EVAL_DOC_MOD == 0)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = dsh.where(F.col("doc_id") % EVAL_DOC_MOD != 0)
    return (
        corpus.join(F.broadcast(eval_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.floor(F.col("n_contaminated") * F.lit(1000000.0) / F.col("n_shingles"))
            .cast("long")
            .alias("contam_ppm"),
        )
    )


# ----------------------------------------------------------------------
# Corpus vocabulary top-K (tokenizer-training prep): global term and
# document frequencies, keeping the K most frequent terms under a total
# order (tf DESC, then term — ties pinned so the cut is deterministic).
# 100-TB shape: partial+final hash aggregation for the counts, then
# Spark's sort+limit becomes TakeOrderedAndProject — each partition
# keeps its local top-K heap and the driver merges K·P rows; no global
# sort, no single-partition window. K=20 binds below the synth
# vocabulary size so the ordered cut (and its tie-break) is live in the
# driver gate.
K_VOCAB = 20


@register(
    "vocab_topk",
    "WITH "
    + _TOKENS_SQL_DUCK
    + f"""
    SELECT w, COUNT(*) AS tf,
           COUNT(DISTINCT doc_id) AS df
    FROM tokens GROUP BY w
    ORDER BY tf DESC, w LIMIT {K_VOCAB}
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return (
        _tokens(spark)
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("w"))
        .limit(K_VOCAB)
    )


# ----------------------------------------------------------------------
# Distributed cardinality sketch (Flajolet-Martin with stochastic
# averaging — the LogLog family's integer core): per source, distinct
# shingle hashes are spread over FM_BUCKETS buckets (h % m) and each
# bucket keeps MAX(trailing-zero rank of h div m). That MAX is
# partial-aggregatable, so at 100 TB the sketch is one map-side-combined
# hash aggregation over the scan — O(m) state per group, no sort, no
# global top-k — exactly why engines ship HLL instead of KMV. Everything
# here is integer/string arithmetic (no transcendentals, no library
# sketch), so Spark and DuckDB produce bit-identical sketches and the
# driver hash-gates them; estimate_pow2 is the crude integer-shift
# estimate 64·2^(sum_maxr div 64) derived from the sketch (exact-int,
# order-of-magnitude quality — the sketch fields are the product,
# n_exact sits alongside as the expensive ground truth).
FM_BUCKETS = 64
# h < 2^60, so h div 64 < 2^54: an all-zero suffix ranks 54
# ({hi} = the dialect's integer division `h div 64` / `h // 64`)
_FM_R_SQL = (
    "CASE WHEN {hi} = 0 THEN 54 "
    "ELSE length(bin({hi})) - length({rtrim}) END"
)


@register(
    "distinct_sketch_fm",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             UNNEST(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    ), sh AS (
      SELECT source, doc_id,
             w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS s
      FROM toks
      WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(w, 2) OVER win IS NOT NULL
    ), dh AS (
      SELECT DISTINCT source, {_h60_sql("md5(s)", "strpos")} AS h FROM sh
    ), br AS (
      SELECT source, h % {FM_BUCKETS} AS bucket,
             {_FM_R_SQL.format(hi="(h // 64)", rtrim="rtrim(bin(h // 64), '0')")} AS r
      FROM dh
    ), bmax AS (
      SELECT source, bucket, MAX(r) AS maxr FROM br GROUP BY source, bucket
    ), nex AS (
      SELECT source, COUNT(*) AS n_exact FROM dh GROUP BY source
    )
    SELECT b.source,
           CAST(n.n_exact AS BIGINT) AS n_exact,
           CAST(SUM(b.maxr) AS BIGINT) AS sum_maxr,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST({FM_BUCKETS} * (1::BIGINT << (CAST(SUM(b.maxr) AS BIGINT) // {FM_BUCKETS}))
                AS BIGINT) AS estimate_pow2
    FROM bmax b JOIN nex n ON b.source = n.source
    GROUP BY b.source, n.n_exact
    """,
)
def q_distinct_sketch_fm(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    w = Wnd.partitionBy("doc_id").orderBy("pos")
    t = spark.table("documents").select(
        "source", "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    sh = (
        t.withColumn("w1", F.lead("w", 1).over(w))
        .withColumn("w2", F.lead("w", 2).over(w))
        .where(F.col("w2").isNotNull())
        .select("source", F.concat_ws(" ", "w", "w1", "w2").alias("s"))
    )
    # r6: dh feeds both the bucket ranks and the exact count — cut()
    # or the shingle window + distinct executes twice per invocation.
    dh = cut(
        sh.select(
            "source",
            F.expr(_h60_sql("md5(cast(s as binary))", "instr")).alias("h"),
        ).distinct()
    )
    br = dh.select(
        "source",
        (F.col("h") % FM_BUCKETS).alias("bucket"),
        F.expr(
            _FM_R_SQL.format(hi="(h div 64)", rtrim="rtrim('0', bin(h div 64))")
        ).alias("r"),
    )
    bmax = br.groupBy("source", "bucket").agg(F.max("r").alias("maxr"))
    nex = dh.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        bmax.groupBy("source")
        .agg(
            F.sum("maxr").alias("sum_maxr"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .join(nex, "source")
        .select(
            "source",
            "n_exact",
            "sum_maxr",
            "n_buckets",
            F.expr(
                f"cast({FM_BUCKETS} as bigint) * "
                f"shiftleft(cast(1 as bigint), cast(sum_maxr div {FM_BUCKETS} as int))"
            ).alias("estimate_pow2"),
        )
    )


# ----------------------------------------------------------------------
# Within-document repetition stats (the Gopher/MassiveText-style
# repetition filters): duplicate-shingle share (how much of the doc is
# repeated 3-grams — near-template text scores high) and top-bigram
# coverage (share of all bigrams taken by the single most frequent one
# — boilerplate loops score high). Integer-ppm outputs, two per-doc
# hash aggregations, no pair joins — embarrassingly parallel at 100 TB.
@register(
    "text_repetition",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + """
    , bigrams AS (
      SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS bg
      FROM tokens
      WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(w, 1) OVER win IS NOT NULL
    )
    , bg_counts AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
    )
    , bg_doc AS (
      SELECT doc_id, MAX(c) AS max_bg, SUM(c) AS n_bg
      FROM bg_counts GROUP BY doc_id
    )
    , sh_doc AS (
      SELECT doc_id, COUNT(*) AS n_sh, COUNT(DISTINCT sh) AS n_dsh
      FROM shingles GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST((s.n_sh - s.n_dsh) * 1000000 // s.n_sh AS BIGINT) AS dup_shingle_ppm,
           CAST(b.max_bg * 1000000 // b.n_bg AS BIGINT) AS top_bigram_ppm
    FROM sh_doc s JOIN bg_doc b ON s.doc_id = b.doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    t = _tokens(spark)
    w = Wnd.partitionBy("doc_id").orderBy("pos")
    big = (
        t.withColumn("w1", F.lead("w", 1).over(w))
        .where(F.col("w1").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1").alias("bg"))
    )
    bg_doc = (
        big.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"), F.sum("c").alias("n_bg"))
    )
    sh_doc = _shingles(spark).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.countDistinct("sh").alias("n_dsh"),
    )
    return sh_doc.join(bg_doc, "doc_id").select(
        "doc_id",
        F.floor((F.col("n_sh") - F.col("n_dsh")) * F.lit(1000000.0) / F.col("n_sh"))
        .cast("long")
        .alias("dup_shingle_ppm"),
        F.floor(F.col("max_bg") * F.lit(1000000.0) / F.col("n_bg"))
        .cast("long")
        .alias("top_bigram_ppm"),
    )


# ----------------------------------------------------------------------
# Deterministic stratified sampling (language rebalancing): keep each
# document iff a stable hash of its id lands under its language's
# per-mille rate — reproducible across runs, machines, and engines (no
# RNG), and a pure scan-level filter: zero shuffles, zero joins, so at
# 100 TB it costs one pass and prunes at the parquet scan.
SAMPLE_RATES_PMIL = {"en": 400, "de": 800, "fr": 800, "es": 800, "zh": 1000}
_SAMPLE_DEFAULT_PMIL = 600


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES_PMIL.items())
    )
    return f"CASE lang {whens} ELSE {_SAMPLE_DEFAULT_PMIL} END"


@register(
    "corpus_sample",
    f"""
    SELECT doc_id, lang, source,
           {_h60_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")} % 1000 AS bucket
    FROM documents
    WHERE {_h60_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")} % 1000
          < {_rate_case_sql()}
    """,
)
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    h = F.expr(
        _h60_sql("md5(cast(cast(doc_id as string) as binary))", "instr")
    )
    rate = F.expr(_rate_case_sql())
    return (
        spark.table("documents")
        .select("doc_id", "lang", "source", (h % 1000).alias("bucket"), rate.alias("r"))
        .where(F.col("bucket") < F.col("r"))
        .drop("r")
    )


# ----------------------------------------------------------------------
# SimHash (60-bit, md5-nibble hyperplanes), banded near-dup pairs.
# Bit b of token t is bit b of h60(md5(t)) — the SAME values as round 1's
# per-bit nibble arithmetic (nibble n sits at bits [4n, 4n+4)), but md5 +
# nibble extraction run ONCE per token in a projection; the 60 vote sums
# then read plain int64 shifts of one column (the VERDICT perf item: r1
# recomputed md5(w)+instr per bit per token, 60×).
SIMHASH_BITS = 60  # 15 md5 nibbles × 4 bits (positive int64, shift-safe)
HAMMING_MAX = 6


def _simhash_select(engine: str):
    if engine == "duck":
        h60 = _h60_sql("md5(w)", "strpos")
        bit = "((h >> {b}) & 1)"
    else:
        h60 = _h60_sql("md5(cast(w as binary))", "instr")
        bit = "(shiftright(h, {b}) & 1)"
    sums = ", ".join(
        f"SUM(2 * {bit.format(b=b)} - 1) AS s{b}" for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return h60, sums, combine


_DUCK_H60, _DUCK_SUMS, _DUCK_COMBINE = _simhash_select("duck")
_SIMHASH_DUCK = f"""
, tokens_h AS (
  SELECT doc_id, {_DUCK_H60} AS h FROM tokens
)
, bitsums AS (
  SELECT doc_id, {_DUCK_SUMS}
  FROM tokens_h GROUP BY doc_id
)
, simhash AS (
  SELECT doc_id, {_DUCK_COMBINE} AS simhash FROM bitsums
)
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-materialized: the banded self-join references it twice."""

    def build():
        h60, sums, combine = _simhash_select("spark")
        t = _tokens(spark)
        t.createOrReplaceTempView("__tok")
        return spark.sql(
            f"SELECT doc_id, {combine} AS simhash FROM ("
            f"SELECT doc_id, {sums} FROM "
            f"(SELECT doc_id, {h60} AS h FROM __tok) GROUP BY doc_id)"
        )

    return stage(spark, (session_token(spark), sf_dir, "simhash"), build)


@register(
    "simhash_signatures",
    "WITH " + _TOKENS_SQL_DUCK + _SIMHASH_DUCK + "SELECT doc_id, simhash FROM simhash",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return _simhash_df(spark, sf_dir)


@register(
    "dedup_simhash",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SIMHASH_DUCK
    + f"""
    , chunks AS (
      SELECT doc_id, simhash, c.c AS chunk_idx,
             (simhash >> (c.c * 15)) & 32767 AS chunk
      FROM simhash, (SELECT CAST(range AS BIGINT) AS c FROM range(4)) c
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    sh = _simhash_df(spark, sf_dir)
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_idx"),
    ).withColumn(
        "chunk",
        F.expr("shiftright(simhash, chunk_idx * 15)").bitwiseAND(F.lit(32767)),
    )
    a = chunks.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "chunk_idx", "chunk")
    b = chunks.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "chunk_idx", "chunk")
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .where(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# ----------------------------------------------------------------------
# Text analysis: language-ID heuristic, quality score, token counting,
# min-shingle fingerprint. Integer outputs for cross-engine exactness.
@register(
    "text_stats",
    """
    SELECT d.doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens,
           (SELECT COUNT(*) FROM UNNEST(string_split(d.text, ' ')) AS t(w)
            WHERE t.w IN ('the', 'a', 'of', 'and')) AS n_stop,
           CASE WHEN (SELECT COUNT(*) FROM UNNEST(string_split(d.text, ' ')) AS t(w)
                      WHERE t.w IN ('the', 'a', 'of', 'and')) > 0
                THEN 'en' ELSE 'unk' END AS pred_lang
    FROM documents d
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))
    return spark.table("documents").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).alias(
            "n_subtokens"
        ),
        n_stop.alias("n_stop"),
        F.when(n_stop > 0, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"),
    )


@register(
    "doc_fingerprint",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + """
    SELECT doc_id, MIN(md5(sh)) AS fingerprint
    FROM shingles GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return (
        _shingles(spark)
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("sh").cast("binary"))).alias("fingerprint"))
    )


# ----------------------------------------------------------------------
# Similarity search over embeddings — quantized-integer variants (exact
# cross-engine). Per-PAIR arithmetic is the zip_with/aggregate HOF (the
# measured per-pair winner — see operators/vectors.py:dot_expr); the
# per-VECTOR work (LSH signature, IVF centroid assignment, squared
# norms) runs once per corpus as numpy matmul batch kernels,
# stage-materialized. The scale lever is the bucketing that keeps the
# pair count small, never all-pairs.
from .operators import vectors as V  # noqa: E402

N_QUERIES = 10
TOP_K = 5

_EQ_DUCK = """
eq AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(x * 1000e0) AS BIGINT)) AS q
  FROM embeddings
)
"""


def _eq_df(spark: SparkSession) -> DataFrame:
    return spark.table("embeddings").select(
        "vec_id", V.quantize_expr("embedding").alias("q")
    )


@register(
    "ann_bruteforce_topk",
    "WITH "
    + _EQ_DUCK
    + f"""
    , scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor,
             CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY CAST(list_dot_product(a.q, b.q) AS BIGINT) DESC,
                                         b.vec_id) AS rn
      FROM eq a JOIN eq b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor, dot, rn FROM scored WHERE rn <= {TOP_K}
    """,
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    eq = _eq_df(spark)
    qside = eq.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    w = Wnd.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor").asc())
    return (
        qside.crossJoin(eq.select(F.col("vec_id").alias("neighbor"), "q"))
        .where(F.col("neighbor") != F.col("query_id"))
        .withColumn("dot", V.dot_expr("qa", "q"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor", "dot", "rn")
    )


# LSH-bucketed ANN: 8 deterministic integer hyperplanes → signature →
# bucket join → exact dot top-k within bucket (the scale path: candidates
# per query bounded by bucket size instead of N).
N_PLANES = 8
DIMS = 64


def _plane(i: int) -> list[int]:
    return [((i * DIMS + d) * 2654435761) % 1000 - 500 for d in range(DIMS)]


def _sigs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with LSH signature, stage-materialized (both sides of every
    bucket self-join read it — the ingest-time index)."""
    planes = [_plane(i) for i in range(N_PLANES)]
    return stage(
        spark,
        (session_token(spark), sf_dir, "vec_sigs"),
        lambda: V.with_sig(_eq_df(spark), planes),
    )


_SIG_DUCK = " + ".join(
    f"(CASE WHEN list_dot_product(q, {_plane(i)!r}) > 0 THEN {1 << i} ELSE 0 END)".replace(
        "[", "["
    )
    for i in range(N_PLANES)
)


@register(
    "ann_lsh_topk",
    "WITH "
    + _EQ_DUCK
    + f"""
    , sigs AS (SELECT vec_id, q, {_SIG_DUCK} AS sig FROM eq)
    , scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor,
             CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY CAST(list_dot_product(a.q, b.q) AS BIGINT) DESC,
                                         b.vec_id) AS rn
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor, dot, rn FROM scored WHERE rn <= {TOP_K}
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    sigs = _sigs_df(spark, sf_dir)
    qside = sigs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"), "sig"
    )
    w = Wnd.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor").asc())
    return (
        qside.join(sigs.select(F.col("vec_id").alias("neighbor"), "q", "sig"), "sig")
        .where(F.col("neighbor") != F.col("query_id"))
        .withColumn("dot", V.dot_expr("qa", "q"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor", "dot", "rn")
    )


# ----------------------------------------------------------------------
# Embedding-cosine near-dup (round instructions): the corpus is unioned
# with deterministically perturbed clones of every 10th vector (±1
# milli-unit per dim — cos ≈ 1), then LSH-bucketed (same hyperplanes as
# ann_lsh) and exactly refined with an integer cosine² test:
#   dot² ≥ ((τ²ppm · |a|²) // 10^6) · |b|²,  τ = 0.95
# — pure int64 arithmetic (no overflow: dot ≤ 6.4e7), identical in both
# engines, so the oracle is exact. At scale: banding bounds candidates
# per bucket; the refine is a JVM zip_with/aggregate over the pair.
COS_TAU2_PPM = 902_500  # (0.95)² in ppm


def _eq_with_clones(spark: SparkSession) -> DataFrame:
    eq = _eq_df(spark)
    clones = (
        eq.where(F.col("vec_id") % 10 == 0)
        # sign must come from the ORIGINAL vec_id — computed before the
        # rename, or the projection would resolve vec_id to the +100000
        # alias and flip the branch
        .withColumn(
            "d", F.when(F.col("vec_id") % 3 == 0, F.lit(1)).otherwise(F.lit(-1))
        )
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(F.col("q"), lambda x: x + F.col("d")).alias("q"),
        )
    )
    return eq.unionByName(clones)


_EQC_DUCK = (
    _EQ_DUCK
    + """
, eqc AS (
  SELECT vec_id, q FROM eq
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(q, x -> x + CASE WHEN vec_id % 3 = 0 THEN 1 ELSE -1 END)
  FROM eq WHERE vec_id % 10 = 0
)
"""
)


@register(
    "dedup_embedding_cosine",
    "WITH "
    + _EQC_DUCK
    + f"""
    , sigs AS (SELECT vec_id, q, {_SIG_DUCK} AS sig FROM eqc)
    , cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.q AS qa, b.q AS qb
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           CAST(list_dot_product(qa, qb) AS BIGINT) AS dot
    FROM cand
    WHERE CAST(list_dot_product(qa, qb) AS BIGINT) > 0
      AND CAST(list_dot_product(qa, qb) AS BIGINT)
          * CAST(list_dot_product(qa, qb) AS BIGINT)
          >= (({COS_TAU2_PPM} * CAST(list_dot_product(qa, qa) AS BIGINT)) // 1000000)
             * CAST(list_dot_product(qb, qb) AS BIGINT)
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    views(spark, sf_dir)
    planes = [_plane(i) for i in range(N_PLANES)]
    # signature + squared norm computed once per VECTOR (pre-join, one
    # Arrow pass over corpus∪clones), not per pair
    sigs = stage(
        spark,
        (session_token(spark), sf_dir, "vec_sigs_clones"),
        lambda: V.with_sig(_eq_with_clones(spark), planes, norms=True),
    )
    # r6: each vector carries exactly ONE signature, so the LSH buckets
    # are equivalence classes — the pairwise refine is a per-bucket
    # upper-triangle Gram product. The r5 sig self-join evaluated a
    # zip_with/aggregate dot per PAIR (2.9M higher-order evals at
    # sf1.0, 5.5 s); one int64 numpy matmul per bucket (the
    # embedding_gram syrk discipline — exact, no floats) computes the
    # same dots in 0.74 s, checksum-identical. Row-chunking bounds
    # per-task memory to CH·k for a degenerate hot bucket; candidate
    # count stays Σ C(k_bucket, 2) either way.
    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("dot", T.LongType()),
        ]
    )

    def refine(key, pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        k = len(ids)
        empty = pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "dot": pd.Series(dtype="int64")}
        )
        if k < 2:
            return empty
        q_mat = np.stack(
            [np.asarray(v, dtype=np.int64) for v in pdf["q"].to_numpy()]
        )[order]
        n2 = pdf["n2"].to_numpy()[order].astype(np.int64)
        out_a, out_b, out_d = [], [], []
        ch = 1024
        for s in range(0, k - 1, ch):
            e = min(s + ch, k - 1)
            g = q_mat[s:e] @ q_mat.T  # exact int64 dots
            for i in range(s, e):
                row = g[i - s, i + 1:]
                # dot > 0 AND dot² ≥ floor(τ²ppm·|a|²/1e6)·|b|² — the
                # identical integer predicate as the SQL spelling
                jj = np.nonzero(
                    (row > 0)
                    & (row * row
                       >= (COS_TAU2_PPM * n2[i]) // 1000000 * n2[i + 1:])
                )[0]
                if len(jj):
                    out_a.append(np.full(len(jj), ids[i]))
                    out_b.append(ids[i + 1:][jj])
                    out_d.append(row[jj])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "dot": np.concatenate(out_d),
            }
        )

    return sigs.groupBy("sig").applyInPandas(refine, schema)


# ----------------------------------------------------------------------
# IVF ANN (the second scale path): deterministic integer centroids
# (nlist=16); every vector joins its nearest-by-dot centroid's inverted
# list; a query probes its nprobe=4 best lists and ranks candidates by
# exact integer dot. At 100 TB the lists are the partition key — a probe
# touches nprobe/nlist of the corpus instead of all of it.
N_LIST = 16
N_PROBE = 4


def _centroid(i: int) -> list[int]:
    return [((i * DIMS + d) * 2246822519) % 1000 - 500 for d in range(DIMS)]


_CENTROIDS_DUCK = " UNION ALL ".join(
    f"SELECT {i} AS cid, {_centroid(i)!r} AS cvec" for i in range(N_LIST)
)

_ASSIGN_DUCK = f"""
, cents AS ({_CENTROIDS_DUCK})
, scored_cents AS (
  SELECT e.vec_id, e.q, c.cid,
         CAST(list_dot_product(e.q, c.cvec) AS BIGINT) AS cdot,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY CAST(list_dot_product(e.q, c.cvec) AS BIGINT) DESC,
                                     c.cid) AS crn
  FROM eq e, cents c
)
"""


@register(
    "ann_ivf_topk",
    "WITH "
    + _EQ_DUCK
    + _ASSIGN_DUCK
    + f"""
    , lists AS (SELECT vec_id, q, cid FROM scored_cents WHERE crn = 1)
    , probes AS (SELECT vec_id, q, cid FROM scored_cents
                 WHERE crn <= {N_PROBE} AND vec_id < {N_QUERIES})
    , scored AS (
      SELECT p.vec_id AS query_id, l.vec_id AS neighbor,
             CAST(list_dot_product(p.q, l.q) AS BIGINT) AS dot,
             ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                ORDER BY CAST(list_dot_product(p.q, l.q) AS BIGINT) DESC,
                                         l.vec_id) AS rn
      FROM probes p JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.vec_id
    )
    SELECT query_id, neighbor, dot, rn FROM scored WHERE rn <= {TOP_K}
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    centroids = [_centroid(i) for i in range(N_LIST)]
    # one map-side numpy matmul assigns every vector its nprobe best
    # lists — no 16× explode, no window shuffle over the whole corpus
    assigned = stage(
        spark,
        (session_token(spark), sf_dir, "ivf_assign"),
        lambda: V.ivf_assign(_eq_df(spark), centroids, N_PROBE),
    )
    lists = assigned.where(F.col("crn") == 1).select("vec_id", "q", "cid")
    probes = assigned.where(
        (F.col("crn") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("q").alias("qa"), "cid")
    w2 = Wnd.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor").asc())
    return (
        probes.join(
            lists.select(F.col("vec_id").alias("neighbor"), "q", "cid"), "cid"
        )
        .where(F.col("neighbor") != F.col("query_id"))
        .withColumn("dot", V.dot_expr("qa", "q"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor", "dot", "rn")
    )


# ----------------------------------------------------------------------
# Document quality scoring (round instructions): integer-ppm ratios —
# stopword share, short-token share, alpha-only share — folded into one
# composite score. All integer arithmetic → exact cross-engine.
@register(
    "text_quality",
    "WITH "
    + _TOKENS_SQL_DUCK
    + """
    , tok_stats AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN w IN ('the','a','of','and') THEN 1 ELSE 0 END) AS n_stop,
             SUM(CASE WHEN length(w) <= 2 THEN 1 ELSE 0 END) AS n_short,
             SUM(CASE WHEN regexp_full_match(w, '[a-z]+') THEN 1 ELSE 0 END) AS n_alpha
      FROM tokens GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_stop * 1000000 // n_tokens AS BIGINT) AS stop_ppm,
           CAST(n_short * 1000000 // n_tokens AS BIGINT) AS short_ppm,
           CAST(n_alpha * 1000000 // n_tokens AS BIGINT) AS alpha_ppm,
           CAST((n_alpha * 1000000 // n_tokens
                 - n_short * 500000 // n_tokens
                 + CASE WHEN n_stop > 0 THEN 100000 ELSE 0 END) AS BIGINT) AS quality_ppm
    FROM tok_stats
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    t = _tokens(spark)
    stats = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("w").isin(STOPWORDS), 1).otherwise(0)).alias("n_stop"),
        F.sum(F.when(F.length("w") <= 2, 1).otherwise(0)).alias("n_short"),
        F.sum(F.when(F.col("w").rlike("^[a-z]+$"), 1).otherwise(0)).alias("n_alpha"),
    )
    ppm = lambda c, scale: F.floor(c * F.lit(scale) / F.col("n_tokens")).cast("long")  # noqa: E731
    return stats.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        ppm(F.col("n_stop"), 1000000).alias("stop_ppm"),
        ppm(F.col("n_short"), 1000000).alias("short_ppm"),
        ppm(F.col("n_alpha"), 1000000).alias("alpha_ppm"),
        (
            ppm(F.col("n_alpha"), 1000000)
            - ppm(F.col("n_short"), 500000)
            + F.when(F.col("n_stop") > 0, F.lit(100000)).otherwise(F.lit(0))
        ).cast("long").alias("quality_ppm"),
    )


# ----------------------------------------------------------------------
# Language-ID via a character-n-gram profile (round instructions: the
# n-gram heuristic, distinct from text_stats' stopword shortcut). Hit
# counts per profile bigram come from the non-overlapping
# length-minus-replace identity — identical semantics in Spark and
# DuckDB, so the counts (and the integer-ppm score and the decision)
# are exact cross-engine. Pure JVM expressions over the documents scan:
# at 100 TB this is one codegen'd projection pass, no Python, no
# shuffle before the (optional) aggregation by the caller.
_LANG_BIGRAMS = ["th", "he", "in", "er", "an"]
_LANG_PPM_THRESHOLD = 20_000  # ≥2% of char positions hit the profile


def _bigram_hits_sql(col: str) -> str:
    terms = [
        f"(length({col}) - length(replace({col}, '{b}', ''))) / 2"
        for b in _LANG_BIGRAMS
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "lang_ngram_id",
    f"""
    SELECT doc_id,
           lang,
           CAST({_bigram_hits_sql('text')} AS BIGINT) AS gram_hits,
           CAST(CAST({_bigram_hits_sql('text')} AS BIGINT) * 1000000
                // (length(text) - 1) AS BIGINT) AS gram_ppm,
           CASE WHEN CAST({_bigram_hits_sql('text')} AS BIGINT) * 1000000
                     // (length(text) - 1) >= {_LANG_PPM_THRESHOLD}
                THEN 'en' ELSE 'unk' END AS pred_lang
    FROM documents
    WHERE length(text) > 1
    """,
)
def q_lang_ngram_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    t = F.col("text")
    hits = None
    for b in _LANG_BIGRAMS:
        term = (F.length(t) - F.length(F.replace(t, F.lit(b), F.lit("")))) / 2
        hits = term if hits is None else hits + term
    hits = hits.cast("long")
    ppm = F.expr(
        f"CAST({_bigram_hits_sql('text')} AS BIGINT) * 1000000L"
        " DIV (length(text) - 1)"
    )
    return (
        spark.table("documents")
        .where(F.length(t) > 1)
        .select(
            "doc_id",
            "lang",
            hits.alias("gram_hits"),
            ppm.alias("gram_ppm"),
            F.when(ppm >= _LANG_PPM_THRESHOLD, F.lit("en"))
            .otherwise(F.lit("unk"))
            .alias("pred_lang"),
        )
    )


# ----------------------------------------------------------------------
# Cross-document duplicated-span fraction (exact-substring dedup signal,
# Lee et al. "Deduplicating Training Data Makes Language Models Better"
# — their 50-token spans are this operator with a longer gram; the gram
# length is a free parameter and the 3-token shingle CTE is reused so
# the oracle stays compact). Distinct from text_repetition (WITHIN-doc
# repetition) and decontam_ngram (fixed broadcast probe set): this is
# the big-big self-overlap — gram document-frequency over the whole
# corpus, then each doc's fraction of span positions whose gram appears
# in ≥2 distinct docs.
#
# Scale shape: gram-df is a partial/final agg keyed by the gram (heavy
# tail collapses map-side); the dup-gram set feeds a LEFT SEMI join
# back into the span stream keyed by the gram, then one doc-keyed agg.
# At production scale the join key is the 60-bit md5 fold (one hash per
# gram, same as the MinHash pipeline) instead of the raw string — exact
# semantics kept here so the oracle certifies string equality.


@register(
    "cross_dup_spans",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + """
, dupg AS (
  SELECT sh FROM (
    SELECT sh, COUNT(DISTINCT doc_id) AS df FROM shingles GROUP BY 1
  ) g WHERE df >= 2
)
, per AS (
  SELECT s.doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN d.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans
  FROM shingles s LEFT JOIN dupg d ON d.sh = s.sh
  GROUP BY 1
)
SELECT doc_id, n_spans, n_dup_spans,
       (1000000 * n_dup_spans) // n_spans AS dup_ppm
FROM per
""",
)
def q_cross_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # the span stream feeds three subtrees (gram-df, per-doc totals,
    # semi-join probe) whose shuffles differ — without a stage boundary
    # the full-corpus explode+window pass would run three times
    # (ReuseExchange only dedupes identical subtrees)
    sh = stage(
        spark,
        (session_token(spark), sf_dir, "shingles"),
        lambda: _shingles(spark),
    )
    dupg = (
        sh.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("sh")
    )
    n_spans = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    n_dup = (
        sh.join(dupg, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        n_spans.join(n_dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ppm", F.expr("(1000000 * n_dup_spans) div n_spans")
        )
    )


# ----------------------------------------------------------------------
# Corpus length distribution: exact percentile extraction from an
# integer histogram — percentile_disc semantics (smallest length whose
# cumulative count reaches ceil(q*N/100), exact because 100*cum >= q*N
# over integers). The big side contributes ONE partial/final hash agg
# (the histogram); the running sum and quantile probe run over the tiny
# distinct-length relation. This is the deterministic cross-engine
# stand-in for approx_percentile-style corpus reports (t-digest/KLL
# sketches are the production path at 10^12 docs; same output contract).

DOCLEN_QS = (25, 50, 75, 90, 99)


@register(
    "doclen_quantiles",
    f"""
    WITH hist AS (
      SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY 1
    ), cum AS (
      SELECT n_chars, SUM(c) OVER (ORDER BY n_chars) AS cum FROM hist
    ), tot AS (SELECT COUNT(*) AS n FROM documents),
    qs AS (SELECT UNNEST([{", ".join(str(q) for q in DOCLEN_QS)}]) AS q)
    SELECT q, CAST(MIN(n_chars) AS BIGINT) AS n_chars_percentile
    FROM cum CROSS JOIN tot JOIN qs ON 100 * cum >= q * n
    GROUP BY q
    """,
)
def q_doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    docs = spark.table("documents")
    hist = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Wnd.orderBy("n_chars").rowsBetween(Wnd.unboundedPreceding, 0)
        ),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in DOCLEN_QS])).alias("q")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .join(F.broadcast(qs), F.expr("100 * cum >= q * n"))
        .groupBy("q")
        .agg(F.min("n_chars").cast("long").alias("n_chars_percentile"))
    )


# ----------------------------------------------------------------------
# Exact per-language quota sample: the smallest QUOTA_N (hash, doc_id)
# keys per language — deterministic stratified sampling with an EXACT
# quota (corpus_sample's hash-stratified filter gives proportional,
# not fixed-size, strata). The naive formulation is a row_number window
# partitioned by lang over the whole corpus — at 10^12 docs that
# shuffles everything and ranks the dominant language's ~half-corpus
# partition serially. Instead:
#
#   1. one tiny partial/final agg counts docs per lang;
#   2. the count calibrates an oversample threshold per lang
#      (keep h where h·cnt < 2^60·MARGIN·N — expected MARGIN·N
#      candidates; exact DECIMAL(38) integer compare, no doubles, so
#      both engines keep identical rows), broadcast back;
#   3. the ≈MARGIN·N survivors per lang fit one bounded
#      slice(array_sort(collect_list(...)), 1, N) — map-side
#      combinable, never a corpus-wide list.
#
# The corpus is scanned twice and never shuffled by lang; only
# candidate rows (a ~1e-8 fraction at production scale) move. MARGIN=4
# makes a per-lang shortfall astronomically improbable for any real
# count (P ≈ exp(-N·(M-1)²/2M) by Chernoff; the oracle hash-match and
# the liveness pytest certify it exactly on this data). Langs with
# cnt ≤ MARGIN·N keep every row pre-slice, so small strata degrade to
# exact top-min(N, cnt) rather than breaking.
#
# The oracle IS the naive window formulation — an algorithm-independent
# certificate that the threshold trick selects exactly the same rows.

QUOTA_N = 40
QUOTA_MARGIN = 4
_QS_H_DUCK = _h60_sql("md5('qs:' || CAST(doc_id AS VARCHAR))", "strpos")
_QS_H_SPARK = _h60_sql(
    "md5(cast(concat('qs:', cast(doc_id as string)) as binary))", "instr"
)
_QS_LIMIT = (1 << 60) * QUOTA_MARGIN * QUOTA_N


@register(
    "lang_quota_sample",
    f"""
    WITH d AS (
      SELECT lang, doc_id, {_QS_H_DUCK} AS h FROM documents
    )
    SELECT lang, rank, doc_id, h
    FROM (
      SELECT lang, doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
               AS rank
      FROM d
    )
    WHERE rank <= {QUOTA_N}
    """,
)
def q_lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    docs = spark.table("documents").select(
        "lang", "doc_id", F.expr(_QS_H_SPARK).alias("h")
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    cand = docs.join(F.broadcast(counts), "lang").where(
        F.col("h").cast("decimal(38,0)") * F.col("cnt")
        < F.expr(f"CAST('{_QS_LIMIT}' AS DECIMAL(38,0))")
    )
    top = cand.groupBy("lang").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("h", "doc_id"))),
            1,
            QUOTA_N,
        ).alias("top")
    )
    return top.select(
        "lang", F.posexplode("top").alias("pos", "s")
    ).select(
        "lang",
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.h").alias("h"),
    )


# ----------------------------------------------------------------------
# Collocation discovery: top-K bigrams by PMI — the tokenizer/vocab
# engineering pass that finds multi-word units ("new york") worth
# merging before BPE training. PMI = log(p(xy)/(p(x)p(y))) is rank-
# equivalent to the integer surrogate SCALE·c_xy·N / (c_x·c_y) (log is
# monotone), computed with ONE floor division on DECIMAL(38)/HUGEINT
# operands so both engines produce identical int64 scores (c_xy·N can
# exceed int64 at corpus scale — 1e12 tokens squared — but the quotient
# is bounded by SCALE·N/c_min and always fits; verified cross-engine).
#
# Scale shape: bigram and unigram counts are partial/final hash aggs
# off the (staged) token stream; the unigram relation is vocabulary-
# sized (~1e7 at web scale) and BROADCASTS onto the bigram counts twice
# (left word, right word) — the bigram side never shuffles on a word
# key; min-count pruning happens before the joins; top-K is
# TakeOrderedAndProject (per-partition heaps), never a global sort.

PMI_SCALE = 1_000_000
PMI_MIN_COUNT = 5
PMI_K = 100

_PMI_ORACLE = (
    "WITH "
    + _TOKENS_SQL_DUCK
    + f"""
, bg AS (
  SELECT w AS w1, lead(w, 1) OVER win AS w2
  FROM tokens
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w, 1) OVER win IS NOT NULL
)
, cxy AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
)
, uni AS (SELECT w, COUNT(*) AS c FROM tokens GROUP BY 1)
, tot AS (SELECT COUNT(*) AS n FROM bg)
SELECT b.w1, b.w2, b.c_xy,
       CAST((CAST({PMI_SCALE} AS HUGEINT) * b.c_xy * t.n)
            // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS pmi_scaled
FROM cxy b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN tot t
ORDER BY pmi_scaled DESC, b.w1, b.w2
LIMIT {PMI_K}
"""
)


@register("colloc_pmi_topk", _PMI_ORACLE)
def q_colloc_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # bigrams map-side off the split array (zip_with over two slices,
    # the token array bound ONCE) — the window formulation (which the
    # oracle keeps, algorithm-independently) would shuffle the whole
    # token stream by doc_id first; this one never shuffles until the
    # bigram count
    bg = (
        spark.table("documents")
        .select(F.split("text", " ").alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    cxy = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    # the vocabulary-sized unigram agg is referenced by BOTH broadcasts
    # — stage it once (the repo's multi-reference lineage convention)
    uni = stage(
        spark,
        (session_token(spark), sf_dir, "pmi_uni"),
        lambda: _tokens(spark).groupBy("w").agg(
            F.count(F.lit(1)).alias("c")
        ),
    )
    # total bigram count without a second corpus-wide explode: one
    # narrow scan summing per-doc token counts minus one
    n = spark.table("documents").agg(
        F.sum(F.size(F.split("text", " ")) - 1).alias("n")
    )
    scored = (
        cxy.join(
            F.broadcast(uni.select(F.col("w").alias("w1"),
                                   F.col("c").alias("c1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"),
                                   F.col("c").alias("c2"))),
            "w2",
        )
        .join(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.expr(
                f"CAST((CAST({PMI_SCALE} AS DECIMAL(38,0)) * c_xy * n)"
                " DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"
            ).alias("pmi_scaled"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_scaled"), F.asc("w1"), F.asc("w2")
    ).limit(PMI_K)


# ----------------------------------------------------------------------
# Dedup reporting: the cluster-size distribution of the near-dup
# components — the number a dedup run actually publishes ("N clusters
# of size k, M docs retired"). Composes the CC output with two tiny
# aggregations (component rollup, then size histogram); everything
# after the components is host/cluster-scale, never corpus-scale. The
# oracle extends the same algorithm-independent recursive-closure
# formulation with the identical rollups.

@register(
    "dup_cluster_stats",
    "WITH RECURSIVE "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + _MINHASH_DUCK
    + _LSH_DUCK
    + f"""
, pairs AS (
  SELECT doc_a, doc_b FROM jac
  WHERE CAST(FLOOR(inter * 1000000e0 / uni) AS BIGINT) >= {JACCARD_PPM_MIN}
)
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b AS u, doc_a AS v FROM pairs
)
, reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b
)
, comp AS (SELECT a AS doc_id, MIN(b) AS cid FROM reach GROUP BY a)
, csizes AS (SELECT cid, COUNT(*) AS cluster_size FROM comp GROUP BY cid)
SELECT cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       MIN(cid) AS first_component
FROM csizes
GROUP BY cluster_size
""",
)
def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q_dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        F.min("component_id").alias("first_component"),
    )


# ----------------------------------------------------------------------
# Paragraph-level exact dedup (CCNet / Lee et al. "Deduplicating
# Training Data Makes Language Models Better", at paragraph rather than
# 50-token granularity): hash every paragraph, keep only the corpus-wide
# FIRST occurrence (min (doc_id, pos)), and report each document's
# retained text. The reference's closest analog is its duplicate-address
# collapse (first-authoritative-row wins, tasks/pdx_addrs.rake) — here
# the unit is a paragraph of web text, not an address row.
#
# Paragraph = 10-token chunk of the whitespace token stream (real crawls
# split on '\n\n'; the synth corpus carries no newlines, so the chunker
# IS the paragraphizer — same downstream shape either way: the chunking
# is pure map-side codegen, no shuffle).
#
# Scale shape at 10^12 docs: chunk map-side (zero shuffle) → ONE
# partial/final hash agg keyed paragraph-md5 computing min(struct(doc,
# pos)) (map-side combinable — the heavy tail of boilerplate paragraphs
# collapses before the exchange) → corpus-to-corpus hash join back on
# the md5 key (co-partitioned sort-merge at scale; AQE may broadcast at
# gate SF) → one doc-keyed agg for the reassembly. No window over the
# corpus, no self-join on text.
#
# first_key = doc_id*100000 + pos is exact: pos < n_tokens/10 and the
# synth documents are bounded well under 10^6 tokens (production: use
# min(struct(doc_id, pos)) — kept SQL-portable here so the oracle's MIN
# is the identical integer).
PARA_TOKENS = 10


@register(
    "paragraph_dedup",
    f"""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    paras AS (
      SELECT doc_id,
             UNNEST(range(0, CAST(CEIL(len(ws) / {PARA_TOKENS}.0) AS BIGINT))) AS pos,
             ws
      FROM ws
    ), p2 AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             array_to_string(
               ws[CAST(pos * {PARA_TOKENS} + 1 AS BIGINT)
                  : CAST(LEAST((pos + 1) * {PARA_TOKENS}, len(ws)) AS BIGINT)],
               ' ') AS para
      FROM paras
    ), firsts AS (
      SELECT md5(para) AS ph, MIN(doc_id * 100000 + pos) AS first_key
      FROM p2 GROUP BY 1
    ), kept_agg AS (
      SELECT p.doc_id, COUNT(*) AS n_kept,
             string_agg(p.para, ' ' ORDER BY p.pos) AS clean
      FROM p2 p JOIN firsts f ON md5(p.para) = f.ph
      WHERE p.doc_id * 100000 + p.pos = f.first_key
      GROUP BY p.doc_id
    ), tot AS (SELECT doc_id, COUNT(*) AS n_paras FROM p2 GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_paras AS BIGINT) AS n_paras,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(k.clean, '')) AS clean_md5,
           CAST(length(COALESCE(k.clean, '')) AS BIGINT) AS clean_len
    FROM tot t LEFT JOIN kept_agg k USING (doc_id)
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # chunking is pure codegen; staged because three subtrees consume it
    # (firsts agg, join-back probe, per-doc totals) and ReuseExchange
    # only dedupes identical subtrees.
    paras = stage(
        spark,
        (session_token(spark), sf_dir, "paras"),
        lambda: spark.table("documents").selectExpr(
            "doc_id",
            f"""posexplode(transform(
                  sequence(0, (size(split(text, ' ')) + {PARA_TOKENS - 1})
                              div {PARA_TOKENS} - 1),
                  i -> array_join(slice(split(text, ' '),
                                        i * {PARA_TOKENS} + 1,
                                        {PARA_TOKENS}), ' ')
                )) AS (pos, para)""",
        ).select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            "para",
            F.md5(F.col("para").cast("binary")).alias("ph"),
        ),
    )
    firsts = paras.groupBy("ph").agg(
        F.min(F.col("doc_id") * 100000 + F.col("pos")).alias("first_key")
    )
    kept = (
        paras.join(firsts, "ph")
        .where(F.col("doc_id") * 100000 + F.col("pos") == F.col("first_key"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
            ).alias("clean"),
        )
    )
    tot = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    return tot.join(kept, "doc_id", "left").select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.md5(F.coalesce(F.col("clean"), F.lit("")).cast("binary")).alias(
            "clean_md5"
        ),
        F.length(F.coalesce(F.col("clean"), F.lit(""))).cast("long").alias(
            "clean_len"
        ),
    )


# ----------------------------------------------------------------------
# Training-sequence packing (GPT-style concat-and-chunk): concatenate
# each shard's token stream in a deterministic order and cut it every
# SEQ_LEN tokens; report, per document, which training sequences it
# lands in. This is the final pretraining-data step after filtering and
# dedup (Brown et al. 2020 pack-and-chunk; the reference's closest
# analog is its ordered per-tile export, lib/tasks export ordering).
#
# Scale shape at 10^12 docs: shard = md5(doc_id) % NSHARDS is a pure
# map-side expression; the ONLY shuffle is the hash exchange on shard,
# and the running offset is a partition-local window (each shard sorts
# locally — at production NSHARDS is chosen so a shard fits an executor
# spill budget; the window never crosses shards). No join, no corpus
# self-reference, one pass.
PACK_SEQ_LEN = 64
PACK_NSHARDS = 8
_PK_H_DUCK = _h60_sql("md5('pk:' || CAST(doc_id AS VARCHAR))", "strpos")
_PK_H_SPARK = _h60_sql(
    "md5(cast(concat('pk:', cast(doc_id as string)) as binary))", "instr"
)


@register(
    "pack_sequences",
    f"""
    WITH d AS (
      SELECT doc_id,
             {_PK_H_DUCK} % {PACK_NSHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_off,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {PACK_SEQ_LEN} AS BIGINT) AS seq_first,
           CAST((COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + n_tokens - 1) // {PACK_SEQ_LEN}
           - COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {PACK_SEQ_LEN} + 1 AS BIGINT) AS n_seqs
    FROM d
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    d = spark.table("documents").select(
        "doc_id",
        (F.expr(_PK_H_SPARK) % PACK_NSHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Wnd.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Wnd.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.cast("long").alias("start_off"),
        (start.cast("long") / PACK_SEQ_LEN).cast("long").alias("seq_first"),
        (
            ((start + F.col("n_tokens") - 1).cast("long") / PACK_SEQ_LEN)
            .cast("long")
            - (start.cast("long") / PACK_SEQ_LEN).cast("long")
            + 1
        ).cast("long").alias("n_seqs"),
    )


# ----------------------------------------------------------------------
# Cluster-representative selection: for every near-dup component keep
# the highest-quality copy (max n_chars, doc_id tiebreak) — the policy
# step between clustering and the training set ("dedup keeps the best
# copy", Penedo et al. RefinedWeb §4). Reference analog: the
# authoritative-row-wins collapse in tasks/pdx_addrs.rake.
#
# Scale shape: one corpus-keyed equi join (labels ⋈ documents on
# doc_id — co-partitioned sort-merge at scale) and ONE map-side-
# combinable agg: min(struct(-n_chars, doc_id)) per component plus the
# size count. No window over the corpus; the oracle deliberately uses
# the opposite formulation (recursive closure + row_number window) so a
# hash match certifies semantics, not implementation.
@register(
    "dedup_keep_best",
    "WITH RECURSIVE "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + _MINHASH_DUCK
    + _LSH_DUCK
    + f"""
, pairs AS (
  SELECT doc_a, doc_b FROM jac
  WHERE CAST(FLOOR(inter * 1000000e0 / uni) AS BIGINT) >= {JACCARD_PPM_MIN}
)
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b AS u, doc_a AS v FROM pairs
)
, reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b
)
, comp AS (SELECT a AS doc_id, MIN(b) AS cid FROM reach GROUP BY a)
, ranked AS (
  SELECT c.cid, d.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cid
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.cid) AS cluster_size
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT cid AS component_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       doc_id AS kept_doc,
       CAST(n_chars AS BIGINT) AS kept_n_chars,
       CAST(cluster_size - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q_dedup_components(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "n_chars")
    best = (
        comp.join(docs, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("neg"),
                    F.col("doc_id").alias("doc_id"),
                )
            ).alias("b"),
        )
    )
    return best.select(
        "component_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("b.doc_id").alias("kept_doc"),
        (-F.col("b.neg")).cast("long").alias("kept_n_chars"),
        (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
    )


# ----------------------------------------------------------------------
# Per-source boilerplate removal (CCNet §3.1 / RefinedWeb line-dedup):
# a paragraph that appears in ≥ BP_MIN_DOCS distinct documents of the
# SAME source is boilerplate (nav bars, footers, cookie banners) and is
# stripped from every document of that source; report each document's
# retained text. Differs from paragraph_dedup (global first-occurrence
# wins) — here repetition WITHIN a source kills ALL occurrences.
# BP_MIN_DOCS is an absolute count at gate SF; production uses a
# fraction of the source's doc count — same plan shape.
#
# Scale shape at 10^12 docs: chunking is map-side codegen (zero
# shuffle); per-(source, ph, doc) then per-(source, ph) counts are two
# partial/final hash aggs (the boilerplate heavy tail collapses
# map-side); the kill set returns via a co-partitioned LEFT ANTI join
# on (source, ph); one doc-keyed agg reassembles. No window over the
# corpus, no self-join on text.
BP_MIN_DOCS = 2
_PARAS_SRC_DUCK = f"""
ws AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
paras AS (
  SELECT doc_id, source,
         UNNEST(range(0, CAST(CEIL(len(ws) / {PARA_TOKENS}.0) AS BIGINT))) AS pos,
         ws
  FROM ws
), p2 AS (
  SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
         array_to_string(
           ws[CAST(pos * {PARA_TOKENS} + 1 AS BIGINT)
              : CAST(LEAST((pos + 1) * {PARA_TOKENS}, len(ws)) AS BIGINT)],
           ' ') AS para
  FROM paras
)
"""


@register(
    "boilerplate_remove",
    "WITH "
    + _PARAS_SRC_DUCK
    + f"""
, bp AS (
  SELECT source, md5(para) AS ph
  FROM p2
  GROUP BY source, md5(para)
  HAVING COUNT(DISTINCT doc_id) >= {BP_MIN_DOCS}
), kept_agg AS (
  SELECT p.doc_id, COUNT(*) AS n_kept,
         string_agg(p.para, ' ' ORDER BY p.pos) AS clean
  FROM p2 p
  WHERE NOT EXISTS (
    SELECT 1 FROM bp b
    WHERE b.source = p.source AND b.ph = md5(p.para)
  )
  GROUP BY p.doc_id
), tot AS (SELECT doc_id, COUNT(*) AS n_paras FROM p2 GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_paras AS BIGINT) AS n_paras,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       md5(COALESCE(k.clean, '')) AS clean_md5,
       CAST(length(COALESCE(k.clean, '')) AS BIGINT) AS clean_len
FROM tot t LEFT JOIN kept_agg k USING (doc_id)
""",
)
def q_boilerplate_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # staged: three consumers (kill-set agg, anti-join probe, totals)
    paras = stage(
        spark,
        (session_token(spark), sf_dir, "paras_src"),
        lambda: spark.table("documents").selectExpr(
            "doc_id",
            "source",
            f"""posexplode(transform(
                  sequence(0, (size(split(text, ' ')) + {PARA_TOKENS - 1})
                              div {PARA_TOKENS} - 1),
                  i -> array_join(slice(split(text, ' '),
                                        i * {PARA_TOKENS} + 1,
                                        {PARA_TOKENS}), ' ')
                )) AS (pos, para)""",
        ).select(
            "doc_id",
            "source",
            F.col("pos").cast("long").alias("pos"),
            "para",
            F.md5(F.col("para").cast("binary")).alias("ph"),
        ),
    )
    # two-stage distinct-doc count: both aggs are map-side combinable
    # (never a planner Expand like countDistinct)
    bp = (
        paras.select("source", "ph", "doc_id")
        .groupBy("source", "ph", "doc_id")
        .agg(F.lit(1).alias("one"))
        .groupBy("source", "ph")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= BP_MIN_DOCS)
        .select("source", "ph")
    )
    kept = (
        paras.join(bp, ["source", "ph"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
            ).alias("clean"),
        )
    )
    tot = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    return tot.join(kept, "doc_id", "left").select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.md5(F.coalesce(F.col("clean"), F.lit("")).cast("binary")).alias(
            "clean_md5"
        ),
        F.length(F.coalesce(F.col("clean"), F.lit(""))).cast("long").alias(
            "clean_len"
        ),
    )


# ----------------------------------------------------------------------
# BPE merge training: the first K byte-pair-encoding merges over the
# corpus vocabulary — the tokenizer-training step proper (vocab_topk
# counts terms, colloc_pmi_topk finds multi-word units; this learns the
# subword merge table). Classic word-level BPE (Sennrich et al. 2016):
# one corpus pass builds the (word, freq) table; every one of the K
# merge rounds then runs on that VOCABULARY-sized relation only —
# adjacent-symbol pair counts (freq-weighted partial/final hash agg),
# global argmax (cnt DESC, pair ASC — deterministic tie-break), apply
# the merge, repeat. The corpus is never rescanned and never shuffled;
# at 10^12 tokens the vocab relation is ~1e7 rows, so the K rounds are
# a rounding error next to the single corpus agg. The K argmax rows
# (one per round) are collected to the driver because each merge
# decision is inherently sequential input to the next round's replace —
# the same bounded driver state as dedup_components' convergence
# checksum, NOT a driver-side data loop.
#
# The merge itself must be left-to-right non-overlapping on symbol
# boundaries in BOTH engines with plain (non-regex) replace — RE2 in
# DuckDB has no lookbehind, so the shared trick is the doubled-space
# canonical form: in ' ' || replace(seq,' ','  ') || ' ' every
# occurrence of ' s1  s2 ' is delimiter-disjoint from its neighbors
# (adjacent matches share no spaces), one replace() pass merges all
# non-overlapping occurrences greedily left-to-right (exactly BPE's
# semantics, e.g. 'a a a' -> 'aa a'), and collapsing '  '->' ' + trim
# restores the canonical single-space form.

BPE_K = 10


def _bpe_oracle(k: int) -> str:
    parts = [
        "WITH ",
        _TOKENS_SQL_DUCK,
        r"""
, s0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' </w>' AS seq,
         COUNT(*) AS freq
  FROM tokens GROUP BY 1
)
""",
    ]
    for i in range(1, k + 1):
        parts.append(f"""
, u{i} AS (
  SELECT seq, freq, UNNEST(string_split(seq, ' ')) AS sym,
         generate_subscripts(string_split(seq, ' '), 1) AS pos
  FROM s{i - 1}
)
, p{i} AS (
  SELECT s1, s2, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, sym AS s1,
           lead(sym) OVER (PARTITION BY seq ORDER BY pos) AS s2
    FROM u{i}
  ) q WHERE s2 IS NOT NULL GROUP BY 1, 2
)
, b{i} AS (
  SELECT CAST({i} AS BIGINT) AS step, s1, s2, cnt
  FROM p{i} ORDER BY cnt DESC, s1, s2 LIMIT 1
)
, s{i} AS (
  SELECT trim(replace(
           replace(' ' || replace(w.seq, ' ', '  ') || ' ',
                   ' ' || b.s1 || '  ' || b.s2 || ' ',
                   ' ' || b.s1 || b.s2 || ' '),
           '  ', ' ')) AS seq, w.freq
  FROM s{i - 1} w CROSS JOIN b{i} b
)
""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM b{i}" for i in range(1, k + 1))
    parts.append(
        f"\nSELECT step, s1, s2, s1 || s2 AS merged, cnt\nFROM ({union})\n"
        "ORDER BY step\n"
    )
    return "".join(parts)


def _bpe_words0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single corpus touch: (symbol-seq, freq) over distinct words."""
    return stage(
        spark,
        (session_token(spark), sf_dir, "bpe_s0"),
        lambda: (
            spark.table("documents")
            .select(F.explode(F.split("text", " ")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(
                F.expr(
                    "trim(regexp_replace(w, '(.)', '$1 ')) || ' </w>'"
                ).alias("seq"),
                "freq",
            )
        ),
    )


def _bpe_pairs(words: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-symbol pair counts — map-side zip_with
    over the split array (no position window), partial/final hash agg."""
    return (
        words.select("freq", F.split("seq", " ").alias("sy"))
        .select(
            "freq",
            F.explode(
                F.expr(
                    "zip_with(slice(sy, 1, size(sy) - 1),"
                    " slice(sy, 2, size(sy) - 1),"
                    " (x, y) -> struct(x AS s1, y AS s2))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.sum("freq").alias("cnt"))
    )


@register("bpe_merge_topk", _bpe_oracle(BPE_K))
def q_bpe_merge_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    words = _bpe_words0(spark, sf_dir)
    merges: list = []
    for step in range(1, BPE_K + 1):
        top = (
            _bpe_pairs(words)
            .orderBy(F.desc("cnt"), F.asc("s1"), F.asc("s2"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        b = top[0]
        merges.append(
            (step, b["s1"], b["s2"], b["s1"] + b["s2"], int(b["cnt"]))
        )
        pat = f" {b['s1']}  {b['s2']} "
        rep = f" {b['s1']}{b['s2']} "
        words = stage(
            spark,
            (session_token(spark), sf_dir, f"bpe_s{step}"),
            lambda w=words, pat=pat, rep=rep: w.select(
                F.trim(
                    F.replace(
                        F.replace(
                            F.concat(
                                F.lit(" "),
                                F.replace(
                                    F.col("seq"), F.lit(" "), F.lit("  ")
                                ),
                                F.lit(" "),
                            ),
                            F.lit(pat),
                            F.lit(rep),
                        ),
                        F.lit("  "),
                        F.lit(" "),
                    )
                ).alias("seq"),
                "freq",
            ),
        )
    return spark.createDataFrame(
        merges, "step long, s1 string, s2 string, merged string, cnt long"
    )


# ----------------------------------------------------------------------
# K-means fit over the embedding corpus: fixed-K, fixed-iteration
# Lloyd's — the clustering step that trains the IVF centroids
# (ann_ivf_topk consumes a centroid table; this is where one comes from
# at production) and the semantic-dedup partitioner. Integer-exact:
# vectors quantized to offset milli-units (floor(x·1000)+1000 ≥ 0, so
# floor division == truncation in Spark, DuckDB and Python alike; the
# offset cancels in every distance), squared-L2 in int64, centroid
# update = per-dim floor(sum/n). Deterministic throughout: init = the
# K lowest vec_ids, assignment ties → lowest cid.
#
# Scale shape: ONE corpus quantization (staged); each Lloyd's round is
# one map-side Arrow/numpy pass emitting ≤K partial rows per batch
# (operators/vectors.kmeans_partials — assignment never shuffles, the
# update agg moves K rows per partition) + a K-row collect of the new
# centroids (bounded driver state, inherent to the sequential rounds,
# same class as the BPE argmax). ITERS+1 corpus passes total — the
# textbook distributed-Lloyd's cost; at 10^12 vectors each pass is an
# embarrassingly parallel scan of the staged int column.

KM_K = 8
KM_ITERS = 3
KM_OFFSET = 1000


def _km_qdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage(
        spark,
        (session_token(spark), sf_dir, "km_q"),
        lambda: spark.table("embeddings").select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x * F.lit(1000.0)).cast("long")
                + F.lit(KM_OFFSET),
            ).alias("q"),
        ),
    )


def _km_oracle(k: int, iters: int, dims: int, offset: int) -> str:
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dims}),"
        " j -> (v.q[j] - c.q[j]) * (v.q[j] - c.q[j])))"
    )
    parts = [f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(x * 1000e0) AS BIGINT) + {offset}) AS q
  FROM embeddings
)
, c0 AS (SELECT vec_id AS cid, q FROM q WHERE vec_id < {k})
"""]
    for i in range(1, iters + 2):  # iters updates + 1 final assignment
        parts.append(f"""
, a{i} AS (
  SELECT vec_id, q, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rn
    FROM (SELECT v.vec_id, v.q, c.cid, {d2} AS d2
          FROM q v CROSS JOIN c{i - 1} c) d) r
  WHERE rn = 1
)
""")
        if i <= iters:
            parts.append(f"""
, c{i} AS (
  SELECT p.cid, coalesce(u.q, p.q) AS q
  FROM c{i - 1} p LEFT JOIN (
    SELECT cid, list(s ORDER BY dim) AS q FROM (
      SELECT cid, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS s
      FROM (SELECT cid, UNNEST(q) AS val,
                   generate_subscripts(q, 1) AS dim FROM a{i}) e
      GROUP BY cid, dim) g
    GROUP BY cid) u ON u.cid = p.cid
)
""")
    parts.append(f"""
SELECT CAST(t.cid AS BIGINT) AS cid, t.n_vectors, t.inertia, s.c_sig
FROM (SELECT cid, COUNT(*) AS n_vectors,
             CAST(SUM(d2) AS BIGINT) AS inertia
      FROM a{iters + 1} GROUP BY 1) t
JOIN (SELECT cid, md5(array_to_string(q, ',')) AS c_sig
      FROM c{iters}) s ON s.cid = t.cid
""")
    return "".join(parts)


@register("kmeans_fit", _km_oracle(KM_K, KM_ITERS, V.DIMS, KM_OFFSET))
def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hl

    views(spark, sf_dir)
    qdf = _km_qdf(spark, sf_dir)
    cents = [
        r["q"]
        for r in qdf.where(F.col("vec_id") < KM_K)
        .orderBy("vec_id")
        .collect()
    ]
    for _ in range(KM_ITERS):
        upd = (
            V.kmeans_partials(qdf, cents)
            .groupBy("cid")
            .agg(
                F.sum("n").alias("n"),
                *[
                    F.sum(F.element_at("sums", d + 1)).alias(f"s{d}")
                    for d in range(V.DIMS)
                ],
            )
            .collect()
        )
        new = list(cents)  # empty cluster keeps its previous centroid
        for r in upd:
            new[r["cid"]] = [
                r[f"s{d}"] // r["n"] for d in range(V.DIMS)
            ]
        cents = new
    stats = (
        V.kmeans_partials(qdf, cents)
        .groupBy("cid")
        .agg(
            F.sum("n").alias("n_vectors"),
            F.sum("inertia").alias("inertia"),
        )
    )
    sigs = spark.createDataFrame(
        [
            (k, _hl.md5(",".join(map(str, c)).encode()).hexdigest())
            for k, c in enumerate(cents)
        ],
        "cid int, c_sig string",
    )
    return stats.join(sigs, "cid").select(
        F.col("cid").cast("long").alias("cid"),
        "n_vectors",
        "inertia",
        "c_sig",
    )


# ----------------------------------------------------------------------
# LM-score quality filtering (CCNet's perplexity filter, made exact):
# train a pruned bigram LM on the corpus, score every document by its
# mean scaled conditional probability, keep docs above a threshold.
# Log-perplexity itself is float-transcendental (no two engines agree
# bit-for-bit); the integer surrogate — per-bigram
# floor(SCALE·c_xy/c_x), per-doc floor(mean) — is rank-usable for
# filtering and exact in Spark, DuckDB, and Python. Unseen/pruned
# bigrams back off to 0, which is precisely what makes the model table
# BROADCASTABLE: pruning at c_xy ≥ LM_MIN bounds it (the KenLM-pruning
# story), so the corpus-side score pass is explode → BroadcastHashJoin
# → one doc-keyed partial/final agg — the exchange carries one row per
# document, never the bigram stream. Two corpus passes total (train
# aggs, score agg).

LM_SCALE = 1_000_000
LM_MIN = 5
LM_KEEP_MIN = 34_000

_LM_ORACLE = (
    "WITH "
    + _TOKENS_SQL_DUCK
    + f"""
, bg AS (
  SELECT doc_id, w AS w1, lead(w) OVER win AS w2
  FROM tokens
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w) OVER win IS NOT NULL
)
, cxy AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2
  HAVING COUNT(*) >= {LM_MIN}
)
, cx AS (SELECT w1, COUNT(*) AS c_x FROM bg GROUP BY 1)
, lm AS (
  SELECT c.w1, c.w2,
         CAST({LM_SCALE} * c.c_xy // x.c_x AS BIGINT) AS p
  FROM cxy c JOIN cx x USING (w1)
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(coalesce(lm.p, 0)) // COUNT(*) AS BIGINT) AS lm_score,
       CAST(CASE WHEN SUM(coalesce(lm.p, 0)) // COUNT(*)
                      >= {LM_KEEP_MIN} THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM bg b LEFT JOIN lm ON lm.w1 = b.w1 AND lm.w2 = b.w2
GROUP BY 1
"""
)


def _doc_bigrams(spark: SparkSession) -> DataFrame:
    """(doc_id, w1, w2) map-side off the split array — no doc window."""
    return (
        spark.table("documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )


@register("lm_score_filter", _LM_ORACLE)
def q_lm_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # the pruned scored-bigram model: two vocabulary-sized aggs joined
    # once, staged because train and score share a session
    lm = stage(
        spark,
        (session_token(spark), sf_dir, "lm_bigram"),
        lambda: (
            _doc_bigrams(spark)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c_xy"))
            .where(F.col("c_xy") >= LM_MIN)
            .join(
                _doc_bigrams(spark)
                .groupBy("w1")
                .agg(F.count(F.lit(1)).alias("c_x")),
                "w1",
            )
            .select(
                "w1",
                "w2",
                F.expr(
                    f"CAST({LM_SCALE} * c_xy DIV c_x AS BIGINT)"
                ).alias("p"),
            )
        ),
    )
    score = F.expr("sum_p DIV n_bigrams")
    return (
        _doc_bigrams(spark)
        .join(F.broadcast(lm), ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("p"), F.lit(0))).alias("sum_p"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            score.cast("long").alias("lm_score"),
            (score >= LM_KEEP_MIN).cast("long").alias("kept"),
        )
    )


# ----------------------------------------------------------------------
# DSIR importance weighting (Xie et al., "Data Selection for Language
# Models via Importance Resampling", NeurIPS 2023): score every document
# by how much its hashed-bigram distribution looks like a TARGET domain
# (here lang='en') relative to the raw corpus. The classic recipe hashes
# n-grams into NB buckets and weights each document by the sum of
# log(p_target(b)/p_raw(b)) over its grams; the integer-exact surrogate
# used here replaces the log-ratio with the floor-scaled smoothed count
# ratio SCALE·(ct+1)/(cr+1) per bucket — the constant normalization
# (C_raw/C_target) is dropped as rank-irrelevant, and everything stays
# int64 in Spark, DuckDB, and Python. Distinct from lm_score_filter
# (generative bigram-LM score): DSIR is a CONTRASTIVE weight against a
# target distribution, and the model is bucket-hashed so its size is NB
# (a constant), not vocabulary-sized.
#
# Scale shape: the model is ONE corpus pass — a single partial/final agg
# keyed by bucket (NB=1024 groups; raw and target counts in the same
# agg via a conditional sum), always broadcastable by construction. The
# score pass is explode → bucket in codegen → BroadcastHashJoin → one
# doc-keyed partial/final agg; the exchange carries one row per doc.
# Two corpus passes total, no vocabulary-sized shuffle anywhere.

DSIR_NB = 1024
DSIR_SCALE = 1_000_000
DSIR_TARGET_LANG = "en"
# The keep threshold is DATA-DEPENDENT: the corpus-average bigram weight
# G = floor(sum of all bigram weights / total bigrams). The absolute
# weight level shifts with the target's corpus share (measured: en-doc
# mean 458.7k at sf0.01 vs 397.2k at sf0.001), so a fixed cut cannot
# split both scales; G sits between the target and non-target means by
# construction (target docs are above the average they lift). One extra
# O(#docs) rollup + a 1-row broadcast -- never a corpus pass.

_DSIR_B_SPARK = (
    f"({_h60_sql('md5(cast(concat(w1, chr(31), w2) as binary))', 'instr')}"
    f" % {DSIR_NB})"
)
_DSIR_B_DUCK = f"({_h60_sql('md5(w1 || chr(31) || w2)', 'strpos')} % {DSIR_NB})"

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang,
         UNNEST(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
)
, bg AS (
  SELECT doc_id, lang, w AS w1, lead(w) OVER win AS w2
  FROM tok
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w) OVER win IS NOT NULL
)
, bb AS (
  SELECT doc_id, lang, {_DSIR_B_DUCK} AS b FROM bg
)
, model AS (
  SELECT b,
         CAST({DSIR_SCALE} * (SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                                       THEN 1 ELSE 0 END) + 1)
              // (COUNT(*) + 1) AS BIGINT) AS wgt
  FROM bb GROUP BY b
)
, per AS (
  SELECT bb.doc_id, COUNT(*) AS n_bigrams, SUM(m.wgt) AS sum_w
  FROM bb JOIN model m USING (b)
  GROUP BY bb.doc_id
)
, gt AS (
  SELECT CAST(SUM(sum_w) // SUM(n_bigrams) AS BIGINT) AS g FROM per
)
SELECT doc_id, n_bigrams,
       CAST(sum_w // n_bigrams AS BIGINT) AS dsir_weight,
       CAST(CASE WHEN sum_w // n_bigrams >= g THEN 1 ELSE 0 END AS BIGINT)
         AS kept
FROM per, gt
"""


@register("dsir_importance", _DSIR_ORACLE)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    bl = (
        spark.table("documents")
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("bgr"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("bgr.w1").alias("w1"),
            F.col("bgr.w2").alias("w2"),
        )
        .select("doc_id", "lang", F.expr(_DSIR_B_SPARK).alias("b"))
    )
    model = stage(
        spark,
        (session_token(spark), sf_dir, "dsir_model"),
        lambda: bl.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("ct"),
        )
        .select(
            "b",
            F.expr(
                f"CAST({DSIR_SCALE} * (ct + 1) DIV (cr + 1) AS BIGINT)"
            ).alias("wgt"),
        ),
    )
    # per-doc totals staged: they feed both the output and the global
    # threshold rollup (two consumers of one corpus-pass result)
    per = stage(
        spark,
        (session_token(spark), sf_dir, "dsir_scores"),
        lambda: bl.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("wgt").alias("sum_w"),
        ),
    )
    gt = per.agg(F.expr("CAST(SUM(sum_w) DIV SUM(n_bigrams) AS BIGINT)").alias("g"))
    score = F.expr("sum_w DIV n_bigrams")
    return per.crossJoin(F.broadcast(gt)).select(
        "doc_id",
        "n_bigrams",
        score.cast("long").alias("dsir_weight"),
        (score >= F.col("g")).cast("long").alias("kept"),
    )


# ----------------------------------------------------------------------
# Asymmetric containment dedup: score = |A∩B| / min(|A|, |B|) — the
# doc-in-doc detector (quote pages, aggregator wrappers, boilerplate
# supersets) that symmetric Jaccard structurally misses: a 100-shingle
# page fully contained in a 10,000-shingle page scores ~1% Jaccard but
# 100% containment. Same scale machinery as dedup_ngram_jaccard (one
# distinct-shingle stage, rare-gram blocking bounds candidates to
# (df≤RARE_DF_MAX choose 2) per gram, candidate-doc semi-join prunes
# the refine) — only the final score differs, so the blocking recall
# characteristics are shared and tested once.

CONTAIN_PPM_MIN = 600_000  # |A∩B| ≥ 60% of the smaller doc


@register(
    "dedup_containment",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + f"""
    , dsh AS (SELECT DISTINCT doc_id, sh FROM shingles)
    , rare AS (
      SELECT sh FROM dsh GROUP BY sh
      HAVING COUNT(*) BETWEEN 2 AND {RARE_DF_MAX}
    )
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM dsh a JOIN rare r ON a.sh = r.sh
      JOIN dsh b ON b.sh = a.sh AND a.doc_id < b.doc_id
    )
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id)
    , sc AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter,
             LEAST(sa.n, sb.n) AS nmin
      FROM cand c
      JOIN dsh x ON x.doc_id = c.doc_a
      JOIN dsh y ON y.doc_id = c.doc_b AND y.sh = x.sh
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(inter * 1000000e0 / nmin) AS BIGINT) AS contain_ppm
    FROM sc
    WHERE CAST(FLOOR(inter * 1000000e0 / nmin) AS BIGINT)
          >= {CONTAIN_PPM_MIN}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    dsh = _dsh_df(spark, sf_dir)
    rare = (
        dsh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(2, RARE_DF_MAX))
        .select("sh")
    )
    blocked = dsh.join(rare, "sh")
    a = blocked.select(F.col("doc_id").alias("doc_a"), "sh")
    b = blocked.select(F.col("doc_id").alias("doc_b"), "sh")
    cand = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _pair_inter_sizes(spark, sf_dir, cand, prefer_broadcast=False)
        .withColumn("nmin", F.least(F.col("na"), F.col("nb")))
        .withColumn(
            "contain_ppm",
            F.floor(F.col("inter") * F.lit(1000000.0) / F.col("nmin"))
            .cast("long"),
        )
        .where(F.col("contain_ppm") >= CONTAIN_PPM_MIN)
        .select("doc_a", "doc_b", "contain_ppm")
    )


# ----------------------------------------------------------------------
# score_normalize: per-language winsorized min-max normalization of a
# per-doc quality signal (n_chars here; any integer score in
# production) — the calibration step before mixing quality-filtered
# corpora across languages, where raw score scales differ per lang.
# Exact P05/P95 per lang from an integer histogram; scores clamp to
# [lo, hi] and map to 0..1e6 ppm by integer floor division.
#
# Scale shape: ONE partial/final (lang, score) histogram agg bounds the
# windowed work to distinct-score rows per lang (≤ max doc length —
# corpus-size-independent); the cumulative window partitions by lang
# over that bounded table; the per-lang (lo, hi) row broadcasts back
# onto the corpus for a pure map pass. The corpus is never shuffled and
# never windowed. hi = lo (degenerate lang) yields 0 ppm by rule.

NORM_P_LO = 5
NORM_P_HI = 95


@register(
    "score_normalize",
    f"""
    WITH hist AS (
      SELECT lang, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ), cum AS (
      SELECT lang, n_chars, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS n
      FROM hist
    ), bounds AS (
      SELECT lang,
             MIN(CASE WHEN 100 * cum >= {NORM_P_LO} * n THEN n_chars END)
               AS lo,
             MIN(CASE WHEN 100 * cum >= {NORM_P_HI} * n THEN n_chars END)
               AS hi
      FROM cum GROUP BY lang
    )
    SELECT d.doc_id, d.lang, b.lo, b.hi,
           CASE WHEN b.hi = b.lo THEN 0
                ELSE (1000000 * (LEAST(GREATEST(d.n_chars, b.lo), b.hi)
                                 - b.lo)) // (b.hi - b.lo)
           END AS norm_ppm
    FROM documents d JOIN bounds b ON d.lang = b.lang
    """,
)
def q_score_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    docs = spark.table("documents")
    hist = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    lw = Wnd.partitionBy("lang")
    cum = hist.select(
        "lang",
        "n_chars",
        F.sum("c")
        .over(lw.orderBy("n_chars").rowsBetween(Wnd.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(lw).alias("n"),
    )
    bounds = cum.groupBy("lang").agg(
        F.min(
            F.when(F.expr(f"100 * cum >= {NORM_P_LO} * n"), F.col("n_chars"))
        ).alias("lo"),
        F.min(
            F.when(F.expr(f"100 * cum >= {NORM_P_HI} * n"), F.col("n_chars"))
        ).alias("hi"),
    )
    return docs.join(F.broadcast(bounds), "lang").select(
        "doc_id",
        "lang",
        "lo",
        "hi",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "(1000000 * (LEAST(GREATEST(n_chars, lo), hi) - lo)) "
                "div (hi - lo)"
            )
        )
        .alias("norm_ppm"),
    )


# ----------------------------------------------------------------------
# embedding_gram: exact second-moment (Gram) matrix of the quantized
# embedding corpus — the bounded-size statistic PCA / whitening /
# covariance all derive from (cov = (G − s·sᵀ/n)/n needs only G plus
# the column-sum vector; both come from the same partials pass). Output
# is the upper triangle (i ≤ j, 0-based), dims·(dims+1)/2 = 2080 rows.
#
# Scale shape: the one operator family where a vectorized Arrow kernel
# IS the scale path — a per-dim-pair JVM expression tree (64² terms)
# blows Janino's method limit (measured for the 8×64 LSH signature,
# operators/vectors.py:with_sig), while the numpy syrk per batch emits
# ONE 2080-row partial per Arrow batch. The corpus never shuffles; the
# final SUM agg is over bounded partials. int64-exact end-to-end (see
# gram_partials for the ≤10^12-row overflow budget).
@register(
    "embedding_gram",
    """
    WITH eq AS (
      SELECT list_transform(embedding,
                            x -> CAST(FLOOR(x * 1000e0) AS BIGINT)) AS q
      FROM embeddings
    )
    SELECT i.i, j.j, CAST(SUM(q[i.i + 1] * q[j.j + 1]) AS BIGINT) AS g
    FROM eq, range(0, 64) i(i), range(0, 64) j(j)
    WHERE i.i <= j.j
    GROUP BY i.i, j.j
    """,
)
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    eq = spark.table("embeddings").select(
        V.quantize_expr("embedding").alias("q")
    )
    return (
        V.gram_partials(eq)
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )


# ----------------------------------------------------------------------
# skyline_pareto: the Pareto frontier of the corpus under two quality
# axes — documents not dominated by any other on (n_chars, n_types)
# where n_types = distinct-token count (a doc dominates another iff ≥
# on both axes and > on at least one). The multi-objective counterpart
# of lm_score_filter's single-score cut: the frontier is what a data-
# mixing policy inspects when no single score orders the corpus.
#
# Scale shape: the classic skyline trick — the corpus CONTRACTS to the
# per-x maxima first (one partial/final hash agg, bounded by distinct
# n_chars values, corpus-size-independent), the strictly-greater-x
# suffix maximum runs as a window over that bounded table only, and
# the bounded frontier-level table broadcasts back onto the corpus for
# a map-side filter. The corpus is never windowed and never shuffled.
# Oracle: the algorithm-independent NOT EXISTS domination scan.
@register(
    "skyline_pareto",
    """
    WITH d AS (
      SELECT doc_id, n_chars,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_types
      FROM documents
    )
    SELECT a.doc_id, a.n_chars, a.n_types
    FROM d a
    WHERE NOT EXISTS (
      SELECT 1 FROM d b
      WHERE b.n_chars >= a.n_chars AND b.n_types >= a.n_types
        AND (b.n_chars > a.n_chars OR b.n_types > a.n_types)
    )
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    d = spark.table("documents").select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("n_types"),
    )
    perx = d.groupBy("n_chars").agg(F.max("n_types").alias("my"))
    # suffix max of my over strictly greater x — window over the
    # BOUNDED per-x table (distinct n_chars), same discipline as
    # global_rank's offset table; partitionBy(lit(1)) keeps the intent
    # explicit (single bounded partition, never the corpus).
    w = (
        Wnd.partitionBy(F.lit(1))
        .orderBy(F.col("n_chars").desc())
        .rowsBetween(Wnd.unboundedPreceding, -1)
    )
    levels = perx.select(
        "n_chars", "my", F.max("my").over(w).alias("sup")
    )
    return (
        d.join(F.broadcast(levels), "n_chars")
        .where(
            (F.col("n_types") == F.col("my"))
            & (F.col("sup").isNull() | (F.col("n_types") > F.col("sup")))
        )
        .select("doc_id", "n_chars", "n_types")
    )


# ----------------------------------------------------------------------
# tfidf_topk: per-document top-K terms by TF-IDF — the retrieval /
# keyword-extraction companion to vocab_topk (corpus-global) and
# bm25_topk (query-scoring). Integer-exact cross-engine: the float
# log-IDF is replaced by the order-equivalent scaled rational
# score = tf · N · 10^6 div df (floor division; monotone in tf·N/df,
# ties pinned by term text), so both engines rank identical int64s —
# no log, no float. Bounds: tf ≤ doc tokens, N = corpus docs; the
# product stays far inside int64 at any SF this repo targets (1e4 tf ·
# 1e9 docs would need the DECIMAL variant — noted, not needed).
#
# Scale shape: ONE (doc, term) hash agg for tf (partial/final), ONE
# term-keyed distinct agg for df (vocab-bounded output), the N scalar
# via a 1-row broadcast cross join, tf ⋈ df on term (vocab-bounded
# build side — broadcast at gate scale, plain shuffle hash join at
# corpus vocab scale), and the per-doc top-K via a window PARTITIONED
# BY doc_id — bounded by the doc's own vocabulary, never the corpus.
N_TFIDF_TOP = 3

_TFIDF_ORACLE = (
    "WITH "
    + _TOKENS_SQL_DUCK
    + f"""
, tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tokens GROUP BY 1, 2)
, dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1)
, nd AS (SELECT COUNT(*) AS n_docs FROM documents)
, scored AS (
  SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
         CAST(tf.tf * nd.n_docs * 1000000 // dfreq.df AS BIGINT) AS score
  FROM tf JOIN dfreq USING (w) CROSS JOIN nd
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, w) AS rn
  FROM scored
)
SELECT doc_id, w, tf, df, score FROM r WHERE rn <= {N_TFIDF_TOP}
"""
)


@register("tfidf_topk", _TFIDF_ORACLE)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    toks = _tokens(spark).select("doc_id", "w")
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    nd = spark.table("documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "w",
            "tf",
            "df",
            F.expr("tf * n_docs * 1000000L div df").alias("score"),
        )
    )
    w = Wnd.partitionBy("doc_id").orderBy(F.desc("score"), "w")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= N_TFIDF_TOP)
        .select("doc_id", "w", "tf", "df", "score")
    )


# ----------------------------------------------------------------------
# bloom_dedup_probe: Bloom-filter membership pre-screen for incremental
# dedup — build a Bloom filter over the already-ingested corpus's text
# hashes (docs with doc_id % 3 != 0 stand in for "yesterday"), probe
# each new doc (doc_id % 3 == 0) and report the bloom verdict alongside
# ground truth, so false positives are first-class output (the filter
# never false-negatives — asserted by the oracle match itself: every
# true_dup=1 row must carry bloom_hit=1 in both engines).
#
# Construction is the textbook k-hash/m-bit filter via Kirsch-
# Mitzenmacher double hashing: pos_i = (h1 + i·h2) mod m, h1/h2 = two
# independent 60-bit integers from ONE md5 per doc (nibbles 0-14 and
# 15-29). The "bitset" is expressed relationally as the DISTINCT
# position set — semantically identical, and bounded by m rows.
#
# Scale shape: the filter build is one map pass + a distinct bounded at
# m rows (at 100 TB, m is sized n·k/ln2 and the distinct-position
# relation IS the broadcast bitmap — a few hundred MB for billions of
# keys; the production refinement packs it into int64 words via a
# bitwise-OR agg, same semantics). The probe side is a k-row map-side
# explode + BROADCAST left join + one doc-keyed count agg — the corpus
# never shuffles by position. Ground truth is the md5-keyed
# co-partitioned join (the dedup_incremental shape), NOT broadcast —
# the seen-hash relation is corpus-sized.
BLOOM_M = 8192  # bits; gate-scale (synth corpus ~hundreds of seen docs)
BLOOM_K = 4

_BLOOM_H1 = _h60_sql("m", "strpos", 0)
_BLOOM_H2 = _h60_sql("m", "strpos", 15)

_BLOOM_ORACLE = f"""
WITH d AS (SELECT doc_id, md5(text) AS m FROM documents),
seen AS (SELECT doc_id, m FROM d WHERE doc_id % 3 <> 0),
cand AS (SELECT doc_id, m FROM d WHERE doc_id % 3 = 0),
ii AS (SELECT UNNEST([0, 1, 2, 3]) AS i),
spos AS (
  SELECT DISTINCT ({_BLOOM_H1} + i * {_BLOOM_H2}) % {BLOOM_M} AS pos
  FROM seen, ii
),
cpos AS (
  SELECT DISTINCT doc_id, ({_BLOOM_H1} + i * {_BLOOM_H2}) % {BLOOM_M} AS pos
  FROM cand, ii
),
per AS (
  SELECT c.doc_id, COUNT(*) AS n_probe, COUNT(s.pos) AS n_hit
  FROM cpos c LEFT JOIN spos s ON c.pos = s.pos GROUP BY 1
),
sh AS (SELECT DISTINCT m FROM seen)
SELECT cand.doc_id,
       CAST(CASE WHEN per.n_hit = per.n_probe THEN 1 ELSE 0 END
            AS BIGINT) AS bloom_hit,
       CAST(CASE WHEN sh.m IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS true_dup
FROM cand JOIN per USING (doc_id) LEFT JOIN sh ON cand.m = sh.m
"""


@register("bloom_dedup_probe", _BLOOM_ORACLE)
def q_bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    d = spark.table("documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("m")
    )
    h1 = F.expr(_h60_sql("m", "instr", 0))
    h2 = F.expr(_h60_sql("m", "instr", 15))
    i = F.explode(F.array(*[F.lit(k) for k in range(BLOOM_K)])).alias("i")
    seen = d.where(F.col("doc_id") % 3 != 0)
    cand = d.where(F.col("doc_id") % 3 == 0)
    spos = (
        seen.select(h1.alias("h1"), h2.alias("h2"), i)
        .select(((F.col("h1") + F.col("i") * F.col("h2")) % BLOOM_M).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cpos = (
        cand.select("doc_id", h1.alias("h1"), h2.alias("h2"), i)
        .select(
            "doc_id",
            ((F.col("h1") + F.col("i") * F.col("h2")) % BLOOM_M).alias("pos"),
        )
        .distinct()
    )
    per = (
        cpos.join(F.broadcast(spos), "pos", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.count("hit").alias("n_hit"),
        )
    )
    sh = seen.select("m").distinct().withColumn("dup", F.lit(1))
    return (
        cand.join(per, "doc_id")
        .join(sh, "m", "left")  # md5-keyed shuffle join: seen is corpus-sized
        .select(
            "doc_id",
            (F.col("n_hit") == F.col("n_probe"))
            .cast("long")
            .alias("bloom_hit"),
            F.col("dup").isNotNull().cast("long").alias("true_dup"),
        )
    )


# ----------------------------------------------------------------------
# token_diversity: per-document lexical-diversity card — type-token
# ratio and the Gini IMPURITY of the unigram distribution (1 − Σp²),
# both in exact integer ppm. Impurity is the rational stand-in for
# Shannon entropy (no cross-engine float log): impurity_ppm =
# (n² − Σc_w²)·10^6 // n², monotone in the same "how repetitive is
# this doc" direction, exact in int64 for any doc under ~3M tokens
# (n² ≤ 9·10^12 · 10^6 ⇒ use the DECIMAL variant beyond that — noted).
#
# Scale shape: tokens → (doc, w) counts is one partial/final hash agg;
# the per-doc rollup (Σc, count, Σc²) is a second — both map-side
# combinable, no window, no join, pure codegen.
_DIVERSITY_ORACLE = (
    "WITH "
    + _TOKENS_SQL_DUCK
    + """
, tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tokens GROUP BY 1, 2)
, d AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_types,
         CAST(SUM(c * c) AS BIGINT) AS sumsq
  FROM tc GROUP BY 1
)
SELECT doc_id, n_tokens, n_types,
       CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
       CAST((n_tokens * n_tokens - sumsq) * 1000000
            // (n_tokens * n_tokens) AS BIGINT) AS impurity_ppm
FROM d
"""
)


@register("token_diversity", _DIVERSITY_ORACLE)
def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    tc = (
        _tokens(spark)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.expr("n_types * 1000000L div n_tokens").alias("ttr_ppm"),
        F.expr(
            "(n_tokens * n_tokens - sumsq) * 1000000L"
            " div (n_tokens * n_tokens)"
        ).alias("impurity_ppm"),
    )


# ----------------------------------------------------------------------
# encoding_quality: per-doc encoding-health scoring over the noisy
# corpus fixture (synth.docs_noisy injects U+FFFD replacement chars,
# C0 control chars, and legitimate non-ASCII letters on disjoint
# residues — see synth.py). The three signals a crawl-cleaning pass
# keys on: decode-failure markers (U+FFFD), control characters outside
# \t\n\r, and the non-ASCII fraction (NOT itself a defect — it
# separates real multilingual text from mojibake). Counting is the
# length-difference idiom (length(s) - length(strip(s))) — pure string
# codegen, exact in both engines; the verdict is a priority CASE.
#
# Scale shape: zero shuffles — one projection over the corpus scan,
# embarrassingly parallel; at 100 TB this is a map-only pass whose cost
# is the scan itself. Plan guard: no digest exchange / Window / Python.
_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
_NONASCII_RE = r"[^\x00-\x7F]"

_ENCQ_ORACLE = (
    synth.oracle_with("docs_noisy")
    + f"""
SELECT doc_id,
       length(text) AS n_chars,
       length(text) - length(replace(text, chr(65533), ''))
         AS n_replacement,
       length(text)
         - length(regexp_replace(text, '{_CTRL_RE}', '', 'g')) AS n_ctrl,
       CAST((length(text)
             - length(regexp_replace(text, '{_NONASCII_RE}', '', 'g')))
            * 1000000 // GREATEST(length(text), 1) AS BIGINT)
         AS nonascii_ppm,
       CASE
         WHEN length(text) - length(replace(text, chr(65533), '')) > 0
           THEN 'mojibake'
         WHEN length(text)
              - length(regexp_replace(text, '{_CTRL_RE}', '', 'g')) > 0
           THEN 'control'
         WHEN length(text)
              - length(regexp_replace(text, '{_NONASCII_RE}', '', 'g')) > 0
           THEN 'nonascii'
         ELSE 'clean'
       END AS verdict
FROM docs_noisy
"""
)


@register("encoding_quality", _ENCQ_ORACLE)
def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    d = spark.table("docs_noisy").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("�"), F.lit("")))
        ).alias("n_replacement"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", _CTRL_RE, ""))
        ).alias("n_ctrl"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", _NONASCII_RE, ""))
        ).alias("n_nonascii"),
    )
    return d.select(
        "doc_id",
        "n_chars",
        "n_replacement",
        "n_ctrl",
        F.expr(
            "n_nonascii * 1000000L div greatest(n_chars, 1L)"
        ).alias("nonascii_ppm"),
        F.when(F.col("n_replacement") > 0, "mojibake")
        .when(F.col("n_ctrl") > 0, "control")
        .when(F.col("n_nonascii") > 0, "nonascii")
        .otherwise("clean")
        .alias("verdict"),
    )


# ----------------------------------------------------------------------
# hard_negative_mine: contrastive-training hard negatives — for each
# query vector, the TOP_K most-similar corpus vectors that are NOT
# near-duplicates of it: the LSH-bucket ANN candidates (same staged
# ingest-time signatures as ann_lsh_topk, over the corpus∪clones world
# so real dup clusters exist) anti-joined against the exact
# cosine²-threshold dup pairs (the dedup_embedding_cosine predicate),
# then ranked by exact integer dot. This is the canonical "mine
# negatives near the decision boundary, but never a positive" selection
# step for embedding-model training.
#
# Scale shape: signatures and squared norms are computed once per
# vector in the staged Arrow pass; candidates are bucket-bounded (never
# all-pairs); the dup exclusion is the SAME bucket join re-filtered, so
# the anti-join's right side is |dup pairs| (tiny), broadcast; the
# final top-k window partitions over per-bucket candidate lists of the
# bounded query set. All arithmetic int64 — the oracle is exact.
_HNM_DUCK = (
    "WITH "
    + _EQC_DUCK
    + f"""
, sigs AS (SELECT vec_id, q, {_SIG_DUCK} AS sig FROM eqc)
, dup AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE CAST(list_dot_product(a.q, b.q) AS BIGINT) > 0
    AND CAST(list_dot_product(a.q, b.q) AS BIGINT)
        * CAST(list_dot_product(a.q, b.q) AS BIGINT)
        >= (({COS_TAU2_PPM} * CAST(list_dot_product(a.q, a.q) AS BIGINT))
            // 1000000)
           * CAST(list_dot_product(b.q, b.q) AS BIGINT)
)
, cand AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor,
         CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
)
, neg AS (
  SELECT c.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dot DESC, neighbor) AS rn
  FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM dup d
    WHERE (d.vec_a = c.query_id AND d.vec_b = c.neighbor)
       OR (d.vec_b = c.query_id AND d.vec_a = c.neighbor))
)
SELECT query_id, neighbor, dot, rn FROM neg WHERE rn <= {TOP_K}
"""
)


@register("hard_negative_mine", _HNM_DUCK)
def q_hard_negative_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    planes = [_plane(i) for i in range(N_PLANES)]
    sigs = stage(
        spark,
        (session_token(spark), sf_dir, "vec_sigs_clones"),
        lambda: V.with_sig(_eq_with_clones(spark), planes, norms=True),
    )
    a = sigs.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"),
        "sig", F.col("n2").alias("na2"),
    )
    b = sigs.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"),
        "sig", F.col("n2").alias("nb2"),
    )
    dup_half = (
        a.join(b, "sig")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("dot", V.dot_expr("qa", "qb"))
        .where(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot")
                >= F.floor(
                    F.lit(COS_TAU2_PPM) * F.col("na2") / F.lit(1000000)
                ).cast("long")
                * F.col("nb2")
            )
        )
        .select("vec_a", "vec_b")
    )
    # both orientations, tiny → broadcast into the anti-join
    dup = dup_half.unionByName(
        dup_half.select(
            F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b")
        )
    ).select(
        F.col("vec_a").alias("query_id"), F.col("vec_b").alias("neighbor")
    )
    qside = sigs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"), "sig"
    )
    cand = (
        qside.join(
            sigs.select(F.col("vec_id").alias("neighbor"), "q", "sig"),
            "sig",
        )
        .where(F.col("neighbor") != F.col("query_id"))
        .withColumn("dot", V.dot_expr("qa", "q"))
        .join(F.broadcast(dup), ["query_id", "neighbor"], "left_anti")
    )
    w = Wnd.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor", "dot", "rn")
    )


# ----------------------------------------------------------------------
# embedding_quantize: int8 scalar quantization of the embedding table —
# per-dimension min/max calibration, 0..255 code assignment, and the
# per-vector reconstruction-error report (the compression step ANN
# serving layers run before sharding vectors; ann_ivf/ann_lsh consume
# the float vectors, this is their storage-side companion). Exactness:
# quantization math is a fixed IEEE-double expression tree evaluated
# identically in both engines (same discipline as knn distances); codes
# are int64, errors are half-up-quantized integer ppm, sums are int64.
#
# Scale shape: calibration is ONE posexplode + partial/final agg keyed
# by the 64 dimension indices — the explode inflation is map-local and
# collapses to |dims| rows per partition before the exchange (the
# classic vector-stats shape); the calibration row (2×64 doubles) is a
# broadcast crossJoin; code assignment + error are pure higher-order-
# function codegen per row — no Python, no second corpus shuffle.
# Plan-guarded.

_QUANT_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
  FROM embeddings
), s AS (
  SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM e GROUP BY 1
), q AS (
  SELECT e.vec_id, e.v, s.mn, s.mx,
         CASE WHEN s.mx > s.mn
              THEN CAST(FLOOR((e.v - s.mn) * 255e0 / (s.mx - s.mn)
                              + 0.5e0) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS qv
  FROM e JOIN s USING (i)
), r AS (
  SELECT vec_id, qv,
         CASE WHEN mx > mn
              THEN CAST(FLOOR(ABS(v - (mn + CAST(qv AS DOUBLE) * (mx - mn)
                                        / 255e0)) * 1e6 + 0.5e0) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS err_ppm
  FROM q
)
SELECT vec_id,
       CAST(SUM(qv) AS BIGINT) AS q_sum,
       MAX(qv) AS q_max,
       CAST(SUM(err_ppm) AS BIGINT) AS err_ppm_sum
FROM r GROUP BY vec_id
"""


@register("embedding_quantize", _QUANT_ORACLE)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    emb = spark.table("embeddings")
    ex = emb.select(F.posexplode("embedding").alias("i", "v")).select(
        "i", F.col("v").cast("double").alias("v")
    )
    calib = (
        ex.groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "mn"))).alias("a"),
            F.array_sort(F.collect_list(F.struct("i", "mx"))).alias("b"),
        )
        .select(
            F.expr("transform(a, s -> s.mn)").alias("mns"),
            F.expr("transform(b, s -> s.mx)").alias("mxs"),
        )
    )
    coded = emb.crossJoin(F.broadcast(calib)).select(
        "vec_id",
        "embedding",
        "mns",
        "mxs",
        F.expr(
            """
            transform(embedding, (x, i) -> CASE
              WHEN element_at(mxs, i + 1) > element_at(mns, i + 1)
              THEN CAST(FLOOR((CAST(x AS DOUBLE) - element_at(mns, i + 1))
                   * 255e0 / (element_at(mxs, i + 1) - element_at(mns, i + 1))
                   + 0.5e0) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END)
            """
        ).alias("qv"),
    )
    errs = coded.select(
        "vec_id",
        "qv",
        F.expr(
            """
            transform(embedding, (x, i) -> CASE
              WHEN element_at(mxs, i + 1) > element_at(mns, i + 1)
              THEN CAST(FLOOR(ABS(CAST(x AS DOUBLE) - (element_at(mns, i + 1)
                   + CAST(element_at(qv, i + 1) AS DOUBLE)
                   * (element_at(mxs, i + 1) - element_at(mns, i + 1))
                   / 255e0)) * 1e6 + 0.5e0) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END)
            """
        ).alias("ev"),
    )
    zero = "CAST(0 AS BIGINT)"
    return errs.select(
        "vec_id",
        F.expr(f"aggregate(qv, {zero}, (a, x) -> a + x)").alias("q_sum"),
        F.expr("array_max(qv)").alias("q_max"),
        F.expr(f"aggregate(ev, {zero}, (a, x) -> a + x)").alias(
            "err_ppm_sum"
        ),
    )


# ----------------------------------------------------------------------
# dedup_prefix_filter: the COMPLETE similarity self-join over 3-shingle
# sets at Jaccard ≥ 0.6 via AllPairs/PPJoin prefix filtering (Xiao et
# al., WWW'08) — the guaranteed-recall counterpart of
# dedup_ngram_jaccard's rare-gram blocking (which can miss a qualifying
# pair whose every shared shingle is common; df ≤ RARE_DF_MAX is a
# heuristic). Prefix principle: order the shingle vocabulary by
# ascending document frequency (rarest first, ties by text); a set of
# size n at threshold t must match inside its first n − ⌈t·n⌉ + 1
# shingles, so ONLY prefix shingles generate candidates — provably no
# misses, and the hot tail of the vocabulary never joins.
#
# Scale shape: the rarity rank is the distributed global_rank over the
# BOUNDED vocabulary (no single-partition sort); per-doc prefix
# selection is a doc-keyed window (state = one doc's shingles); the
# candidate join runs only over prefix shingles (fan-out per shingle is
# its prefix-df, squared only for the rare head — the frequent tail is
# excluded by construction); the verify reuses dedup_ngram_jaccard's
# candidate-bounded refine. All arithmetic integer: ⌈0.6n⌉ =
# (6n + 9) div 10, threshold check inter·10 ≥ 6·union. The oracle is
# the algorithm-independent full pairwise join (feasible at gate SF;
# the engine never runs it).

PF_T10 = 6  # Jaccard threshold in tenths (0.6)
# Broadcast gate for the rank-array verify: at ~52 shingles/doc the
# per-doc array table is ≈450 B/doc serialized, so 2M docs ≈ 0.9 GB —
# comfortably under the 8 GB broadcast cap. Beyond it the verify falls
# back to the shuffle-scale inverted-index formulation (tested forced
# via monkeypatch in tests/test_prefix_filter_paths.py).
PF_BCAST_MAX_DOCS = 2_000_000


@register(
    "dedup_prefix_filter",
    "WITH "
    + _TOKENS_SQL_DUCK
    + _SHINGLES_DUCK
    + f"""
    , dsh AS (SELECT DISTINCT doc_id, sh FROM shingles)
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY 1)
    , ip AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
      FROM dsh a JOIN dsh b ON b.sh = a.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter_n,
           sa.n + sb.n - inter_n AS union_n
    FROM ip
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter_n * 10 >= {PF_T10} * (sa.n + sb.n - inter_n)
    """,
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    tok = session_token(spark)
    dsh = _dsh_df(spark, sf_dir)
    # sizes feeds the prefix cut AND both ends of the final refine, and
    # pref self-joins — stage both (lineage cut, computed once) exactly
    # like _dsh_df, or every reference re-runs the rank+window subtree.
    sizes = stage(
        spark,
        (tok, sf_dir, "pf_sizes"),
        lambda: dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")),
    )
    # the rarity rank doubles as a dense bijective shingle id — the
    # shared staged table every rank-array refine consumes (r6).
    ranked = _sh_ranked_df(spark, sf_dir)

    def _build_pref() -> DataFrame:
        wdoc = Wnd.partitionBy("doc_id").orderBy("r")
        return (
            dsh.join(ranked, "sh")
            .withColumn("p", F.row_number().over(wdoc))
            .join(sizes, "doc_id")
            .where(
                F.col("p")
                <= F.col("n") - F.expr(f"({PF_T10} * n + 9) div 10") + 1
            )
            .select("doc_id", "sh", "n", "p")
        )

    pref = stage(spark, (tok, sf_dir, "pf_prefix"), _build_pref)
    a = pref.select(F.col("doc_id").alias("doc_a"), "sh",
                    F.col("n").alias("na"), F.col("p").alias("pa"))
    b = pref.select(F.col("doc_id").alias("doc_b"), "sh",
                    F.col("n").alias("nb"), F.col("p").alias("pb"))
    pairs = a.join(b, "sh").where(
        (F.col("doc_a") < F.col("doc_b"))
        # J ≥ t implies min·10 ≥ t10·max — prune before verify
        & (F.least("na", "nb") * 10 >= PF_T10 * F.greatest("na", "nb"))
        # PPJoin positional filter (r6): shared shingles form ascending
        # subsequences of both rarity-ordered lists, so for a shared
        # shingle at positions (pa, pb), inter ≤ min(na−pa, nb−pb)+1.
        # J ≥ t ⇔ (10+t10)·inter ≥ t10·(na+nb); an occurrence failing
        # the bound cannot carry a qualifying pair, and the FIRST shared
        # occurrence has the loosest bound, so a pair qualifies iff some
        # occurrence passes — dropping failing occurrences before the
        # pair dedup loses nothing (measured sf1.0: 27.6M → 11.2M
        # occurrences, identical final output).
        & (
            (F.least(F.col("na") - F.col("pa"),
                     F.col("nb") - F.col("pb")) + F.lit(1))
            * (10 + PF_T10)
            >= PF_T10 * (F.col("na") + F.col("nb"))
        )
    )

    n_docs = sizes.count()
    if n_docs <= PF_BCAST_MAX_DOCS:
        # Broadcast-array verify (r6): per-doc sorted rank-id arrays
        # (rank is a bijection over the shingle vocabulary, so
        # |array_intersect| IS the exact shingle intersection). Verify
        # becomes two broadcast attaches + one codegen projection per
        # occurrence — no corpus-scale shuffle — and the pair dedup
        # runs over the ~0.01% of occurrences that SURVIVE the exact
        # threshold instead of over all candidates (measured sf1.0:
        # 143 s explode-verify → ~6 s; distinct input 26.4M → 2.5k).
        doc_arr = _doc_rank_arrays(spark, sf_dir)
        arr_a = doc_arr.select(F.col("doc_id").alias("doc_a"),
                               F.col("shs").alias("sa"))
        arr_b = doc_arr.select(F.col("doc_id").alias("doc_b"),
                               F.col("shs").alias("sb"))
        return (
            pairs.join(F.broadcast(arr_a), "doc_a")
            .join(F.broadcast(arr_b), "doc_b")
            .withColumn(
                "inter_n",
                F.size(F.array_intersect("sa", "sb")).cast("long"),
            )
            .withColumn("union_n",
                        F.col("na") + F.col("nb") - F.col("inter_n"))
            .where(F.col("inter_n") * 10 >= PF_T10 * F.col("union_n"))
            .select("doc_a", "doc_b", "inter_n", "union_n")
            .distinct()
        )

    # Fallback beyond the broadcast gate (the 100-TB path): candidate
    # pair dedup first, then the shuffle-scale inverted-index verify.
    cand = pairs.select("doc_a", "doc_b").distinct()
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    dsh_cand = dsh.join(cand_docs, "doc_id", "left_semi")
    x = dsh_cand.select(F.col("doc_id").alias("doc_a"), "sh")
    y = dsh_cand.select(F.col("doc_id").alias("doc_b"), "sh")
    return (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_n"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n").alias("nb")), "doc_b")
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("inter_n"))
        .where(F.col("inter_n") * 10 >= PF_T10 * F.col("union_n"))
        .select("doc_a", "doc_b", "inter_n", "union_n")
    )


# ----------------------------------------------------------------------
# reservoir_sample: weighted-priority corpus sampling per language — the
# data-mixing primitive an LLM pipeline runs to draw a fixed-size,
# quality-weighted exemplar set per stratum (Efraimidis-Spirakis A-ES
# semantics: P(doc i outranks doc j) = w_i / (w_i + w_j)).
#
# The A-ES race is expressed WITHOUT floats: a doc of integer weight w
# holds w i.i.d. 60-bit uniform keys h60(md5(doc_id:r)), r = 1..w, and
# races on the MINIMUM — the integer-exact equivalent of the
# exponential-clock formulation (min of w uniforms ~ the w-rate clock),
# so Spark and DuckDB agree bit-for-bit with no ln/pow libm exposure.
#
# Scale shape: weights are capped (RS_WMAX = 4), so the min-of-replicas
# is FOUR md5 evaluations folded by LEAST inside one codegen projection
# — no explode, no per-doc aggregation, the corpus is never shuffled.
# The per-lang smallest-K rank filter compiles to WindowGroupLimit
# (plan-guarded): each map task forwards at most K rows per lang, so
# the one exchange carries ≤ K·|langs| rows per task at any corpus
# size, and the stratum key's low cardinality (langs) is harmless
# because the heavy cut happened map-side. Weight buckets derive from
# n_chars (128-char steps, capped at 4): at gate SFs all four weights
# are live (asserted in the brute-force test).

RS_K = 16  # sample size per language stratum
RS_WMAX = 4
RS_WDIV = 128  # chars per weight step


def _rs_weight_sql() -> str:
    # n_chars / 128.0 is exact in IEEE double (power-of-two divisor)
    return (f"LEAST({RS_WMAX}, 1 + CAST(FLOOR(n_chars / {RS_WDIV}.0)"
            f" AS BIGINT))")


def _rs_key_sql(dialect: str) -> str:
    """LEAST over the w live replica hashes (replica r's key is
    h60(md5(doc_id:r))); dead replicas (r > w) alias to replica 1 so no
    NULL ever reaches LEAST (Spark and DuckDB disagree on NULL there)."""
    if dialect == "spark":
        def md5r(r: int) -> str:
            return (f"md5(cast(concat(cast(doc_id as string), ':{r}')"
                    f" as binary))")
        h = {r: _h60_sql(md5r(r), "instr") for r in range(1, RS_WMAX + 1)}
    else:
        def md5r(r: int) -> str:
            return f"md5(CAST(doc_id AS VARCHAR) || ':{r}')"
        h = {r: _h60_sql(md5r(r), "strpos") for r in range(1, RS_WMAX + 1)}
    arms = [h[1]] + [
        f"CASE WHEN w >= {r} THEN {h[r]} ELSE {h[1]} END"
        for r in range(2, RS_WMAX + 1)
    ]
    return "LEAST(" + ", ".join(arms) + ")"


@register(
    "reservoir_sample",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {_rs_weight_sql()} AS w
      FROM documents
    ),
    keyed AS (
      SELECT lang, doc_id, w, {_rs_key_sql('duckdb')} AS samp_key
      FROM d
    )
    SELECT lang, doc_id, w, samp_key,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY samp_key, doc_id) AS BIGINT) AS rn
    FROM keyed
    QUALIFY rn <= {RS_K}
    """,
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    keyed = (
        spark.table("documents")
        .select("doc_id", "lang", F.expr(_rs_weight_sql()).alias("w"))
        .select("lang", "doc_id", "w",
                F.expr(_rs_key_sql("spark")).alias("samp_key"))
    )
    w_rn = Wnd.partitionBy("lang").orderBy("samp_key", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w_rn).cast("long"))
        .where(F.col("rn") <= RS_K)
    )


# ----------------------------------------------------------------------
# doc_chunk: stride-windowed document chunking — the "split long docs
# into overlapping training windows" step every LM data pipeline runs
# between cleaning and tokenization (window CHUNK_W chars, stride
# CHUNK_STRIDE; the final window is the ragged tail). 100-TB shape:
# pure map-side codegen — ONE projection with an explode, no shuffle,
# no Python; the chunk fan-out is bounded by n_chars/stride per doc and
# parallelism stays the corpus's own partitioning. Everything crossing
# the engine boundary is exact (substring text md5s + int64 indexes);
# the n_chunks arithmetic divides by the power-of-two stride so the
# FLOOR input is an exact IEEE double in both engines.

CHUNK_W = 96       # window chars
CHUNK_STRIDE = 64  # power of two: (len-...)/64.0 is exact in double

_NCHUNKS_SQL = (
    f"CASE WHEN length(text) <= {CHUNK_W} THEN CAST(1 AS BIGINT) "
    f"ELSE CAST(1 + FLOOR((length(text) - {CHUNK_W} + {CHUNK_STRIDE - 1})"
    f" / {CHUNK_STRIDE}.0) AS BIGINT) END"
)

# shared verbatim by both dialects (identical parse → identical ops)
_CHUNK_SUB_SQL = (
    f"substring(text, CAST(1 + chunk_idx * {CHUNK_STRIDE} AS INT),"
    f" {CHUNK_W})"
)


@register(
    "doc_chunk",
    f"""
    WITH d AS (
      SELECT doc_id, text, {_NCHUNKS_SQL} AS n_chunks FROM documents
    ),
    c AS (
      SELECT doc_id, text,
             UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM d
    )
    SELECT doc_id, chunk_idx,
           CAST(length({_CHUNK_SUB_SQL}) AS BIGINT) AS chunk_len,
           md5({_CHUNK_SUB_SQL}) AS chunk_md5
    FROM c
    """,
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return (
        spark.table("documents")
        .select("doc_id", "text", F.expr(_NCHUNKS_SQL).alias("n_chunks"))
        .select(
            "doc_id",
            "text",
            F.explode(
                F.expr("sequence(CAST(0 AS BIGINT), n_chunks - 1)")
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(f"CAST(length({_CHUNK_SUB_SQL}) AS BIGINT)").alias(
                "chunk_len"
            ),
            F.expr(f"md5(CAST({_CHUNK_SUB_SQL} AS BINARY))").alias(
                "chunk_md5"
            ),
        )
    )


# ----------------------------------------------------------------------
# bigram_lm_score: CCNet-style corpus-LM quality scoring — train a
# bigram model ON the corpus itself (conditional frequency of each
# bigram given its prefix token), then score every document by the sum
# of its bigrams' integer-ppm conditional probabilities. Low scorers
# are gibberish / boilerplate candidates; the family's quality filters
# (lm_score_filter, text_quality) consume exactly this kind of signal.
#
# 100-TB shape: bigram extraction is a map-side array transform over
# the token array (NO per-doc window sort — a lead() formulation would
# shuffle+sort the full token stream on doc_id); the model is one
# partial+final hash agg on (w1,w2); c1 derives from c2 (vocab-sized,
# never rescans the stream); the per-doc stream pre-aggregates to
# (doc_id,w1,w2) BEFORE joining the model, so the join input is
# distinct-bigrams-per-doc, not token-positions. The ppm value is
# floor(1e6·k2/k1 + 0.5) — identical IEEE division both engines, exact
# while k2 < 2^33. The oracle derives bigrams via a lead() window: an
# algorithm-independent formulation of the same relation.

_BG_PPM_SQL = (
    "CAST(FLOOR(k2 * 1000000.0 / k1 + 0.5) AS BIGINT)"
)


def _bigrams_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (doc_id, w1, w2) adjacent-token stream — referenced by
    both the model build and the per-doc scoring stream."""

    def build():
        d = (
            spark.table("documents")
            .select("doc_id", F.split("text", " ").alias("toks"))
            .where(F.size("toks") >= 2)
        )
        return d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[CAST(i - 1 AS INT)] AS w1,"
                    " toks[CAST(i AS INT)] AS w2))"
                )
            ).alias("b"),
        ).select("doc_id", "b.w1", "b.w2")

    return stage(spark, (session_token(spark), sf_dir, "bigrams"), build)


@register(
    "bigram_lm_score",
    "WITH "
    + _TOKENS_SQL_DUCK.strip().lstrip()
    + f"""
, bg AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, w AS w1,
           lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tokens
  ) WHERE w2 IS NOT NULL
)
, c2 AS (SELECT w1, w2, COUNT(*) AS k2 FROM bg GROUP BY 1, 2)
, c1 AS (SELECT w1, CAST(SUM(k2) AS BIGINT) AS k1 FROM c2 GROUP BY 1)
, kd AS (SELECT doc_id, w1, w2, COUNT(*) AS kd FROM bg GROUP BY 1, 2, 3)
SELECT doc_id,
       CAST(SUM(kd) AS BIGINT) AS n_bigrams,
       CAST(SUM(kd * {_BG_PPM_SQL}) AS BIGINT) AS lm_ppm
FROM kd
JOIN c2 USING (w1, w2)
JOIN c1 USING (w1)
GROUP BY doc_id
""",
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    bg = _bigrams_df(spark, sf_dir)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("k2"))
    c1 = c2.groupBy("w1").agg(F.sum("k2").cast("long").alias("k1"))
    kd = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("kd")
    )
    return (
        kd.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.sum("kd").cast("long").alias("n_bigrams"),
            F.sum(F.col("kd") * F.expr(_BG_PPM_SQL))
            .cast("long")
            .alias("lm_ppm"),
        )
    )


# ----------------------------------------------------------------------
# weighted_quantiles: exact WEIGHTED median / p90 of document length
# per language, weighted by the whitespace word count — the curriculum
# statistic "the token-weighted typical document" (a plain median
# over-represents short docs; training cost is token-weighted). The
# weighted q-quantile is the smallest value v with cum_weight(v) >=
# q * total, kept exact by clearing the fraction: 2*cum >= total
# (median) and 10*cum >= 9*total (p90) — no floats anywhere.
#
# Scale shape: doc rows contract immediately to the (lang, n_chars)
# VALUE GRID via one partial/final agg (bounded by distinct lengths,
# not corpus size), then a per-lang prefix-sum window over that grid.
# The oracle formulates the same thresholds over DuckDB windows — same
# fraction-cleared comparisons, independently derived plan.

_WQ_W_SQL = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"

_WQ_ORACLE = f"""
WITH d AS (
  SELECT lang, n_chars AS v, {_WQ_W_SQL} AS w FROM documents
), g AS (
  SELECT lang, v, SUM(w) AS w FROM d GROUP BY 1, 2
), c AS (
  SELECT lang, v, w,
         SUM(w) OVER (PARTITION BY lang ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY lang) AS total
  FROM g
)
SELECT lang,
       CAST(MAX(total) AS BIGINT) AS total_w,
       CAST(MIN(CASE WHEN 2 * cum >= total THEN v END) AS BIGINT)
         AS median_v,
       CAST(MIN(CASE WHEN 10 * cum >= 9 * total THEN v END) AS BIGINT)
         AS p90_v
FROM c GROUP BY lang
"""


@register("weighted_quantiles", _WQ_ORACLE)
def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    d = spark.table("documents").select(
        "lang",
        F.col("n_chars").alias("v"),
        F.expr(_WQ_W_SQL).alias("w"),
    )
    g = d.groupBy("lang", "v").agg(F.sum("w").alias("w"))
    wl = Wnd.partitionBy("lang")
    c = g.select(
        "lang",
        "v",
        F.sum("w")
        .over(wl.orderBy("v").rowsBetween(Wnd.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("w").over(wl).alias("total"),
    )
    return c.groupBy("lang").agg(
        F.max("total").cast("long").alias("total_w"),
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("v")))
        .cast("long")
        .alias("median_v"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("total"), F.col("v")))
        .cast("long")
        .alias("p90_v"),
    )
